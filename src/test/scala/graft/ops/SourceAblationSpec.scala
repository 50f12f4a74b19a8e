package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** C124 semantics on planted sources: ablating the signal-carrying
  * source must cost AUC (positive delta), ablating a label-inverted
  * "poison" source must help or at least not hurt (delta below the
  * neutral source's), and the bookkeeping columns must be exact.
  */
class SourceAblationSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val Dim = 32

  // ids 1..300: label by parity; source mix 40% signal / 40% neutral
  // noise / 20% label-INVERTED poison
  private def corpus = (1 to 300).map { i =>
    val y = if (i % 2 == 0) 1 else -1
    val src = (i % 5) match {
      case 0 | 1 => "sig"
      case 2 | 3 => "noise"
      case _ => "poison"
    }
    val text = src match {
      case "sig" => if (y == 1) "aye aye good crew" else "nay nay bad motion"
      case "noise" => s"blah blub filler tok${i % 11}"
      case "poison" => if (y == 1) "nay nay bad motion" else "aye aye good crew"
    }
    (i.toLong, text, src, y)
  }

  test("signal source carries positive delta; poison sits below noise") {
    val docs = corpus.toDF("doc_id", "text", "source", "y")
    val labels = docs.select(col("doc_id"), col("y"))
    val got = SourceAblation.aucDeltas(docs, col("doc_id"), col("text"),
        col("source"), labels, Dim, epochs = 3,
        ablate = Seq("sig", "noise", "poison"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val (_, _, baseSig, deltaSig) = got("sig")
    val (_, _, baseNoise, deltaNoise) = got("noise")
    val (_, _, basePoison, deltaPoison) = got("poison")
    // one shared baseline
    assert(baseSig == baseNoise && baseNoise == basePoison)
    // removing the signal costs ranking quality
    assert(deltaSig > 0, s"sig delta $deltaSig must be positive")
    // removing the inverted source cannot cost more than removing the
    // neutral one — and must never look like the signal
    assert(deltaPoison <= deltaNoise,
      s"poison $deltaPoison must not exceed noise $deltaNoise")
    assert(deltaSig > deltaPoison)
    // n_removed = per-source TRAIN rows (eval split excluded)
    val trainCounts = corpus
      .filter { case (id, _, _, _) =>
        // same md5-60 split the operator uses
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"ablsplit:$id").take(15), 16)
        h % 4L != 0L
      }
      .groupBy(_._3).map { case (s, rows) => s -> rows.size.toLong }
    assert(got("sig")._1 == trainCounts("sig"))
    assert(got("noise")._1 == trainCounts("noise"))
    assert(got("poison")._1 == trainCounts("poison"))
  }

  test("a degenerate eval split throws and leaves no cached blocks or plans") {
    graft.util.PlanCache.clear(spark)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val plansBefore = org.apache.spark.sql.CacheProbe.cachedPlans(spark)
    val docs = corpus.toDF("doc_id", "text", "source", "y")
    // single-class labels: every held-out AUC is undefined
    val labels = docs.select(col("doc_id"), lit(1).as("y"))
    val err = intercept[Exception] {
      SourceAblation.aucDeltas(docs, col("doc_id"), col("text"),
        col("source"), labels, Dim, epochs = 2, ablate = Seq("sig"))
    }
    assert(err.getMessage.contains("degenerate eval split"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore)
    assert(org.apache.spark.sql.CacheProbe.cachedPlans(spark) == plansBefore)
  }
}
