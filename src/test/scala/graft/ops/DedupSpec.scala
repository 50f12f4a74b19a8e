package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DedupSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val baseDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different text about spark dataframes and catalyst optimizer rules"),
    (5L, "another unrelated document mentioning large scale distributed data processing"))

  private lazy val docs = baseDocs.toDF("doc_id", "text")

  test("exact dedup keeps min id per distinct content") {
    val r = Dedup.exact(docs, col("doc_id"), col("text"))
      .orderBy("keep_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    assert(Dedup.exactRows(docs, col("doc_id"), col("text")).count() == 4)
  }

  test("minhash LSH surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minHashLsh(docs, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash jaccard of exact duplicates is 1.0") {
    val j = Dedup.minHashLsh(docs, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").first().getDouble(0)
    assert(j == 1.0)
  }

  test("ngram jaccard computes exact overlap within blocks") {
    val blocked = docs.withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccard(blocked, col("doc_id"), col("text"),
        blockBy = col("blk"), shingleK = 3, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc3 differs only in the final token: 12 shingles each, the one
    // containing the last token differs -> J = 11 / 13
    assert(math.abs(pairs((1L, 3L)) - 11.0 / 13.0) < 1e-12)
    assert(!pairs.contains((1L, 4L)) || pairs((1L, 4L)) == 0.0)
  }

  test("simhash finds near-dup pairs within hamming budget") {
    val pairs = Dedup.simHash(docs, col("doc_id"), col("text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical => hamming 0
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(4L, 5L) })
  }

  test("portable md5 minhash surfaces the same planted duplicates") {
    val pairs = Dedup.minHashLshMd5(docs, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("banding auto-tune: S-curve crosses 0.5 within +-0.05 of every target") {
    for (t <- Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)) {
      val (b, r) = Dedup.tuneBanding(16, t)
      val s50 = Dedup.bandingCrossover(b, r)
      assert(math.abs(s50 - t) <= 0.05, s"target $t got ($b,$r) crossing at $s50")
      assert(b * r <= 16)
      // the curve really crosses 0.5 there: just below the crossover
      // the candidate probability is < 0.5, just above it is > 0.5
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      assert(p(s50 - 0.02) < 0.5 && p(s50 + 0.02) > 0.5)
    }
  }

  test("auto-tuned minhash still surfaces planted duplicates") {
    val pairs = Dedup.minHashLshAuto(docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("portable md5 simhash: identical docs at hamming 0, unrelated docs apart") {
    val rows = Dedup.simHashMd5(docs, col("doc_id"), col("text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!rows.exists(p => Set(p._1, p._2) == Set(4L, 5L)))
  }

  test("simhash signature is deterministic and 0-hamming for identical text") {
    val sigs = Dedup.simHashSignatures(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("embedding cosine dedup respects blocking and threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1) // same dir as 1 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosine(vecs, col("vec_id"), col("embedding"),
        blockBy = col("label"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 1-3 orthogonal; 1-4 cross-block
  }

  test("normalized exact dedup merges punctuation/case/spacing variants, counts raw bodies") {
    val variants = Seq(
      (1L, "Hello, World! This is   a Test."),
      (2L, "hello world this is a test"),      // same canonical form as 1
      (3L, "HELLO WORLD — this is a test"),    // same canonical form (dash strips)
      (4L, "hello world this is a test"),      // raw dup of 2
      (5L, "an entirely different document")).toDF("doc_id", "text")
    val r = Dedup.normalizedExact(variants, col("doc_id"), col("text"))
      .orderBy("keep_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // group {1,2,3,4}: 4 copies, 3 distinct raw bodies (2 and 4 share one)
    assert(r.toSeq == Seq((1L, 4L, 3L), (5L, 1L, 1L)))
  }

  test("normalized form strips punctuation, collapses whitespace, lowercases") {
    val got = Seq(("A  B,, c!  ")).toDF("t")
      .select(Dedup.normalizedForm(col("t"))).head().getString(0)
    assert(got == "a b c")
  }

  test("containment flags a snippet inside a larger doc that Jaccard misses") {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val snippet = (1 to 12).map(i => s"tok$i").mkString(" ") // contained prefix
    val corpus = Seq(
      (1L, big),
      (2L, snippet),
      (3L, "wholly unrelated words about spark catalyst execution planning")
    ).toDF("doc_id", "text")
    val rows = Dedup.containment(corpus, col("doc_id"), col("text"),
        shingleK = 3, maxDf = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0))) // snippet fully contained
    // the same pair is far below any Jaccard threshold: 10 shared of 58 union
    val jac = Dedup.ngramJaccard(corpus, col("doc_id"), col("text"),
        blockBy = lit(1), shingleK = 3, threshold = 0.5)
      .filter(col("id_a") === 1L && col("id_b") === 2L).count()
    assert(jac == 0L)
  }

  test("containment candidates are df-bounded: boilerplate-only overlap never pairs") {
    // two docs share ONLY a shingle that appears in many docs (df > maxDf)
    val common = "the quick brown"
    val docsDf = (1L to 8L).map(i => (i, s"$common filler$i ending$i words$i here$i"))
      .toDF("doc_id", "text")
    val rows = Dedup.containment(docsDf, col("doc_id"), col("text"),
        shingleK = 3, maxDf = 5, threshold = 0.01)
    assert(rows.count() == 0L)
  }

  test("containment rejects maxDf < 2 instead of returning no pairs") {
    val docsDf = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Dedup.containment(docsDf, col("doc_id"), col("text"), shingleK = 3, maxDf = 1))
  }
}
