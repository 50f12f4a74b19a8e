package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The posting-list core: `anchorPairs` against the persisted
  * self-join form it replaced, `anchorEdges` against brute force, and
  * a source tripwire keeping the shingle-hash kernel in one place.
  */
class PostingsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** The self-join form the operators ran before `anchorPairs`: df
    * filter, join back, join the anchored postings with themselves.
    */
  private def selfJoinPairs(postings: DataFrame, maxDf: Int): DataFrame = {
    val rare = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val anchored = postings.join(rare, "h")
    anchored.select(col("h"), col("doc_id").as("id_a"))
      .join(anchored.select(col("h"), col("doc_id").as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Unique (doc_id, h) postings over `nDocs` docs; every df in
    * `plantedDfs` is planted on some hash, the rest are random in
    * [1, maxDf + 3].
    */
  private def corpus(seed: Long, nDocs: Int, maxDf: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val plantedDfs = Seq(1, 2, maxDf, maxDf + 1)
    (0 until 60).flatMap { h =>
      val df = if (h < plantedDfs.size) plantedDfs(h) else 1 + rnd.nextInt(maxDf + 3)
      rnd.shuffle((1 to nDocs).toVector).take(df).map(d => (d.toLong * 7 + seed, h * 1000L + seed))
    }
  }

  test("anchorPairs equals the self-join form on seeded corpora, at 1 and 7 partitions") {
    for (seed <- 1L to 4L; maxDf <- Seq(2, 3, 6)) {
      val rows = corpus(seed, nDocs = 25, maxDf = maxDf)
      val dfs = rows.groupBy(_._2).values.map(_.size).toSet
      assert(Set(1, 2, maxDf, maxDf + 1).subsetOf(dfs))
      val postings = rows.toDF("doc_id", "h")
      val want = pairs(selfJoinPairs(postings, maxDf))
      assert(want.nonEmpty)
      for (n <- Seq(1, 7)) {
        val got = pairs(Postings.anchorPairs(postings.repartition(n), maxDf))
        assert(got == want, s"seed=$seed maxDf=$maxDf partitions=$n")
      }
    }
  }

  // ----------------------------------------------- TriangleCount.anchorEdges

  /** Brute-force rare-shingle edges: distinct (a < b) sharing a word
    * 3-shingle whose document frequency is in [2, maxDf].
    */
  private def bruteEdges(docs: Seq[(Long, String)], maxDf: Int): Set[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    docs.flatMap { case (d, t) => shingles(t).map(_ -> d) }
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
      .filter(ds => ds.size >= 2 && ds.size <= maxDf)
      .flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b))
      .toSet
  }

  test("anchorEdges equals brute-force rare-shingle edges, at 1 and 7 partitions") {
    val rnd = new Random(7)
    val vocab = (1 to 12).map(i => s"w$i")
    val docs = (1L to 30L).map(d => d -> Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    for (maxDf <- Seq(2, 4, 10)) {
      val want = bruteEdges(docs, maxDf)
      assert(want.nonEmpty)
      for (n <- Seq(1, 7)) {
        val got = TriangleCount.anchorEdges(docs.toDF("doc_id", "text").repartition(n),
            col("doc_id"), col("text"), shingleK = 3, maxDf = maxDf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got.size == got.distinct.size, "edges are distinct")
        assert(got.toSet == want, s"maxDf=$maxDf partitions=$n")
      }
    }
  }

  // ------------------------------------------------------------ tripwire

  /** `file:line` of every `md5Hash60` applied to `wordShingles` under
    * `dir`, outside Postings.scala.
    */
  private val shingleHash =
    """wordShingles\([^()]*\)\s*,\s*(?:\w+\s*=>\s*)?(?:Dedup\.)?md5Hash60""".r

  private def scan(dir: Path): Seq[String] =
    Files.walk(dir).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Postings.scala")
      .toSeq.flatMap { f =>
        val src = Files.readString(f)
        shingleHash.findAllMatchIn(src).map(m => s"$f:${src.take(m.start).count(_ == '\n') + 1}")
      }

  test("ops/queries/streaming hash word shingles only through Postings.hashes") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), "run from the repo root")
    val dirs = Seq("ops", "queries", "streaming").map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"missing layer $d"))
    val hits = dirs.flatMap(scan)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("positive control: a hand-written shingle-hash builder is reported") {
    val dir = Files.createTempDirectory("tripwire")
    try {
      val f = dir.resolve("Builder.scala")
      Files.write(f, Seq("object Builder {", "  val hs = transform(",
        "    TextAnalysis.wordShingles(text, k),", "    sh => Dedup.md5Hash60(sh))", "}").asJava)
      Files.write(dir.resolve("Postings.scala"),
        Seq("  transform(TextAnalysis.wordShingles(text, k), Dedup.md5Hash60(_))").asJava)
      assert(scan(dir) == Seq(s"$f:3"))
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
