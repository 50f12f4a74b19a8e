package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Specs for the second round-8 operator batch: prefix-filtered exact
  * set-similarity join, dup-graph triangle diagnostics, reciprocal-
  * rank fusion, k-anonymity audit, stratified k-fold.
  */
class Round8bOpsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // ------------------------------------------------------ SetSimJoin

  /** Brute-force exact Jaccard over ALL pairs — the completeness
    * reference the prefix filter must never fall short of.
    */
  private def allPairsJaccard(docs: Seq[(Long, String)], tau: Double): Set[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val sets = docs.map { case (i, t) => i -> shingles(t) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= tau
    } yield (ia, ib)).toSet
  }

  private val setSimDocs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy dog today", // exact dup of 1
    3L -> "the quick brown fox jumps over the lazy dog", // 1 minus last token
    4L -> "a completely different document about spark physical plans",
    5L -> "a completely different document about spark logical plans", // near 4
    6L -> "short text here",
    7L -> "unrelated content entirely disjoint from everything else written")

  test("jaccardJoin finds exactly the brute-force pair set (100% recall)") {
    for (tauMilli <- Seq(500, 700, 900)) {
      val got = SetSimJoin.jaccardJoin(setSimDocs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), shingleK = 3, tauMilli = tauMilli)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = allPairsJaccard(setSimDocs, tauMilli / 1000.0)
      assert(got == want, s"tau=$tauMilli")
    }
  }

  test("jaccardJoin emits exact counts and a correct rounded jaccard") {
    val rows = SetSimJoin.jaccardJoin(setSimDocs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), tauMilli = 700)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // docs 1 and 2 identical: 8 shingles each, all common
    assert(rows((1L, 2L)) == ((8L, 8L, 8L, 1.0)))
    // doc 3 = doc 1 minus last token: 7 of 8 shingles shared
    assert(rows((1L, 3L)) == ((7L, 8L, 7L, 0.875)))
    assert(rows((2L, 3L)) == ((7L, 8L, 7L, 0.875)))
  }

  test("prefixCandidates is a superset of the verified pairs") {
    val cands = SetSimJoin.prefixCandidates(setSimDocs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), tauMilli = 700)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = SetSimJoin.jaccardJoin(setSimDocs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), tauMilli = 700)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cands))
    // ...and strictly prunes the all-pairs space on this fixture
    assert(cands.size < setSimDocs.size * (setSimDocs.size - 1) / 2)
  }

  // --------------------------------------------------- TriangleCount

  private def stats(edges: Seq[(Long, Long)]) =
    TriangleCount.nodeStats(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

  test("nodeStats on a 4-clique: every node in 3 triangles, clustering 1") {
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got = stats(clique)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    got.values.foreach { case (d, t, c) => assert(d == 3L && t == 3L && c == 1.0) }
  }

  test("nodeStats on a path and a star: zero triangles, clustering 0") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    stats(path).values.foreach { case (_, t, c) => assert(t == 0L && c == 0.0) }
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L))
    val s = stats(star)
    assert(s(10L) == ((4L, 0L, 0.0)))
    assert(s(1L) == ((1L, 0L, 0.0)))
  }

  test("nodeStats: triangle with a pendant edge, fractional clustering") {
    // triangle 1-2-3 plus pendant 3-4: node 3 has degree 3, one
    // triangle of its 3 wedges -> clustering 2*1/(3*2) = 0.3333
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = stats(g)
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.3333)))
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("nodeStats canonicalizes raw pair streams (dupes, reversed, loops)") {
    val raw = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (5L, 5L))
    val got = stats(raw)
    assert(got.keySet == Set(1L, 2L, 3L)) // self-loop dropped
    got.values.foreach { case (d, t, _) => assert(d == 2L && t == 1L) }
  }

  test("globalStats on the 4-clique") {
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = TriangleCount.globalStats(clique.toDF("src", "dst")).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 1.0)
  }

  test("anchorEdges rejects maxDf < 2 instead of returning no edges") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      TriangleCount.anchorEdges(docs, col("doc_id"), col("text"), shingleK = 3, maxDf = 1))
  }

  // ------------------------------------------------------ RankFusion

  test("fuse: doc in both lists outranks docs in one list at the same ranks") {
    val lex = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 100L, 2L), (1L, 102L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = RankFusion.fuse(lex, dense, k0 = 60, topK = 10)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 100: 1e9/61 + 1e9/62 = 16393442 + 16129032 = 32522474
    assert(got.head == ((100L, 1L, 2L, 16393442L + 16129032L, 1L)))
    // docs 101/102 each have one rank; 102 (dense rank 1) > 101 (lex rank 2)
    assert(got(1) == ((102L, 0L, 1L, 16393442L, 2L)))
    assert(got(2) == ((101L, 2L, 0L, 16129032L, 3L)))
  }

  test("fuse: per-query topK bound and per-query independence") {
    val lex = (1 to 30).map(i => (7L, i.toLong, i.toLong))
      .toDF("query_id", "doc_id", "rank")
    val dense = (1 to 30).map(i => (8L, i.toLong, i.toLong))
      .toDF("query_id", "doc_id", "rank")
    val got = RankFusion.fuse(lex, dense, topK = 5)
    assert(got.count() == 10)
    assert(got.groupBy(col("query_id")).count().collect().forall(_.getLong(1) == 5L))
  }

  // --------------------------------------------------------- Privacy

  private val anonRows = Seq(
    ("en", 1L, "web"), ("en", 1L, "web"), ("en", 1L, "books"),
    ("en", 2L, "web"),
    ("de", 1L, "web"), ("de", 1L, "web"), ("de", 1L, "web"))

  test("kAnonymity: class sizes, l-diversity counts, at-risk flags") {
    val df = anonRows.toDF("lang", "bucket", "source")
    val got = Privacy.kAnonymity(df,
        Seq("lang" -> col("lang"), "bucket" -> col("bucket")), col("source"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got(("en", 1L)) == ((3L, 2L, 0))) // size 3, sources {web, books}
    assert(got(("en", 2L)) == ((1L, 1L, 1))) // singleton -> at risk
    assert(got(("de", 1L)) == ((3L, 1L, 0)))
  }

  test("kAnonymitySummary: risk rollup and effective k") {
    val df = anonRows.toDF("lang", "bucket", "source")
    val r = Privacy.kAnonymitySummary(df,
      Seq("lang" -> col("lang"), "bucket" -> col("bucket")), col("source"), k = 3)
      .collect().head
    assert(r.getLong(0) == 3L) // classes
    assert(r.getLong(1) == 1L) // at-risk classes
    assert(r.getLong(2) == 1L) // at-risk rows
    assert(r.getLong(3) == 1L) // effective k = smallest class
  }

  // ---------------------------------------------------------- Splits

  test("stratifiedKFold: folds exactly balanced within every stratum") {
    val docs = ((1 to 103).map(i => (i.toLong, "a")) ++
      (200 to 206).map(i => (i.toLong, "b"))).toDF("id", "stratum")
    val got = Splits.stratifiedKFold(docs, col("id"), col("stratum"), k = 5)
    assert(got.count() == 110)
    val sizes = got.groupBy(col("stratum"), col("fold")).count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // stratum a: 103 rows over 5 folds -> sizes 21/21/21/20/20
    val aSizes = (0 until 5).map(f => sizes.getOrElse(("a", f), 0L))
    assert(aSizes.sum == 103L && aSizes.max - aSizes.min <= 1)
    val bSizes = (0 until 5).map(f => sizes.getOrElse(("b", f), 0L))
    assert(bSizes.sum == 7L && bSizes.max - bSizes.min <= 1)
  }

  test("stratifiedKFold equals the naive per-stratum window formulation") {
    val docs = (1 to 500).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "stratum")
    val got = Splits.stratifiedKFold(docs, col("id"), col("stratum"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val naive = docs
      .withColumn("hkey", Dedup.md5Hash60(concat(lit("kfold:"), col("id").cast("string"))))
      .withColumn("fold",
        ((row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("stratum")).orderBy(col("hkey"), col("id"))) - 1) % 4).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("fold")).toMap
    assert(got == naive)
  }

  test("stratifiedKFold is deterministic and seed-sensitive") {
    val docs = (1 to 100).map(i => (i.toLong, "x")).toDF("id", "stratum")
    def run(seed: String) =
      Splits.stratifiedKFold(docs, col("id"), col("stratum"), k = 3, seed = seed)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(run("kfold") == run("kfold"))
    assert(run("kfold") != run("other"))
  }
}
