package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Maximal Marginal Relevance selection (Carbonell & Goldstein '98):
  * pick k items that are RELEVANT to a query but not redundant with
  * each other — score(v) = λ·rel(v) − (1−λ)·max_{s∈selected}
  * sim(v, s). The relevance-aware sibling of C121 k-center (pure
  * spread, no query) and C6 top-k (pure relevance, no diversity):
  * retrieval diversification, diverse few-shot/eval-set picking,
  * dedup of a candidate pool against itself while honoring a score.
  *
  * Determinism: vectors L2-normalize (IEEE exactly-rounded ops) then
  * quantize to floor(u·1e4) ints; rel and sim are exact int64 dot
  * products in that domain (~1e8 scale), the MMR score is integer
  * milli-weighted (λ_milli·rel − (1000−λ_milli)·maxSim ≲ 1e11);
  * ties break to the smallest id. Bit-identical to the unrolled-CTE
  * twin.
  *
  * Scale shape (the C121 pattern): the corpus normalizes/quantizes
  * once and persists; each of the k rounds is ONE distributed job —
  * a per-partition argmax combiner against the ≤k selected vectors
  * riding as a closure literal, one candidate row per partition,
  * driver reduces ≤P rows. No vector shuffle, driver state k·dim.
  */
object Mmr {

  /** Select k rows by MMR against the single-row `query` (column
    * `qv`). Returns (sel_rank, vec_id, rel_q, mmr_q): rel_q = the
    * integer unit-dot relevance (~1e8 = cos 1.0), mmr_q = the
    * integer milli-weighted MMR score at selection time (rank 1
    * scores λ·rel by convention — its redundancy term is empty).
    */
  def select(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      query: DataFrame,
      k: Int,
      lambdaMilli: Int = 700): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000, "lambdaMilli in [0,1000]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val lam = lambdaMilli.toLong
    // codegen'd unit-quantization (parity-spec'd against the
    // l2Normalize+floor composition): the corpus-wide pass was ~20 of
    // the 28 s at sf10 when it ran as two interpreted HOFs
    def unitQ(c: Column): Column = graft.plans.UnitQuantExpr.unitQuant(c)

    val qRows = query.select(unitQ(col("qv"))).head(2)
    require(qRows.length == 1, s"Mmr.select expects exactly one query row, got ${qRows.length}")
    val qv = qRows(0).getSeq[Long](0).toArray

    PlanCache.scoped(corpus
      .select(id.cast("bigint").as("vid"), unitQ(vec).as("uv"))) { q =>
      def dot(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }

      // (vid, rel, uv, score-at-selection)
      val sel = ArrayBuffer.empty[(Long, Long, Array[Long], Long)]
      for (_ <- 1 to k) {
        val chosen = sel.map(_._3).toArray
        val selectedIds = sel.map(_._1).toSet
        val perPart = q.as[(Long, Array[Long])].mapPartitions { rows =>
          var bVid = Long.MaxValue
          var bScore = Long.MinValue
          var bRel = 0L
          var bUv: Array[Long] = null
          rows.foreach { case (vid, uv) =>
            if (!selectedIds.contains(vid)) {
              val rel = dot(uv, qv)
              var maxSim = 0L
              var first = true
              var c = 0
              while (c < chosen.length) {
                val s = dot(uv, chosen(c))
                if (first || s > maxSim) { maxSim = s; first = false }
                c += 1
              }
              val score = if (chosen.isEmpty) lam * rel
                else lam * rel - (1000L - lam) * maxSim
              if (score > bScore || (score == bScore && vid < bVid)) {
                bScore = score; bVid = vid; bRel = rel; bUv = uv
              }
            }
          }
          if (bUv != null) Iterator.single((bVid, bRel, bUv, bScore)) else Iterator.empty
        }.collect()
        require(perPart.nonEmpty, s"k=$k exceeds the corpus size")
        sel += perPart.minBy { case (vid, _, _, score) => (-score, vid) }
      }

      sel.zipWithIndex
        .map { case ((vid, rel, _, score), i) => (i + 1L, vid, rel, score) }
        .toSeq.toDF("sel_rank", "vec_id", "rel_q", "mmr_q")
        .orderBy(col("sel_rank"))
    }
  }

  /** The scale path: restrict the MMR loop to the `candN` most
    * RELEVANT candidates first (one corpus pass, bounded TopKAgg —
    * the shuffle carries ≤ candN pairs per task), then run the exact
    * k-round loop on that candN-row subset. This is how MMR deploys
    * everywhere at scale (rerank a retrieval shortlist, never the
    * corpus): each round's scan drops from |corpus| to candN. The
    * approximation surface is explicit — an item OUTSIDE the top
    * candN by relevance can never be picked even if maximally
    * diverse; with λ ≥ 0.5 and candN ≫ k the exact and prefiltered
    * picks coincide in practice (spec-pinned equal on the fixture
    * when candN covers the corpus).
    */
  def selectPrefiltered(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      query: DataFrame,
      k: Int,
      lambdaMilli: Int = 700,
      candN: Int = 1024): DataFrame = {
    require(candN >= k, "candN must be >= k")
    val spark = corpus.sparkSession
    val qRows = query.select(col("qv").cast("array<double>")).head(2)
    require(qRows.length == 1,
      s"selectPrefiltered expects exactly one query row, got ${qRows.length}")
    def unitQ(c: Column): Column = graft.plans.UnitQuantExpr.unitQuant(c)
    // shortlist by quantized-unit DISTANCE to the query (both the
    // quantization and the distance are codegen kernels — an
    // interpreted HOF pass here would rebuild the q_top_ngrams wall
    // corpus-wide); for unit vectors distance order is cosine order
    // up to the 1e-4 quantization, and the twin mirrors the same
    // integer order exactly. The query quantizes through the SAME
    // expression chain the per-row side uses.
    val qUnit: Seq[Long] =
      query.select(unitQ(col("qv")).as("u")).head(1)(0).getSeq[Long](0)
    val dist = graft.plans.SqDistLongExpr.sqDist(unitQ(vec), typedLit(qUnit))
    val shortlist = corpus
      .select(id.cast("bigint").as("__vid"), dist.as("__d"))
      .agg(graft.plans.TopKAgg.topK(-col("__d"), col("__vid"), candN).as("top"))
      .select(explode(col("top")).as("p"))
      .select(col("p.id").as("__vid"))
    val candidates = corpus.join(
      broadcast(shortlist), id.cast("bigint") === col("__vid"), "left_semi")
    select(candidates, id, vec, query, k, lambdaMilli)
  }

  /** DuckDB twin of [[selectPrefiltered]]: the same top-candN
    * relevance shortlist CTE prepended to the unrolled rounds.
    */
  def selectPrefilteredSql(
      k: Int,
      lambdaMilli: Int = 700,
      candN: Int = 1024,
      dim: Int = 64): String = {
    val base = selectSql(k, lambdaMilli, dim)
    // splice a shortlist filter between the corpus CTE and the rounds
    base.replace(
      "mrel AS MATERIALIZED (SELECT c.vid, c.uv,",
      s"""msl AS MATERIALIZED (SELECT vid FROM (
         |  SELECT c.vid, list_aggregate(list_transform(range(1, ${dim + 1}),
         |    i -> (c.uv[i] - r.qv[i]) * (c.uv[i] - r.qv[i])), 'sum') AS dq
         |  FROM mcp c, mqr r) ORDER BY dq, vid LIMIT $candN),
         |mrel AS MATERIALIZED (SELECT c.vid, c.uv,""".stripMargin)
      .replace("FROM mcp c, mqr r),",
        "FROM mcp c JOIN msl USING (vid), mqr r),")
  }

  /** DuckDB twin over `embeddings` (query = vec_id 0, corpus the
    * rest), unrolled to k MATERIALIZED rounds.
    */
  def selectSql(k: Int, lambdaMilli: Int = 700, dim: Int = 64): String = {
    val lam = lambdaMilli
    // zero-norm guard mirrors UnitQuantExpr: Spark's kernel maps an
    // all-zero vector to zeros (NaN.toLong == 0) but DuckDB's
    // CAST(NaN AS BIGINT) errors, so the twin short-circuits norm=0
    def unitQ(v: String) =
      s"""list_transform($v, x ->
         |      CAST(CASE WHEN list_aggregate(list_transform($v, y -> y * y), 'sum') = 0
         |           THEN 0
         |           ELSE floor(x / sqrt(list_aggregate(list_transform($v, y -> y * y), 'sum'))
         |                * 10000) END AS BIGINT))""".stripMargin
    def dot(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> $a[i]*$b[i]), 'sum')"
    val sb = new StringBuilder
    sb.append(
      s"""WITH mqr AS (SELECT ${unitQ("CAST(embedding AS DOUBLE[])")} AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |mcp AS (SELECT vec_id AS vid, ${unitQ("CAST(embedding AS DOUBLE[])")} AS uv
         |  FROM embeddings WHERE vec_id <> 0),
         |mrel AS MATERIALIZED (SELECT c.vid, c.uv, CAST(${dot("c.uv", "r.qv")} AS BIGINT) AS rel
         |  FROM mcp c, mqr r),
         |ms1 AS MATERIALIZED (SELECT 1 AS rk, vid, rel, uv,
         |    CAST($lam * rel AS BIGINT) AS score
         |  FROM mrel ORDER BY score DESC, vid LIMIT 1),
         |""".stripMargin)
    for (j <- 2 to k) {
      val selPrev = (1 until j).map(i => s"SELECT rk, vid, rel, uv, score FROM ms$i")
        .mkString(" UNION ALL ")
      sb.append(
        s"""md$j AS MATERIALIZED (SELECT m.vid, m.rel, m.uv,
           |    max(${dot("m.uv", "s.uv")}) AS msim
           |  FROM mrel m, ($selPrev) s
           |  WHERE m.vid NOT IN (SELECT vid FROM ($selPrev))
           |  GROUP BY m.vid, m.rel, m.uv),
           |ms$j AS MATERIALIZED (SELECT $j AS rk, vid, rel, uv,
           |    CAST($lam * rel - ${1000 - lam} * msim AS BIGINT) AS score
           |  FROM md$j ORDER BY score DESC, vid LIMIT 1),
           |""".stripMargin)
    }
    val selAll = (1 to k).map(i => s"SELECT rk, vid, rel, score FROM ms$i")
      .mkString(" UNION ALL ")
    sb.append(
      s"""msel AS ($selAll)
         |SELECT CAST(rk AS BIGINT) AS sel_rank, vid AS vec_id,
         |  rel AS rel_q, score AS mmr_q
         |FROM msel ORDER BY sel_rank""".stripMargin)
    sb.toString
  }
}
