package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Greedy k-center coreset selection (Gonzalez farthest-point
  * traversal) — the diverse-subset selector a training-data pipeline
  * uses to pick k maximally-spread exemplars from an embedding
  * column: dedup anchors, seed centroids for C7b, or a coverage
  * probe ("how far is the farthest document from its nearest
  * exemplar"). The greedy traversal is a 2-approximation of the
  * optimal k-center cover — the standard guarantee.
  *
  * Determinism: embeddings quantize to floor(x·scale) integers (the
  * C7b device); every distance is an exact int64 squared L2; each
  * round picks the point with the LARGEST min-distance to the
  * selected set, ties broken by smallest vec_id; already-selected
  * ids are excluded so duplicate vectors cannot stall the
  * traversal. The result is bit-identical to the unrolled-CTE twin.
  *
  * Scale shape: the corpus quantizes once and persists; each of the
  * k-1 rounds is ONE distributed job — a narrow per-partition
  * farthest-point combiner against the ≤k selected centers riding as
  * a closure literal (k·dim longs), emitting one candidate per
  * partition; the driver reduces ≤P candidates. The final coverage
  * pass is one more narrow argmin job collapsing to k counts. Total
  * O(k²·n/P) work, no shuffle of vectors, driver state bounded by
  * k·dim — survives any corpus the executors can scan.
  */
object KCenter {

  /** Select k centers; report each with its selection-time distance
    * and its final assignment count.
    *
    * @return k rows (sel_rank, vec_id, dist_sq, n_assigned): rank in
    *         selection order (1 = seed = smallest vec_id, dist_sq 0
    *         by convention), dist_sq = squared quantized L2 to the
    *         previously-selected set at selection time (the coverage
    *         radius of the first j-1 centers), n_assigned = corpus
    *         points whose nearest center (ties → earliest rank) is
    *         this one
    */
  def select(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      scale: Long = 1000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    PlanCache.scoped(corpus
      .select(id.cast("bigint").as("vid"), IvfIndex.quantized(vec, scale).as("qv"))) { q =>
      val seed = q.orderBy(col("vid")).limit(1)
        .as[(Long, Seq[Long])].collect()(0)
      val sel = ArrayBuffer[(Long, Long, Array[Long])]((seed._1, 0L, seed._2.toArray))

      for (_ <- 2 to k) {
        val cents = sel.map(_._3).toArray
        val selected = sel.map(_._1).toSet
        val perPart = q.as[(Long, Array[Long])].mapPartitions { rows =>
          var bVid = Long.MaxValue
          var bD = -1L
          var bQv: Array[Long] = null
          rows.foreach { case (vid, arr) =>
            if (!selected.contains(vid)) {
              var md = Long.MaxValue
              var c = 0
              while (c < cents.length) {
                val cent = cents(c)
                var acc = 0L
                var d = 0
                while (d < arr.length) { val df = arr(d) - cent(d); acc += df * df; d += 1 }
                if (acc < md) md = acc
                c += 1
              }
              if (md > bD || (md == bD && vid < bVid)) { bD = md; bVid = vid; bQv = arr }
            }
          }
          if (bQv != null) Iterator.single((bVid, bD, bQv)) else Iterator.empty
        }.collect()
        require(perPart.nonEmpty, s"k=$k exceeds the corpus size")
        val best = perPart.minBy { case (vid, d, _) => (-d, vid) }
        sel += best
      }

      // coverage pass: nearest selected center per point (ties ->
      // earliest rank), collapsed to k counts per partition
      val cents = sel.map(_._3).toArray
      val counts = q.as[(Long, Array[Long])].mapPartitions { rows =>
        val n = Array.ofDim[Long](cents.length)
        rows.foreach { case (_, arr) =>
          var best = 0
          var bestD = Long.MaxValue
          var c = 0
          while (c < cents.length) {
            val cent = cents(c)
            var acc = 0L
            var d = 0
            while (d < arr.length) { val df = arr(d) - cent(d); acc += df * df; d += 1 }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          n(best) += 1
        }
        Iterator.single(n)
      }.collect().foldLeft(Array.ofDim[Long](cents.length)) { (acc, p) =>
        var i = 0; while (i < p.length) { acc(i) += p(i); i += 1 }; acc
      }

      sel.zipWithIndex.map { case ((vid, d, _), i) => (i + 1L, vid, d, counts(i)) }
        .toSeq.toDF("sel_rank", "vec_id", "dist_sq", "n_assigned")
        .orderBy(col("sel_rank"))
    }
  }

  /** DuckDB twin: the same traversal unrolled to k-1 CTE rounds over
    * `embeddings(vec_id, embedding)`, then the argmin coverage pass.
    * Every round CTE is MATERIALIZED — round j references ALL prior
    * rounds, so inlined CTEs would re-evaluate the chain
    * exponentially in k.
    */
  def selectSql(k: Int, dim: Int = 64, scale: Long = 1000L): String = {
    def dist(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), 'sum')"
    val sb = new StringBuilder
    sb.append(
      s"""WITH kq AS (SELECT vec_id AS vid,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * $scale) AS BIGINT)) AS qv
         |  FROM embeddings),
         |ks1 AS MATERIALIZED (SELECT 1 AS rk, vid, CAST(0 AS BIGINT) AS dist, qv
         |  FROM kq ORDER BY vid LIMIT 1),
         |""".stripMargin)
    for (j <- 2 to k) {
      val selPrev = (1 until j).map(i => s"SELECT * FROM ks$i").mkString(" UNION ALL ")
      sb.append(
        s"""kd$j AS MATERIALIZED (SELECT q.vid, q.qv, min(${dist("q.qv", "s.qv")}) AS md
           |  FROM kq q, ($selPrev) s
           |  WHERE q.vid NOT IN (SELECT vid FROM ($selPrev))
           |  GROUP BY q.vid, q.qv),
           |ks$j AS MATERIALIZED (SELECT $j AS rk, vid, CAST(md AS BIGINT) AS dist, qv
           |  FROM kd$j ORDER BY md DESC, vid LIMIT 1),
           |""".stripMargin)
    }
    val selAll = (1 to k).map(i => s"SELECT * FROM ks$i").mkString(" UNION ALL ")
    sb.append(
      s"""ksel AS ($selAll),
         |kasg AS (SELECT q.vid, s.rk,
         |    row_number() OVER (PARTITION BY q.vid
         |                       ORDER BY ${dist("q.qv", "s.qv")}, s.rk) AS ark
         |  FROM kq q, ksel s),
         |kcnt AS (SELECT rk, count(*) AS n_assigned FROM kasg WHERE ark = 1 GROUP BY rk)
         |SELECT CAST(s.rk AS BIGINT) AS sel_rank, s.vid AS vec_id, s.dist AS dist_sq,
         |  CAST(coalesce(c.n_assigned, 0) AS BIGINT) AS n_assigned
         |FROM ksel s LEFT JOIN kcnt c ON s.rk = c.rk
         |ORDER BY sel_rank""".stripMargin)
    sb.toString
  }
}
