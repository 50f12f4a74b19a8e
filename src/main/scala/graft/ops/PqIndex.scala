package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanCache

/** Product quantization ANN (C78): split each vector into `m`
  * contiguous subvectors, learn a small k-centroid codebook per
  * subvector (integer fixed-point Lloyd's — the C7b device), encode
  * every vector as `m` small codes, and answer queries by ADC
  * (asymmetric distance computation): per query, precompute the m×k
  * table of query-subvector↔centroid distances, then score a doc as
  * the SUM of m table lookups — never touching the original floats.
  *
  * This is the memory-bound ANN serving workhorse (IVF-PQ's second
  * stage): at 100 TB the float corpus cannot live hot, but m codes
  * of ⌈log₂k⌉ bits compress 64×4 bytes to a few bytes/vector, the
  * encoded table scans at cache speed, and the per-query cost is
  * O(m·k + corpus·m) integer adds. Complements C68 (scalar int8 —
  * 4× compression, exact dims) with 30-100× compression at
  * controlled recall.
  *
  * Scale shape: codebook fits are m bounded Lloyd's loops (k·subDim
  * driver-held state each); encoding is a zero-shuffle narrow argmin
  * against codebook literals; ADC scoring is a zero-shuffle narrow
  * map (codes + the broadcast LUT literal) feeding a
  * TakeOrdered/bounded-heap top-k — no shuffle touches anything
  * vector-sized. Everything is exact integer arithmetic (quantized
  * inputs, integer sq-distances, integer LUT sums), so results are
  * partition-order independent and the unrolled-CTE DuckDB twin
  * reproduces them bit for bit.
  */
object PqIndex {

  /** Per-subvector integer codebooks: books(s)(cell)(dim). */
  final case class Codebooks(m: Int, subDim: Int, scale: Long,
      books: Array[Array[Array[Long]]])

  private def subCol(vec: Column, s: Int, subDim: Int): Column =
    slice(vec.cast("array<double>"), s * subDim + 1, subDim)

  /** Fit `m` codebooks of `k` centroids each over `iters` Lloyd's
    * rounds; `dim` must divide evenly into `m` subvectors.
    *
    * FUSED: every subspace's assignment depends only on its own
    * centroids, so all m sub-fits share one persisted quantized pass
    * and ONE distributed job per iteration — the (s, cell, dim)-keyed
    * partial agg collapses to m·k·subDim = k·dim rows regardless of
    * corpus size. The naive per-sub loop costs m passes per
    * iteration; at 100 TB that difference is m× the fit's scan bill.
    * Results are bit-identical to independent per-sub fits (the spec
    * proves it against [[IvfIndex.fitIntegerPortable]] per slice,
    * which is also what the unrolled twin computes).
    */
  def fitCodebooks(corpus: DataFrame, id: Column, vec: Column,
      dim: Int, m: Int, k: Int, iters: Int, scale: Long = 1000L): Codebooks = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subvectors")
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    PlanCache.scoped(corpus
      .select(id.cast("bigint").as("vid"),
        IvfIndex.quantized(vec, scale).as("qv"))) { q =>
      // seeds: the k smallest vids' slices — identical to per-sub fits
      val seedRows = q.orderBy(col("vid")).limit(k)
        .select(col("qv")).as[Seq[Long]].collect()
      val books: Array[Array[Array[Long]]] = Array.tabulate(m) { s =>
        seedRows.map(_.slice(s * subDim, (s + 1) * subDim).toArray)
      }
      for (_ <- 0 until iters) {
        // one job per iteration, shaped like MLlib's KMeans round: a
        // per-partition imperative combiner holds the full m·k·subDim
        // sum/count state (1–2 KB) and emits ONE fixed-size partial per
        // partition — no explode, no per-subvector rows, no expression-
        // tree array allocs in the argmin hot loop. Exact integer sums
        // are addition-order independent, so results stay bit-identical
        // to the declarative form (and to the per-sub twin fits).
        val curBooks = books.map(_.map(_.clone()))
        val partials = q.select(col("qv")).as[Array[Long]].mapPartitions { rows =>
          val sums = Array.ofDim[Long](m * k * subDim)
          val counts = Array.ofDim[Long](m * k)
          rows.foreach { arr =>
            var s = 0
            while (s < m) {
              val bs = curBooks(s)
              var best = 0
              var bestD = Long.MaxValue
              var c = 0
              while (c < k) {
                val cent = bs(c)
                var acc = 0L
                var d = 0
                while (d < subDim) {
                  val diff = arr(s * subDim + d) - cent(d)
                  acc += diff * diff
                  d += 1
                }
                if (acc < bestD) { bestD = acc; best = c } // first min = smallest cell
                c += 1
              }
              counts(s * k + best) += 1
              val off = (s * k + best) * subDim
              var d = 0
              while (d < subDim) { sums(off + d) += arr(s * subDim + d); d += 1 }
              s += 1
            }
          }
          Iterator.single((sums, counts))
        }.collect()
        val sums = Array.ofDim[Long](m * k * subDim)
        val counts = Array.ofDim[Long](m * k)
        partials.foreach { case (ps, pc) =>
          var i = 0
          while (i < ps.length) { sums(i) += ps(i); i += 1 }
          i = 0
          while (i < pc.length) { counts(i) += pc(i); i += 1 }
        }
        for (s <- 0 until m; c <- 0 until k if counts(s * k + c) > 0; d <- 0 until subDim)
          books(s)(c)(d) = sums((s * k + c) * subDim + d) / counts(s * k + c)
      }
      Codebooks(m, subDim, scale, books)
    }
  }

  /** Encode: (vec_id, codes array<int> of length m) — a zero-shuffle
    * narrow argmin per subvector against codebook literals; ties to
    * the smallest cell, mirroring the twin's (dist, cell) window.
    */
  private def codesCol(vec: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { s =>
      IvfIndex.cellOfInt(
        IvfIndex.quantized(subCol(vec, s, cb.subDim), cb.scale), cb.books(s))
    }: _*)

  def encode(corpus: DataFrame, id: Column, vec: Column, cb: Codebooks): DataFrame =
    corpus.select(id.cast("bigint").as("vec_id"), codesCol(vec, cb).as("codes"))

  /** The query's nProbe nearest coarse cells (exact integer
    * sq-distances — a driver-side k·dim computation).
    */
  def probeCells(queryVec: Array[Double], coarse: Array[Array[Long]],
      scale: Long, nProbe: Int): Seq[Int] = {
    val qq = queryVec.map(x => math.floor(x * scale).toLong)
    coarse.zipWithIndex.map { case (c, i) =>
      var acc = 0L; var d = 0
      while (d < c.length) { val diff = qq(d) - c(d); acc += diff * diff; d += 1 }
      (acc, i)
    }.sorted.take(nProbe).map(_._2).toSeq
  }

  /** Persist the IVF-PQ SERVING layout: the encoded corpus (vec_id,
    * codes) partitioned by its coarse IVF cell — m small integer
    * codes per document, 30–100× smaller than the float vectors,
    * which never land in the index at all. A probe
    * ([[probeIvfPqIndex]]) reads ONLY its nProbe cell partitions
    * (partition pruning at the scan, the C7/C7b layout argument) and
    * scores codes by LUT lookups — the memory-bound serving path end
    * to end, refit-free as shards append to existing cells.
    */
  def writeIvfPqIndex(corpus: DataFrame, id: Column, vec: Column, path: String,
      coarse: Array[Array[Long]], cb: Codebooks): Unit =
    graft.gtfs.GtfsLake.writePartitioned(
      corpus.select(id.cast("bigint").as("vec_id"), codesCol(vec, cb).as("codes"),
        IvfIndex.cellOfInt(IvfIndex.quantized(vec.cast("array<double>"), cb.scale),
          coarse).as("cell")),
      path, "cell")

  /** ADC top-k against the persisted layout: reads only the query's
    * nProbe cell partitions. Identical results to [[ivfPqTopK]] on
    * the same corpus/models (spec-proved).
    */
  def probeIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queryVec: Array[Double], coarse: Array[Array[Long]], cb: Codebooks,
      nProbe: Int, topK: Int): DataFrame = {
    val probe = probeCells(queryVec, coarse, cb.scale, nProbe)
    val codes = spark.read.parquet(path)
      .filter(col("cell").isin(probe.map(Int.box): _*))
      .select(col("vec_id"), col("codes"))
    adcTopK(codes, queryVec, cb, topK)
  }

  /** ADC top-k for one query vector over the encoded corpus:
    * (vec_id, adc_dist) — smallest integer ADC distance first,
    * vec_id tie-break. The LUT (m×k integer sq-distances) rides as a
    * literal; scoring is m `element_at` lookups + adds per row.
    */
  def adcTopK(codes: DataFrame, queryVec: Array[Double], cb: Codebooks,
      topK: Int): DataFrame = {
    val qq = queryVec.map(x => math.floor(x * cb.scale).toLong)
    val lut: Array[Array[Long]] = Array.tabulate(cb.m) { s =>
      cb.books(s).map { cent =>
        var acc = 0L
        var d = 0
        while (d < cb.subDim) {
          val diff = qq(s * cb.subDim + d) - cent(d)
          acc += diff * diff
          d += 1
        }
        acc
      }
    }
    val dist = (0 until cb.m).map { s =>
      element_at(typedLit(lut(s).toSeq),
        element_at(col("codes"), s + 1) + lit(1))
    }.reduce(_ + _)
    codes.select(col("vec_id"), dist.cast("bigint").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** IVF-PQ: the production composition — a coarse IVF quantizer
    * prunes the corpus to the query's nProbe nearest cells (a
    * partition-prunable literal IN-filter), then ADC scores only the
    * survivors. Provably equals [[adcTopK]] restricted to the probed
    * cells (see the spec); at 100 TB the cell filter prunes the
    * encoded-table scan itself when the layout is cell-partitioned
    * ([[IvfIndex.writeIndex]]).
    */
  def ivfPqTopK(corpus: DataFrame, id: Column, vec: Column,
      coarse: Array[Array[Long]], cb: Codebooks,
      queryVec: Array[Double], nProbe: Int, topK: Int): DataFrame = {
    val probe = probeCells(queryVec, coarse, cb.scale, nProbe)
    val pruned = corpus.filter(
      IvfIndex.cellOfInt(IvfIndex.quantized(vec, cb.scale), coarse)
        .isin(probe.map(Int.box): _*))
    adcTopK(encode(pruned, id, vec, cb), queryVec, cb, topK)
  }

  /** DuckDB twin over `embeddings` (corpus = vec_id <> 0, query =
    * vec_id 0): m sub-fits unrolled as CTEs (the C7b device), encode
    * as per-sub rank-1 windows, ADC as an (s, code)-keyed join
    * against the per-sub LUT, summed per doc.
    */
  def pqSql(dim: Int, m: Int, k: Int, iters: Int, topK: Int,
      scale: Long = 1000L): String =
    s"""WITH ${pqCtes(dim, m, k, iters, topK, scale)}
       |SELECT vec_id, adc_dist FROM pqtop
       |ORDER BY adc_dist, vec_id""".stripMargin

  /** The CTE chain of [[pqSql]] without the WITH prefix or final
    * select — exposed so ANN-quality twins (C96) can compose on
    * `pqtop(vec_id, adc_dist)` (the ADC top-k). */
  def pqCtes(dim: Int, m: Int, k: Int, iters: Int, topK: Int,
      scale: Long = 1000L): String = {
    val subDim = dim / m
    def dist(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, ${subDim + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), 'sum')"
    val sb = new StringBuilder
    sb.append(
      s"""pq AS (SELECT vec_id AS vid,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * $scale) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id <> 0),
         |pq0 AS (SELECT
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * $scale) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |""".stripMargin)
    for (s <- 0 until m) {
      val (lo, hi) = (s * subDim + 1, (s + 1) * subDim)
      sb.append(
        s"""t$s AS (SELECT vid, qv[$lo:$hi] AS sv FROM pq),
           |t${s}q AS (SELECT qv[$lo:$hi] AS sv FROM pq0),
           |t${s}c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, sv AS cv
           |  FROM (SELECT sv, row_number() OVER (ORDER BY vid) AS rn FROM t$s) WHERE rn <= $k),
           |""".stripMargin)
      for (j <- 1 to iters) {
        sb.append(
          s"""t${s}d$j AS (SELECT x.vid, x.sv, c.cell, ${dist("x.sv", "c.cv")} AS dist
             |  FROM t$s x, t${s}c${j - 1} c),
             |t${s}a$j AS (SELECT vid, sv, cell FROM (
             |  SELECT vid, sv, cell, row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rk
             |  FROM t${s}d$j) WHERE rk = 1),
             |t${s}s$j AS (SELECT cell, u.i AS dim, CAST(sum(sv[u.i]) AS BIGINT) // count(*) AS cval
             |  FROM t${s}a$j, unnest(range(1, ${subDim + 1})) AS u(i) GROUP BY cell, u.i),
             |t${s}c$j AS (SELECT p.cell, coalesce(n.ncv, p.cv) AS cv
             |  FROM t${s}c${j - 1} p LEFT JOIN (SELECT cell, list(cval ORDER BY dim) AS ncv
             |                                   FROM t${s}s$j GROUP BY cell) n USING (cell)),
             |""".stripMargin)
      }
      sb.append(
        s"""enc$s AS (SELECT vid, cell AS code FROM (
           |  SELECT e.vid, c.cell, row_number() OVER (PARTITION BY e.vid
           |      ORDER BY ${dist("e.sv", "c.cv")}, c.cell) AS rk
           |  FROM t$s e, t${s}c$iters c) WHERE rk = 1),
           |lut$s AS (SELECT c.cell, ${dist("q.sv", "c.cv")} AS d
           |  FROM t${s}q q, t${s}c$iters c),
           |sub$s AS (SELECT e.vid, l.d FROM enc$s e JOIN lut$s l ON l.cell = e.code),
           |""".stripMargin)
    }
    val unioned = (0 until m).map(s => s"SELECT vid, d FROM sub$s").mkString(" UNION ALL ")
    sb.append(
      s"""tot AS (SELECT vid AS vec_id, CAST(SUM(d) AS BIGINT) AS adc_dist
         |  FROM ($unioned) GROUP BY vid),
         |pqtop AS (SELECT vec_id, adc_dist FROM tot
         |  ORDER BY adc_dist, vec_id LIMIT $topK)""".stripMargin)
    sb.toString
  }
}
