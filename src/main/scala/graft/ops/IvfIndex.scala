package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.util.PlanCache

/** IVF (inverted-file) ANN index: k-means coarse quantizer + cell
  * assignment. Queries probe only the nProbe nearest cells —
  * |corpus| · nProbe / k vectors scored instead of the full corpus.
  *
  * Training is Lloyd's algorithm with deterministic seeding (hash-
  * picked initial centroids), each iteration one distributed
  * assignment (mapPartitions over broadcast centroids — a numeric
  * kernel, the one place a closure beats expression trees) and one
  * groupBy-avg. Centroid count k is small (≤ thousands); the
  * centroid table always broadcasts.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length

    /** ids of the nProbe centroids nearest to `q` (driver-side — the
      * query vector is a single point).
      */
    def nearestCells(q: Array[Double], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (i, sqDist(q, c)) }
        .sortBy(_._2).take(nProbe).map(_._1).toSeq
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def nearestCentroid(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train the coarse quantizer. Deterministic: the training set is
    * the `k * maxSamplePerCentroid` vectors with smallest
    * xxhash64(id) (a hash-ordered top-N — one TakeOrdered pass, no
    * global sort), and the k smallest of those seed the centroids.
    *
    * The sample is O(k · maxSamplePerCentroid · dim) — bounded by the
    * MODEL size, independent of corpus size — so it is collected once
    * and Lloyd's runs driver-local: ONE Spark job total, regardless
    * of `iters`; the corpus itself is scanned exactly once, later, by
    * [[assign]]. (This is how IVF quantizers train at scale
    * everywhere: the coarse codebook fits one machine by
    * construction.) For a quantizer too big for one machine
    * (k · dim in the billions) use [[fitDistributed]].
    */
  def fit(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int = 5,
      maxSamplePerCentroid: Int = 256): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val target = math.max(k, k * maxSamplePerCentroid)
    // TakeOrderedAndProject: rows arrive sorted by the hash order, so
    // the first k are exactly the seeds the distributed path picks.
    val sample: Array[Array[Double]] = corpus
      .select(id.cast("bigint").as("vid"), vec.cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vid")), col("vid"))
      .limit(target)
      .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
    if (sample.isEmpty) return Model(Array.empty)

    var centroids = sample.take(k).map(_.clone())
    val dim = centroids(0).length
    for (_ <- 0 until iters) {
      val cnt = new Array[Long](centroids.length)
      val sums = Array.ofDim[Double](centroids.length, dim)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        cnt(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c))
        else old // empty cell keeps its centroid
      }
    }
    Model(centroids)
  }

  /** Distributed Lloyd's for quantizers whose sample exceeds one
    * machine: the cached bounded sample is re-scanned per iteration,
    * each iteration one job producing per-partition partial
    * (count, sum) arrays — k·dim numbers per partition, no shuffle,
    * no O(data) collect.
    */
  def fitDistributed(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int = 5,
      maxSamplePerCentroid: Int = 256): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val target = math.max(k, k * maxSamplePerCentroid)
    PlanCache.scoped(corpus
      .select(id.cast("bigint").as("vid"), vec.cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vid")), col("vid"))
      .limit(target)
      .repartition(spark.sparkContext.defaultParallelism)) { sample =>
      var centroids: Array[Array[Double]] = sample
        .orderBy(xxhash64(col("vid")), col("vid"))
        .limit(k)
        .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
      if (centroids.nonEmpty) {
        val dim = centroids(0).length
        for (_ <- 0 until iters) {
          val bc = spark.sparkContext.broadcast(centroids)
          val (counts, sums) = sample.as[(Long, Seq[Double])].rdd
            .mapPartitions { rows =>
              val cents = bc.value
              val cnt = new Array[Long](cents.length)
              val sum = Array.ofDim[Double](cents.length, dim)
              rows.foreach { case (_, v) =>
                val a = v.toArray
                val c = nearestCentroid(a, cents)
                cnt(c) += 1
                var i = 0; while (i < dim) { sum(c)(i) += a(i); i += 1 }
              }
              Iterator.single((cnt, sum))
            }
            .reduce { case ((c1, s1), (c2, s2)) =>
              var c = 0
              while (c < c1.length) {
                c1(c) += c2(c)
                var i = 0; while (i < dim) { s1(c)(i) += s2(c)(i); i += 1 }
                c += 1
              }
              (c1, s1)
            }
          bc.destroy()
          centroids = centroids.zipWithIndex.map { case (old, c) =>
            if (counts(c) > 0) sums(c).map(_ / counts(c))
            else old // empty cell keeps its centroid
          }
        }
      }
      Model(centroids)
    }
  }

  /** Persist the assigned corpus hive-partitioned by cell: a probe
    * then reads only its nProbe cell directories (partition pruning
    * before any I/O) — the 100 TB serving layout for this index.
    */
  def writeIndex(assigned: DataFrame, path: String): Unit =
    graft.gtfs.GtfsLake.writePartitioned(assigned, path, "cell")

  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Assign each corpus vector to its IVF cell (persist this column —
    * at scale, write the corpus partitioned by `cell` so a probe
    * reads only nProbe partitions).
    */
  def assign(corpus: DataFrame, id: Column, vec: Column, model: Model): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    corpus.select(id.cast("bigint").as("vec_id"), vec.cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        val cents = bc.value
        rows.map { case (i, v) => (i, v, nearestCentroid(v.toArray, cents)) }
      }.toDF("vec_id", "v", "cell")
  }

  // ------------------------------------------------------------------
  // Integer fixed-point variant (oracle-portable — the PageRank device
  // applied to Lloyd's): embeddings quantized to floor(x·scale)
  // BIGINTs, centroid means as integer floor-division, deterministic
  // smallest-vec_id seeding and (dist, cell) argmin tie-break. Every
  // step is associative integer arithmetic, so a fixed iteration
  // count is bit-exact across engines and partitionings and the
  // DuckDB twin ([[integerIvfSql]]) unrolls the same iterations as
  // CTEs and hash-matches. The float [[fit]]/[[fitDistributed]] stay
  // the production path (spec-covered); this variant exists so the
  // IVF probe semantics are end-to-end oracle-checkable.
  // ------------------------------------------------------------------

  /** floor(x·scale) fixed-point quantization of a float vector. */
  def quantized(vec: Column, scale: Long): Column =
    transform(vec.cast("array<double>"), x => floor(x * scale).cast("bigint"))

  /** Integer squared L2 distance between two array<bigint> columns —
    * the codegen'd kernel (the HOF zip_with/aggregate form re-evaluates
    * captured subtrees per element when interpreted: ~100× slower in
    * the k-cell argmin).
    */
  private def sqDistInt(a: Column, b: Column): Column =
    graft.plans.SqDistLongExpr.sqDist(a, b)

  /** Integer argmin cell over driver-held centroid literals: ties to
    * the smallest cell (first position of the min) — a zero-shuffle
    * narrow map, mirroring the twin's (dist, cell) ranked window.
    */
  def cellOfInt(qv: Column, cents: Array[Array[Long]]): Column = {
    val dists = array(cents.map(c => sqDistInt(qv, typedLit(c.toSeq))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Integer-portable Lloyd's: returns the centroid matrix (model-
    * sized, driver-held — exactly like the float [[fit]]). Seeds =
    * the k smallest vec_ids' quantized vectors; each iteration is ONE
    * distributed pass: a narrow argmin assignment against literal
    * centroids, then a (cell, dim)-keyed partial-agg shuffle that
    * collapses to k·dim rows, collected and floor-divided
    * driver-side (Long `/` truncates toward zero — the same semantics
    * as Spark's `DIV` and DuckDB's `//`). Empty cells keep their
    * centroid.
    */
  def fitIntegerPortable(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      scale: Long = 1000L): Array[Array[Long]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    PlanCache.scoped(corpus
      .select(id.cast("bigint").as("vid"), quantized(vec, scale).as("qv"))) { q =>
      var cents: Array[Array[Long]] = q.orderBy(col("vid")).limit(k)
        .select(col("qv")).as[Seq[Long]].collect().map(_.toArray)
      for (_ <- 0 until iters if cents.nonEmpty) {
        // one job per iteration, shaped like MLlib's KMeans round: a
        // per-partition imperative combiner holds the k·dim sum/count
        // state and emits one fixed-size partial per partition — no
        // per-dimension rows, no expression-tree array allocs in the
        // argmin hot loop. Exact integer sums are addition-order
        // independent: bit-identical to the declarative form and to
        // the unrolled-CTE twin.
        val cur = cents
        val dim = cur(0).length
        val kk = cur.length
        val partials = q.select(col("qv")).as[Array[Long]].mapPartitions { rows =>
          val sums = Array.ofDim[Long](kk * dim)
          val counts = Array.ofDim[Long](kk)
          rows.foreach { arr =>
            var best = 0
            var bestD = Long.MaxValue
            var c = 0
            while (c < kk) {
              val cent = cur(c)
              var acc = 0L
              var d = 0
              while (d < dim) { val diff = arr(d) - cent(d); acc += diff * diff; d += 1 }
              if (acc < bestD) { bestD = acc; best = c } // first min = smallest cell
              c += 1
            }
            counts(best) += 1
            var d = 0
            while (d < dim) { sums(best * dim + d) += arr(d); d += 1 }
          }
          Iterator.single((sums, counts))
        }.collect()
        val sums = Array.ofDim[Long](kk * dim)
        val counts = Array.ofDim[Long](kk)
        partials.foreach { case (ps, pc) =>
          var i = 0
          while (i < ps.length) { sums(i) += ps(i); i += 1 }
          i = 0
          while (i < pc.length) { counts(i) += pc(i); i += 1 }
        }
        val next = cur.map(_.clone())
        for (c <- 0 until kk if counts(c) > 0; d <- 0 until dim)
          next(c)(d) = sums(c * dim + d) / counts(c)
        cents = next
      }
      cents
    }
  }

  /** Integer-portable IVF top-k end to end: fit, assign (narrow map),
    * probe the nProbe cells nearest the query (a literal IN-filter —
    * partition-prunable against a cell-partitioned layout), cosine-
    * score candidates only. `query` is one row with column `qv` (the
    * raw float vector — scoring is the same double cosine as C6).
    */
  /** IVF layout health diagnostics — cell-occupancy balance for the
    * fitted coarse quantizer: a skewed layout (hot cells holding most
    * of the corpus) destroys the nProbe pruning guarantee, so the
    * balance factor is what you check BEFORE trusting IVF latency at
    * scale. One row per cell (including empty ones):
    * (cell, n_vectors, share_milli, imbalance_milli) where
    * imbalance = max-cell share / mean share (k·max/total) — 1000
    * means perfectly balanced, k·1000 means everything in one cell.
    *
    * Scale shape: the assignment is the fused zero-shuffle argmax
    * narrow map; ONE |cells|-sized partial agg; scalars broadcast.
    */
  def cellStats(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      scale: Long = 1000L): DataFrame = {
    val cents = fitIntegerPortable(corpus, id, vec, k, iters, scale)
    val counts = corpus
      .select(cellOfInt(quantized(vec, scale), cents).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val cells = corpus.sparkSession.range(0, k.toLong)
      .select(col("id").cast("int").as("cell"))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_vectors"))
    val tot = cells.agg(sum(col("n_vectors")).as("__total"),
      max(col("n_vectors")).as("__max"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        floor(lit(1000.0) * col("n_vectors") / col("__total")).cast("bigint")
          .as("share_milli"),
        floor(lit(1000.0) * col("__max") * k / col("__total")).cast("bigint")
          .as("imbalance_milli"))
  }

  /** DuckDB twin of [[cellStats]]: composes on [[integerIvfCtes]]'
    * `ivf(vid, v, cell)` assignments; final relation `ivbal`.
    */
  def cellStatsSql(k: Int): String =
    s"""ivcellc AS (SELECT cell, count(*) AS n FROM ivf GROUP BY cell),
       |ivallc AS (SELECT CAST(u.i AS INT) AS cell FROM unnest(range(0, $k)) AS u(i)),
       |ivocc AS (SELECT a.cell, CAST(coalesce(c.n, 0) AS BIGINT) AS n_vectors
       |          FROM ivallc a LEFT JOIN ivcellc c USING (cell)),
       |ivtot AS (SELECT sum(n_vectors) AS total, max(n_vectors) AS maxn FROM ivocc),
       |ivbal AS (SELECT cell, n_vectors,
       |            CAST(floor(1000.0 * n_vectors / t.total) AS BIGINT) AS share_milli,
       |            CAST(floor(1000.0 * t.maxn * $k / t.total) AS BIGINT) AS imbalance_milli
       |          FROM ivocc CROSS JOIN ivtot t)""".stripMargin

  def integerIvfTopK(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      query: DataFrame, // one row, column "qv"
      k: Int,
      iters: Int,
      nProbe: Int,
      topK: Int,
      scale: Long = 1000L): DataFrame = {
    val cents = fitIntegerPortable(corpus, id, vec, k, iters, scale)
    // query cells driver-side: quantize the collected query vector and
    // rank cells by (dist, cell) — the model is driver-held already
    val qRows = query.select(col("qv").cast("array<double>")).head(2)
    require(qRows.length == 1,
      s"integerIvfTopK expects exactly one query row with column qv, got ${qRows.length}")
    val qq = qRows(0).getSeq[Double](0).map(x => math.floor(x * scale).toLong).toArray
    def sqDist(c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < c.length) { val d = qq(i) - c(i); s += d * d; i += 1 }
      s
    }
    val probeCells = cents.zipWithIndex
      .map { case (c, i) => (sqDist(c), i) }.sorted.take(nProbe).map(_._2)
    corpus
      .select(id.cast("bigint").as("vec_id"), vec.as("v"),
        cellOfInt(quantized(vec, scale), cents).as("cell"))
      .filter(col("cell").isin(probeCells.map(Int.box): _*))
      .crossJoin(broadcast(query.select(col("qv"))))
      .select(col("vec_id"),
        VectorFunctions.cosineSimilarity(col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** DuckDB twin of [[integerIvfTopK]] over the `embeddings` table
    * (corpus = vec_id <> 0, query = vec_id 0), iterations unrolled as
    * CTEs. Intermediate HUGEINTs (distance sums) only ever feed ORDER
    * BY / floor-div and never reach output columns.
    */
  def integerIvfSql(
      k: Int,
      iters: Int,
      nProbe: Int,
      topK: Int,
      dim: Int = 64,
      scale: Long = 1000L): String =
    s"""WITH ${integerIvfCtes(k, iters, nProbe, topK, dim, scale)}
       |SELECT vec_id, round(cos_sim, 4) AS cos_sim FROM ivtop
       |ORDER BY cos_sim DESC, vec_id""".stripMargin

  /** The CTE chain of [[integerIvfSql]] without the WITH prefix or
    * final select — exposed so ANN-quality twins (C94/C95) can
    * compose on `ivf(vid, v, cell)` (the final assignments), `ivq0`
    * (the query) and `ivtop` (the probed top-k).
    */
  def integerIvfCtes(
      k: Int,
      iters: Int,
      nProbe: Int,
      topK: Int,
      dim: Int = 64,
      scale: Long = 1000L): String = {
    def qz(v: String) = s"list_transform($v, x -> CAST(floor(x * $scale) AS BIGINT))"
    def dist(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), 'sum')"
    val sb = new StringBuilder
    sb.append(
      s"""ivq AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v,
         |    ${qz("CAST(embedding AS DOUBLE[])")} AS qv
         |  FROM embeddings WHERE vec_id <> 0),
         |ivq0 AS (SELECT CAST(embedding AS DOUBLE[]) AS v,
         |    ${qz("CAST(embedding AS DOUBLE[])")} AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |ivc0 AS (SELECT CAST(rn - 1 AS INT) AS cell, qv AS cv
         |  FROM (SELECT qv, row_number() OVER (ORDER BY vid) AS rn FROM ivq) WHERE rn <= $k),
         |""".stripMargin)
    for (j <- 1 to iters) {
      val prev = s"ivc${j - 1}"
      sb.append(
        s"""ivd$j AS (SELECT q.vid, q.qv, c.cell, ${dist("q.qv", "c.cv")} AS dist
           |  FROM ivq q, $prev c),
           |iva$j AS (SELECT vid, qv, cell FROM (
           |  SELECT vid, qv, cell, row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rk
           |  FROM ivd$j) WHERE rk = 1),
           |ivs$j AS (SELECT cell, u.i AS dim, CAST(sum(qv[u.i]) AS BIGINT) // count(*) AS cval
           |  FROM iva$j, unnest(range(1, ${dim + 1})) AS u(i) GROUP BY cell, u.i),
           |ivc$j AS (SELECT p.cell, coalesce(n.ncv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (SELECT cell, list(cval ORDER BY dim) AS ncv
           |                          FROM ivs$j GROUP BY cell) n USING (cell)),
           |""".stripMargin)
    }
    val fc = s"ivc$iters"
    sb.append(
      s"""ivdf AS (SELECT q.vid, q.v, c.cell, ${dist("q.qv", "c.cv")} AS dist
         |  FROM ivq q, $fc c),
         |ivf AS (SELECT vid, v, cell FROM (
         |  SELECT vid, v, cell, row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rk
         |  FROM ivdf) WHERE rk = 1),
         |ivdq AS (SELECT c.cell, ${dist("q.qv", "c.cv")} AS dist FROM ivq0 q, $fc c),
         |ivqc AS (SELECT cell FROM (
         |  SELECT cell, row_number() OVER (ORDER BY dist, cell) AS rk FROM ivdq)
         |  WHERE rk <= $nProbe),
         |ivtop AS (SELECT f.vid AS vec_id, list_cosine_similarity(f.v, q.v) AS cos_sim
         |  FROM ivf f JOIN ivqc USING (cell) CROSS JOIN ivq0 q
         |  ORDER BY cos_sim DESC, vec_id LIMIT $topK)""".stripMargin)
    sb.toString
  }

  /** ANN top-k: score only vectors in the query's nProbe nearest
    * cells. `assigned` is the output of [[assign]]. The cell filter
    * prunes partitions before any per-vector math runs.
    */
  def topK(
      assigned: DataFrame,
      queryVec: Array[Double],
      k: Int,
      model: Model,
      nProbe: Int): DataFrame = {
    val cells = model.nearestCells(queryVec, nProbe)
    val q = typedLit(queryVec.toSeq)
    assigned
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"),
        VectorFunctions.cosineSimilarity(col("v"), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
