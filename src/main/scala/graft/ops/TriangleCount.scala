package graft.ops

import graft.util.PlanCache.Shareable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficients over the
  * near-dup candidate graph — the structural diagnostic the dedup
  * family (C2-C5, C21) needs: a candidate graph whose triangles are
  * dense is clique-shaped (true duplicate groups); a triangle-free
  * graph of the same size is chain/star-shaped (transitive false
  * merges waiting to happen when connected components union them).
  *
  * Scale shape — the degree-orientation device (Cohen 2009 /
  * Suri-Vassilvitskii 2011 "Counting triangles and the curse of the
  * last reducer"): orient every undirected edge from its lower
  * (degree, id) endpoint to the higher. Every node's OUT-degree is
  * then O(sqrt(m)) regardless of its true degree — a celebrity node
  * with a million neighbors emits no wedge unless both neighbors
  * out-rank it — so the wedge self-join materializes at most
  * O(m^1.5) rows instead of sum(deg^2), and each triangle is
  * generated exactly once (from its minimum-rank corner). All joins
  * shuffle fixed-width (id, id) pairs.
  */
object TriangleCount {

  /** Per-node stats over an undirected simple graph.
    *
    * @param edges (src, dst) — made canonical (min, max) + distinct
    *              here, so callers may pass raw pair streams
    * @return (node, degree, n_triangles, clustering) for every node
    *         with degree >= 1; clustering = 2T/(d(d-1)) rounded 4dp.
    */
  def nodeStats(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("src").cast("bigint"), col("dst").cast("bigint")).as("a"),
        greatest(col("src").cast("bigint"), col("dst").cast("bigint")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .sharedPersist()

    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .sharedPersist()

    // orient low (degree, id) -> high (degree, id)
    val oriented = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("db").as("d"), col("b").as("id")))
          .otherwise(struct(col("da").as("d"), col("a").as("id"))).as("vr"))
      .select(col("u"), col("vr.id").as("v"), col("vr.d").as("dv"))
      .sharedPersist()

    // wedges from each node's out-list (ordered by rank so the closing
    // edge (v, w) is itself an oriented edge), closed against oriented
    val wedges = oriented.select(col("u"), col("v"), col("dv"))
      .join(oriented.select(col("u"), col("v").as("w"), col("dv").as("dw")), "u")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val triangles = wedges
      .join(oriented.select(col("v").as("w"), col("u").as("v")), Seq("v", "w"), "left_semi")
      .sharedPersist()

    val perNode = triangles.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(col("n_triangles") * 2.0 /
            (col("degree") * (col("degree") - 1)).cast("double"), 4))
          .otherwise(lit(0.0)))
  }

  /** The rare-shingle candidate graph (C67's anchoring stage as an
    * edge stream): docs sharing a shingle with df in [2, maxDf] —
    * the natural input for the clique-vs-chain diagnostic above.
    */
  def anchorEdges(
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      maxDf: Int = 10): DataFrame = {
    val postings = Postings.hashSets(docs, id, text, shingleK)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    Postings.anchorPairs(postings, maxDf)
      .distinct()
      .select(col("id_a").as("src"), col("id_b").as("dst"))
  }

  /** Global summary: (n_nodes, n_edges, n_triangles, global
    * clustering = 3·triangles / open+closed wedges, rounded 4dp).
    */
  def globalStats(edges: DataFrame): DataFrame = {
    val stats = nodeStats(edges)
    stats.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("degree")) / 2).cast("bigint").as("n_edges"),
      (sum(col("n_triangles")) / 3).cast("bigint").as("n_triangles"),
      round(sum(col("n_triangles")).cast("double") /
        greatest(sum((col("degree") * (col("degree") - 1)) / 2), lit(1L)).cast("double"), 4)
        .as("global_clustering"))
  }
}
