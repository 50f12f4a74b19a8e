package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.PlanCache
import graft.util.PlanCache.Shareable

/** Duplicate-cluster resolution: near-dup detectors (C2-C5) emit
  * PAIRS, but a pipeline must keep one document per duplicate GROUP —
  * the connected components of the pair graph. Implemented as
  * min-label propagation on DataFrames: every vertex repeatedly
  * adopts the smallest label among itself and its neighbors until a
  * fixed point.
  *
  * Scale shape: each iteration is one join on the vertex id + one
  * groupBy-min — keyed shuffles over (id, label) pairs only, never
  * document bodies. Iteration count is the graph diameter, and
  * near-dup graphs are unions of tiny cliques (diameter 1-2), so 2-3
  * iterations close real corpora. Convergence is checked with an
  * O(1) driver-side count per iteration.
  */
object DupClusters {

  /** Connected components of an undirected pair graph.
    *
    * @param pairs columns id_a, id_b (one row per edge)
    * @return (doc_id, cluster_id) where cluster_id is the minimum
    *         doc id reachable from doc_id — every member of a
    *         duplicate group shares it. Keep `doc_id == cluster_id`
    *         rows (one canonical survivor per group) to dedup.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // No distinct: min-label propagation is idempotent to duplicate
    // edges (groupBy-min absorbs them) — a distinct here would be a
    // full extra shuffle of the edge list for nothing.
    // pre-partition the static edge side by the JOIN key and cache
    // THAT (the LabelProp device): the cached hash partitioning
    // satisfies every iteration's join requirement, so rounds shuffle
    // only the (id, label) pairs — not the edge list again each round.
    PlanCache.scoped(pairs.select(col("id_a").cast("bigint").as("src"), col("id_b").cast("bigint").as("dst"))
      .union(pairs.select(col("id_b").cast("bigint").as("src"), col("id_a").cast("bigint").as("dst")))
      .repartition(col("src"))) { edges =>
      // localCheckpoint per iteration: an iterative self-referencing
      // plan otherwise grows its lineage exponentially (the classic
      // iterative-DataFrame trap — planning itself OOMs after ~10
      // rounds). On a cluster, use a reliable checkpoint dir instead.
      // `labelsCk` is this round's checkpoint root, freed once the next
      // round's is materialized.
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .localCheckpoint(true)
      var labelsCk = labels

      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // labels flowing across edges: dst receives src's current label
        val incoming = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("label"),
            lit(null).cast("bigint").as("old_label"))
        // The old label rides the SAME union + groupBy that computes the
        // new one (every id has exactly one labels row, so max over the
        // null-padded branch recovers it) — the separate next⋈labels
        // convergence join this loop used to pay per iteration is gone;
        // min-label propagation only ever decreases a label, so
        // "changed" is exactly "label < old_label".
        // LAZY checkpoint: the convergence count below is the first
        // action over `next`, so it materializes the checkpoint as a
        // side effect — an eager checkpoint would run the same plan
        // twice per iteration.
        val next = labels.select(col("id"), col("label"), col("label").as("old_label"))
          .union(incoming)
          .groupBy(col("id"))
          .agg(min(col("label")).as("label"), max(col("old_label")).as("old_label"))
          .localCheckpoint(false)
        val changed = next.filter(col("label") < col("old_label"))
          .count() // O(1) result; the only driver-side value per iteration
        // `next` is materialized by the count above; the returned frame
        // reads only the converged round
        PlanCache.free(labelsCk)
        labelsCk = next
        labels = next.select(col("id"), col("label"))
        converged = changed == 0
        iter += 1
      }
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** One canonical row per duplicate group: the member with the
    * minimum id survives; everything else is listed as a removal.
    */
  def survivors(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .withColumn("keep", col("doc_id") === col("cluster_id"))

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al. 2014): each round every node hooks
    * its larger neighbors (large-star), then its smaller ones
    * (small-star), onto the minimum of its neighborhood — the edge
    * set contracts toward one star per component in O(log n) rounds
    * REGARDLESS of graph diameter.
    *
    * [[connectedComponents]]' min-label propagation needs diameter
    * rounds: ideal for near-dup graphs (unions of tiny cliques,
    * diameter 1–2) but pathological on chain-shaped components —
    * crawl-frontier link graphs, span-overlap chains, A-shares-with-B
    * -shares-with-C dup chains — where a 10 000-doc chain means
    * 10 000 keyed shuffles. This variant closes the same chain in
    * ~14 rounds. Same output contract: (doc_id, cluster_id =
    * component minimum).
    *
    * Per round: two groupBy-min + two key joins over (node, node)
    * pairs — fixed-width shuffles only; convergence is an exact
    * edge-set comparison (count equality + one-sided anti count),
    * O(1) driver-side values per round.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val raw = pairs
      .select(col("id_a").cast("bigint").as("a"), col("id_b").cast("bigint").as("b"))
    // nodes from the UNFILTERED pairs: a self-loop still names a doc,
    // which must come back as its own singleton cluster
    val allNodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct()
      .sharedCheckpoint()
    // canonical (hi, lo) direction
    var edges = raw
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true)

    var iter = 0
    var converged = false
    // carried across rounds: edges.count() of the CURRENT edge set.
    // Re-counting the already-materialized previous round's frame was
    // one whole extra job per round (guide §1.2: don't re-compute
    // what you already know) — the count survives the loop as nOld.
    var nOld = edges.count()
    while (iter < maxIter && !converged) {
      // Each star phase is ONE keyed window (min over the node's
      // neighborhood partition), not a groupBy + re-join of the same
      // rows — the join form paid two exchanges per phase (the agg
      // shuffle and the probe-side shuffle) for rows the window sees
      // in a single pass. The per-node partitions are exactly the
      // keys the join would have shuffled by, so skew exposure is
      // unchanged, and the row multiset feeding the round-closing
      // distinct is set-equal to the join form's (the duplicate
      // (a, m) hooks the small-star phase now emits per stored
      // neighbor collapse in that distinct).
      val wNbr = Window.partitionBy(col("a"))
      // large-star: every node's strictly-larger neighbors hook onto
      // the minimum of its closed neighborhood
      val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      val ls = sym
        .withColumn("m", least(min(col("b")).over(wNbr), col("a")))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
      // small-star: every node and its stored smaller neighbors hook
      // onto the minimum among them. Both hook rows ((b, m) and
      // (a, m)) explode out of ONE windowed pass — a union of two
      // selects over the same frame would re-evaluate the window
      // subtree once per branch.
      val ss = ls
        .withColumn("m", min(col("b")).over(wNbr))
        .select(explode(array(
          struct(col("b").as("a"), col("m").as("b")),
          struct(col("a").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct()
        .localCheckpoint(false)
      val nNew = ss.count() // materializes the lazy checkpoint
      // count equality is the cheap necessary condition; the exact
      // set comparison (one anti-join job) runs only when counts tie
      val changed = nNew != nOld || ss.except(edges).limit(1).count() > 0
      // after the except above, which still reads the old edge set;
      // the final groupBy reads `ss` either way
      PlanCache.free(edges)
      edges = ss
      nOld = nNew
      converged = !changed
      iter += 1
    }
    // fixed point: every edge points a node at its component minimum
    // (min per node guards the maxIter-exhausted case, where a node
    // could still carry two tentative parents)
    val labeled = edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("cluster_id"))
    allNodes
      .join(labeled, allNodes("id") === labeled("doc_id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
