package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.PlanCache
import graft.util.PlanCache.Shareable

/** k-core decomposition of the near-dup candidate graph — the
  * density filter that separates REAL duplicate communities from the
  * sparse hair a candidate generator (C2-C5, C67) inevitably emits:
  * a node in the 3-core has three candidate partners that are also
  * mutually entangled, which near-random shingle collisions cannot
  * produce, so "k-core members" is a high-precision dup-community
  * seed while chains and stars (the transitive-merge hazards) peel
  * away. Complements C105's triangle diagnostic (local density)
  * with the global fixpoint structure.
  *
  * The k-core is the UNIQUE maximal subgraph with min degree >= k —
  * peeling order cannot change the result, so the operator is
  * deterministic without any ordering device and the DuckDB twin
  * (a recursive CTE running the same peel) hash-matches.
  *
  * Scale shape: classic distributed peeling. Per round, ONE job: the
  * degree count (partial-aggregated), the two drop anti-joins and the
  * surviving-edge count all run in a single action — convergence is
  * detected by the edge count reaching a fixpoint (a dropped node
  * always carries >= 1 edge, so "nothing dropped" and "edge count
  * unchanged" are the same event), which removed the separate
  * drop.count() job the r12 loop paid every round. Fixed-width
  * 8-byte node-id rows only, no text. Rounds = peel depth of the
  * graph (small for the bounded-df anchor graphs this consumes;
  * worst case the longest chain/2). Lineage is truncated with a
  * periodic localCheckpoint so the plan does not grow with the
  * iteration count.
  */
object KCore {

  /** Nodes of the k-core with their within-core degree.
    *
    * @param edges (src, dst) undirected; canonicalized + distinct here
    * @return (node, core_degree) for every k-core member
    */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    require(k >= 1, "k >= 1")
    // the canonical edge set is a shared checkpoint: repeated peels
    // over the same graph — bench passes, core() after profile(),
    // k-sweeps — start from the materialized distinct edges instead
    // of re-running the candidate self-join
    val e0 = canonical(edges).sharedCheckpoint()
    val (deg, _, _) = peelTo(e0, e0.count(), k, maxRounds)
    deg.select(col("node"), col("degree").as("core_degree"))
  }

  /** Canonicalize to distinct (a < b) long pairs. The peel loop keeps
    * the distinct's own shuffle partitioning: a fixed coalesce here
    * would either be a no-op (target >= the shuffle-partition count,
    * the local case) or funnel every degree count and anti-join round
    * of a LARGE candidate graph through that many tasks at cluster
    * scale — coalesce only ever reduces partition count.
    */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src").cast("bigint"), col("dst").cast("bigint")).as("a"),
        greatest(col("src").cast("bigint"), col("dst").cast("bigint")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** Peel `e0` (canonicalized, materialized, `n0` edges) to the
    * k-core fixpoint. Returns (converged persisted degree table,
    * converged edge set, edge count). ONE count() action per round:
    * the degree shuffle materializes into its persist handle as a
    * side effect of the new-edge count (both anti-join branches read
    * the same InMemoryRelation, so degrees compute once), and the
    * converged round's cached degree table IS core()'s output —
    * never isEmpty/take(1), which would populate the cache only
    * partially.
    */
  private def peelTo(e0: DataFrame, n0: Long, k: Int,
      maxRounds: Int): (DataFrame, DataFrame, Long) = {
    var e = e0
    var n = n0
    var rounds = 0
    while (true) {
      require(rounds <= maxRounds,
        s"k-core peel did not converge within $maxRounds rounds")
      // LAZY local checkpoint, not persist: both anti-join branches
      // below reference the degree table, so with a persisted frame
      // the LOGICAL plan contains the degree subtree (and its whole
      // upstream round lineage) twice — doubling per round, 2^r plan
      // copies between the every-8th-round edge checkpoints. The
      // r13 190-query PlanShapeSpec sweep OOM'd the default 8 GB heap
      // rendering that string inside AQE's plan-update logging. A
      // checkpointed frame enters both branches as a one-line
      // LogicalRDD, so the per-round plan is CONSTANT size; blocks
      // still materialize as a side effect of the same single count
      // action per round (lazy), and execution work is unchanged.
      val deg = degrees(e).localCheckpoint(false)
      val drop = deg.filter(col("degree") < k).select(col("node"))
      val ne = e
        .join(drop.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
        .join(drop.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
        .select(col("a"), col("b"))
      // lineage stays bounded: a real checkpoint copy every 8th
      // round, a plain persist otherwise
      val mat = if ((rounds + 1) % 8 == 0) ne.localCheckpoint()
        else ne.persist()
      val nn = mat.count()
      if (nn == n) {           // fixpoint: no node fell below k
        PlanCache.free(mat)
        return (deg, e, n)
      }
      PlanCache.free(deg)
      // drop the replaced round's edges once the new ones are fully
      // materialized (the count above): live residency stays at two
      // edge frames + one degree table regardless of peel depth
      PlanCache.free(e)
      e = mat
      n = nn
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Peel-layer summary: for each k in [1, kMax], the k-core's node
    * and edge count — the density profile of the candidate graph
    * (how fast it erodes under peeling distinguishes clique-heavy
    * from chain-heavy corpora at a glance).
    *
    * ONE progressive peel, not kMax restarts: the (k+1)-core is a
    * subgraph of the k-core, so the peel at threshold k+1 resumes
    * from the k-core's surviving edge set — the degeneracy ordering
    * computed incrementally. Total work is the single full peel to
    * the kMax-core plus one bounded degree-agg job per recorded k
    * (nodes + edges from the same aggregate), versus the r12 shape
    * that re-peeled the FULL graph once per k (O(kMax) full passes —
    * the first plan that worked, not the scale plan).
    */
  def profile(edges: DataFrame, kMax: Int, maxRounds: Int = 200): DataFrame = {
    require(kMax >= 1, "kMax >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    var e = canonical(edges).sharedCheckpoint()
    var n = e.count()
    val rows = Seq.newBuilder[(Int, Long, Long)]
    (1 to kMax).foreach { k =>
      // the peel frees the previous k's edge frame once it moves past it
      val (deg, ek, nk) = peelTo(e, n, k, maxRounds)
      // nodes from one tiny job over the converged CACHED degree
      // table; edges are the running count the peel already knows.
      // An empty core contributes (k, 0, 0).
      rows += ((k, deg.count(), nk))
      PlanCache.free(deg)
      e = ek
      n = nk
    }
    rows.result().toDF("k", "n_nodes", "n_edges")
  }
}
