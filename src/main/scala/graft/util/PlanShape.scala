package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Canonicalized physical-plan SHAPE of a query — the operator counts
  * that decide 100 TB behavior (shuffles, broadcast builds, join
  * strategy, unpartitioned windows) — as a committed, diffable
  * manifest (`docs/plan_shapes.tsv`) instead of an eyeball pass over a
  * full plan dump.
  *
  * The walk is CACHE-ORDER-INDEPENDENT: `InMemoryTableScan` nodes are
  * expanded into their cached subtree, so a query measured after a
  * sibling warmed a shared projection counts the same shapes as one
  * measured standalone. AQE wrappers are traversed via `inputPlan` /
  * `QueryStageExec.plan`, so the counts describe the static plan
  * Catalyst produced (the thing a code change regresses), not a
  * runtime re-plan.
  */
object PlanShape {

  /** One query's shape: every count a scale review asks about. */
  case class Counts(
      shuffles: Int,
      broadcasts: Int,
      sortMergeJoins: Int,
      bnlJoins: Int,
      cartesians: Int,
      unpartitionedWindows: Int) {
    def tsv: String =
      s"$shuffles\t$broadcasts\t$sortMergeJoins\t$bnlJoins\t$cartesians\t$unpartitionedWindows"
  }

  object Counts {
    val header = "shuffles\tbroadcasts\tsort_merge_joins\tbnl_joins\tcartesians\tunpartitioned_windows"
    def fromTsv(fields: Array[String]): Counts =
      Counts(fields(0).toInt, fields(1).toInt, fields(2).toInt,
        fields(3).toInt, fields(4).toInt, fields(5).toInt)
  }

  /** Queries ALLOWED unpartitioned WindowExec nodes — each one a
    * window whose input is BOUNDED by construction, audited r9/r10:
    *   - EquiDepth's coarse-offset windows run over <= 64 rows
    *     (EquiDepth.scala:93,136), and its measured auto policy only
    *     chooses a single window under the distinct-count cutoff
    *     (cumAutoMultiCounted, EquiDepth.scala:174; docs/EQUIDEPTH.md)
    *   - RankEval's lift table runs a window over <= bands rows
    *     (RankEval.scala:171)
    * Anything OFF this list with an unpartitioned window is a genuine
    * scale regression: the whole input serializes through one task.
    */
  val BoundedWindowQueries: Set[String] = Set(
    // EquiDepth prefix device: coarse-offset windows over <= 64
    // bucket rows (EquiDepth.scala:93,136), single window only under
    // the measured distinct-count cutoff (cumAutoMultiCounted,
    // EquiDepth.scala:174; docs/EQUIDEPTH.md)
    "q_equidepth", "q_conformal", "q_roc_points", "q_stump",
    "q_auc_global", "q_chi2_features", "q_key_skew", "q_psi",
    "q_ppl_buckets",
    // RankEval lift: <= bands-row band window (RankEval.scala:171)
    "q_lift",
    // DoReMi step: min-ce + normalizer windows over the per-source
    // cross-entropy table — one row per mixture domain by
    // construction (DomainReweight.scala, `ce` groupBy source)
    "q_domain_reweight",
    // coarse-range offset windows over <= ScoreRanges/RangeWidth
    // bucket rows (Selection.scala:63, SystematicSampling.scala:58,
    // Allocation's Hamilton pass over <= strata rows)
    "q_token_budget", "q_systematic_sample", "q_proportional_sample",
    // one assembled GTFS-RT feed snapshot is a SINGLE bounded message
    // by definition — entity_pos is the feed's serialization order
    // (CoreQueries.scala:254)
    "q_feed_assembly"
  )

  /** Every node in the plan, through AQE wrappers, cached subtrees,
    * reused exchanges, and expression subqueries.
    */
  def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val extra: Seq[SparkPlan] = p match {
      // initialPlan, NOT inputPlan: inputPlan is pre-EnsureRequirements
      // (no exchanges yet); initialPlan is the deterministic
      // post-planning tree before any runtime re-optimization
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    Iterator(p) ++ (p.children ++ p.subqueries ++ extra).iterator.flatMap(walk)
  }

  def counts(df: DataFrame): Counts = {
    val nodes = walk(df.queryExecution.executedPlan).toVector
    Counts(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      sortMergeJoins = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bnlJoins = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      cartesians = nodes.count(_.isInstanceOf[CartesianProductExec]),
      unpartitionedWindows = nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }

  /** Shapes for every SparkEntry query over `dir`, sorted by name.
    * Building a frame may run a bounded eager job (model-literal ops);
    * that also warms shared projections, so iteration order is fixed
    * (sorted) to keep any residual effects identical between the
    * manifest generator and the CI check.
    */
  def shapesForAll(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Counts)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), i) =>
      // bounded cache residency, the Verify device: ~183 builds'
      // shared fixtures in one 8 GB JVM OOM'd the r13 manifest dump —
      // drop every PlanCache handle each 12 queries (name order keeps
      // fixture-sharing families adjacent inside a window; 24 OOM'd
      // again at 190 queries once the C144 graph family landed)
      if (i > 0 && i % 12 == 0) graft.util.PlanCache.clear(spark)
      System.err.println(s"[planshape] $i $name")
      name -> counts(fn(spark, dir))
    }

  def renderManifest(shapes: Seq[(String, Counts)]): String =
    (s"query\t${Counts.header}" +: shapes.map { case (q, c) => s"$q\t${c.tsv}" })
      .mkString("", "\n", "\n")

  def parseManifest(text: String): Seq[(String, Counts)] =
    text.linesIterator.drop(1).filter(_.nonEmpty).map { line =>
      val f = line.split("\t")
      f(0) -> Counts.fromTsv(f.drop(1))
    }.toSeq
}
