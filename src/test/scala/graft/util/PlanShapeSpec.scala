package graft.util

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The plan-shape audit as CI: every SparkEntry query's operator
  * counts (shuffles, broadcasts, join strategies, unpartitioned
  * windows) must match the committed manifest, and unpartitioned
  * WindowExec nodes are allowed ONLY for the audited bounded-window
  * queries. A new Exchange, a join that degrades to BNLJ/cartesian,
  * or a window that loses its partitioning now fails `sbt test`
  * instead of hiding in a plan-dump diff. The manifest,
  * `docs/plan_shapes.tsv`, is the one committed per-query plan record.
  *
  * Intentional plan changes: regenerate with
  * `sbt "runMain graft.PlanShapeDump"` and commit the new manifest.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private lazy val manifest: Map[String, PlanShape.Counts] =
    PlanShape.parseManifest(
      Files.readString(Paths.get(graft.PlanShapeDump.ManifestPath))).toMap

  private lazy val current: Seq[(String, PlanShape.Counts)] =
    PlanShape.shapesForAll(spark, graft.PlanShapeDump.SfDir)

  test("every query's plan shape matches the committed manifest") {
    val drift = current.flatMap { case (q, c) =>
      manifest.get(q) match {
        case None => Some(s"$q: not in manifest (new query? run PlanShapeDump)")
        case Some(m) if m != c => Some(s"$q: manifest=$m current=$c")
        case _ => None
      }
    }
    val removed = (manifest.keySet -- current.map(_._1)).toSeq.sorted
      .map(q => s"$q: in manifest but no longer in SparkEntry.queries")
    assert(drift.isEmpty && removed.isEmpty,
      s"\nplan-shape drift (regenerate via `runMain graft.PlanShapeDump` if intentional):\n" +
        (drift ++ removed).mkString("\n"))
  }

  test("unpartitioned windows only on the audited bounded-window whitelist") {
    val offenders = current.collect {
      case (q, c) if c.unpartitionedWindows > 0 &&
        !PlanShape.BoundedWindowQueries.contains(q) => s"$q (${c.unpartitionedWindows})"
    }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the bounded whitelist — the whole " +
        s"input serializes through ONE task at scale: ${offenders.mkString(", ")}")
  }

  test("no cartesian products anywhere") {
    val offenders = current.collect { case (q, c) if c.cartesians > 0 => q }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("bounded-window whitelist is backed by MEASURED cardinality, not comments") {
    // A window never changes cardinality, so after execution each
    // unpartitioned WindowExec's own numOutputRows metric IS the row
    // count that serialized through the single task. Each whitelisted
    // query's windows must stay within the bound its whitelist entry
    // documents (PlanShape.BoundedWindowQueries) — the r12 audit
    // asserted these bounds in prose only.
    import org.apache.spark.sql.execution.window.WindowExec
    val bounds = Map(
      // EquiDepth coarse-offset device: <= 64 bucket rows
      // (EquiDepth.scala:93,136; docs/EQUIDEPTH.md)
      "q_equidepth" -> 64L, "q_conformal" -> 64L, "q_roc_points" -> 64L,
      "q_stump" -> 64L, "q_auc_global" -> 64L, "q_chi2_features" -> 64L,
      "q_psi" -> 64L, "q_ppl_buckets" -> 64L,
      // keySkew: <= topN winners + the distinct-group-size prefix sum
      // (O(sqrt(rows)) sizes; Diagnostics.scala:60-72)
      "q_key_skew" -> 256L,
      // liftTable: <= bands band rows (RankEval.scala:169-174)
      "q_lift" -> 64L,
      // DoReMi step: min-ce + normalizer windows over the per-source
      // cross-entropy table — one row per mixture domain
      // (DomainReweight.scala `ce` groupBy source)
      "q_domain_reweight" -> 64L,
      // coarse-range offsets: <= ScoreRanges (Selection.scala:34) /
      // HashRanges (SystematicSampling.scala:42) bucket rows; the
      // Hamilton pass runs over <= strata rows (Allocation)
      "q_token_budget" -> 512L, "q_systematic_sample" -> 512L,
      "q_proportional_sample" -> 64L,
      // one assembled GTFS-RT feed snapshot: entity_pos over the
      // single bounded message (CoreQueries.scala:254)
      "q_feed_assembly" -> 4096L)
    assert(bounds.keySet == PlanShape.BoundedWindowQueries,
      "every whitelist entry needs a measured bound (and vice versa)")
    val violations = bounds.toSeq.sortBy(_._1).flatMap { case (q, bound) =>
      val df = graft.SparkEntry.queries(q)(spark, graft.PlanShapeDump.SfDir)
      df.collect() // execute so metrics carry real row counts
      PlanShape.walk(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.toVector.filter(_ > bound).map(rows => s"$q: window saw $rows rows > bound $bound")
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("positive control: an injected unpartitioned window IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bad = Seq(1L, 2L).toDF("v")
      .withColumn("r", row_number().over(Window.orderBy(col("v"))))
    assert(PlanShape.counts(bad).unpartitionedWindows == 1)
    val good = Seq((1L, 1L)).toDF("g", "v")
      .withColumn("r", row_number().over(Window.partitionBy(col("g")).orderBy(col("v"))))
    assert(PlanShape.counts(good).unpartitionedWindows == 0)
  }
}
