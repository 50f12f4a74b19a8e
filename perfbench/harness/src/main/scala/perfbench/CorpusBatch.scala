package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.util.PlanCache

/** `corpus-batch`: graft's query surface, one closed-loop client.
  *
  * Each query's whole result is computed from cold parquet: the frame is
  * built (driver-side build, with its eager fit and guard jobs), planned
  * (`executedPlan`), then its own physical plan is executed and every
  * output row fingerprinted. `PlanCache.clear` runs after every query,
  * so no query reuses another's cached intermediates.
  */
object CorpusBatch {

  type Query = (SparkSession, String) => DataFrame

  /** The query modules, in `SparkEntry.queries` order. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.defs,
    "TextQueries" -> graft.queries.TextQueries.defs,
    "VectorQueries" -> graft.queries.VectorQueries.defs,
    "PipelineQueries" -> graft.queries.PipelineQueries.defs,
    "CorpusQueries" -> graft.queries.CorpusQueries.defs,
    "DedupQueries" -> graft.queries.DedupQueries.defs,
    "CurationQueries" -> graft.queries.CurationQueries.defs,
    "TextKernelQueries" -> graft.queries.TextKernelQueries.defs,
    "AnnQueries" -> graft.queries.AnnQueries.defs,
    "ClassifierQueries" -> graft.queries.ClassifierQueries.defs,
    "EvalQueries" -> graft.queries.EvalQueries.defs,
    "GraphQueries" -> graft.queries.GraphQueries.defs,
    "LinkageQueries" -> graft.queries.LinkageQueries.defs,
    "AuditQueries" -> graft.queries.AuditQueries.defs,
    "RelationalQueries" -> graft.queries.RelationalQueries.defs)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap

  /** Oracle SQL and module of every query, for recording expectations. */
  def dumpOracles(): Map[String, Any] = Map(
    "oracles" -> graft.SparkEntry.oracleSql,
    "modules" -> moduleOf)

  def run(a: Harness.Args, trace: Trace): Map[String, Any] = {
    val data = a("data")
    val work = a("work")
    val cores = a.int("cores", 4)
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val all = graft.SparkEntry.queries
    names.foreach(n => require(all.contains(n), s"unknown query $n"))

    val (setups, spark) = Harness.repeatSetup(a.int("setups", 3)) { () =>
      val spark = Harness.session(cores, work)
      // warm-up reads and view registration are session set-up, as in
      // graft.Bench: every table is scanned once, nothing is cached
      Tables.all.foreach(t => Tables.read(spark, data, t).count())
      Tables.registerViews(spark, data)
      spark
    }(_.stop())
    // untimed warm-up queries, outside the timed set, take the JVM's
    // first-query costs off whichever timed query the seed puts first
    a.get("warmup").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).foreach { n =>
      Fingerprint.ofPlan(all(n)(spark, data))
      PlanCache.clear(spark)
    }
    val sc = spark.sparkContext
    trace.attach(sc)

    val records = for {
      pass <- 1 to a.int("passes", 1)
      name <- names
    } yield {
      val key = s"$name#$pass"
      var rec = Map[String, Any]("query" -> name, "module" -> moduleOf(name), "pass" -> pass)
      try {
        val live0 = Harness.liveMb()
        sc.setJobGroup(s"q/$key/build", name)
        val c0 = Harness.cpu()
        val t0 = System.nanoTime()
        val df = all(name)(spark, data)
        val t1 = System.nanoTime()
        sc.setJobGroup(s"q/$key/plan", name)
        val qe = df.queryExecution
        qe.executedPlan
        val t2 = System.nanoTime()
        sc.setJobGroup(s"q/$key/exec", name)
        val fp = Fingerprint.ofPlan(df)
        val t3 = System.nanoTime()
        val (cpuS, jitS) = Harness.cpu().since(c0)
        val root = trace.add("query", key, t0, t3)
        trace.add("build", key, t0, t1, root)
        trace.add("plan", key, t1, t2, root)
        trace.add("exec", key, t2, t3, root)
        rec ++= Map(
          "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9, "latency_s" -> (t3 - t0) / 1e9, "cpu_s" -> cpuS, "jit_s" -> jitS,
          "rows" -> fp.rows, "fingerprint" -> fp.hex,
          "phases_ms" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
        if (trace.enabled) {
          val info = sc.getRDDStorageInfo
          rec ++= Map(
            "cache_bytes" -> info.map(r => r.memSize + r.diskSize).sum,
            "cache_blocks" -> info.map(_.numCachedPartitions.toLong).sum)
        }
        // memory the query still holds at its end, before its cache is cleared
        rec += ("held_mb" -> (Harness.liveMb() - live0))
      } catch {
        case t: Throwable => rec += ("error" -> Harness.errorText(t))
      } finally {
        sc.clearJobGroup()
        PlanCache.clear(spark)
      }
      if (trace.enabled && !rec.contains("error")) {
        // count-mode continuity: the same query timed under .count()
        try {
          sc.setJobGroup(s"c/$key", name)
          val (_, ns, _) = trace.span("count", key)(all(name)(spark, data).count())
          rec += ("count_s" -> ns / 1e9)
        } catch {
          case t: Throwable => rec += ("count_error" -> Harness.errorText(t))
        } finally {
          sc.clearJobGroup()
          PlanCache.clear(spark)
        }
      }
      rec
    }
    trace.drain(sc)
    val out = Map("workload" -> "corpus-batch", "setups" -> setups, "cores" -> cores,
      "queries" -> records)
    trace.detach(sc)
    spark.stop()
    out
  }
}
