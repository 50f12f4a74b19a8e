package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the SF dir from
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  * A warmup action first (not timed) so the first measured query
  * doesn't carry JVM/codegen warmup. Each query is timed
  * SPARK_GRAFT_BENCH_PASSES times (default 3) and the minimum is
  * reported — the steady-state number, robust to concurrent machine
  * load; the 1-min loadavg is recorded before AND after the run so a
  * noisy window is visible in the artifact itself. Passes are COLD
  * by default: shared caches clear after every pass (see below).
  *
  * The complete JSON is also written to a results file
  * (SPARK_GRAFT_BENCH_OUT, default /tmp/graft_bench_latest.json) so
  * the artifact survives log-tail truncation — the r5/r6 verdicts
  * both flagged BENCH_r{N}.json captures that dropped the first
  * queries from the stdout line.
  */
object Bench {
  private def loadAvg1m(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  // explicit-locale rendering: f"$v%.4f" uses the default JVM locale,
  // which under e.g. de_DE renders "0,1234" and corrupts the JSON
  private def d4(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // best-of-3 by default (r12 lesson: the 2-pass driver artifact
    // landed 1.6x outside the same-code evidence band under load —
    // one extra pass buys the min real steady-state headroom)
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Loadavg gate: a bench started under concurrent machine load
    // measures the box, not the engine (BENCH_r12 landed at 118.6 s
    // under loadavg 6.9 vs a 72.6 s committed pair on the same code).
    // Wait for the 1-min load to drop below the gate before starting,
    // bounded so a permanently-busy box still produces an artifact —
    // the wait and the load at start are recorded in the JSON either
    // way, so the reader can see whether the gate was satisfied.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOADGATE", "2.0").toDouble
    val gateMaxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOADGATE_WAIT", "240").toInt
    var gateWaitedSec = 0
    while (loadAvg1m() >= loadGate && gateWaitedSec < gateMaxWaitSec) {
      Thread.sleep(5000)
      gateWaitedSec += 5
    }
    // default INSIDE the repo (r9 verdict: /tmp is outside the tree,
    // so the only committed per-query bench was a stale docs/ copy) —
    // the forked JVM's cwd is the project base directory
    // absolutized immediately: a run launched from another cwd then
    // ADVERTISES where it actually wrote (the stdout "out" field),
    // instead of a repo-relative path that points nowhere.
    // KEYED BY CPU COUNT (r13 verdict task 2): the driver benches the
    // same tree at two core counts back-to-back, and a single shared
    // default path let the second run clobber the first — PERF_r13
    // lost both per-query maps to that filename. One artifact per
    // core count survives consecutive runs.
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"docs/bench_latest_c$cpus.json")
    ).getAbsolutePath
    val loadBefore = loadAvg1m()
    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)

    // Warmup reads every table once (OS page cache + footer/codec
    // warm + JVM/codegen machinery exercised) but does NOT persist
    // the base tables: every timed query computes from the parquet
    // inputs, symmetric with the DuckDB half (ducktime.py reads
    // parquet-backed views each pass). SPARK_GRAFT_BENCH_WARM_TABLES=1
    // restores the pre-r13-opt behavior (persist all base tables in
    // warmup) for A/B comparability with the historical artifacts
    // (the delta was measured at +7.4 s on identical r13 code).
    val warmTables = sys.env.get("SPARK_GRAFT_BENCH_WARM_TABLES").exists(_ == "1")
    Tables.all.foreach { t =>
      val df = Tables.read(spark, sfDir, t)
      (if (warmTables) df.persist() else df).count()
    }
    // view registration is session setup, same as the DuckDB harness
    // creating its views before timing (scripts/selfcheck.py)
    Tables.registerViews(spark, sfDir)
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()

    // A failed query must be LOUD: the r11 sf10 sweep OOM'd mid-run
    // (fork at the default -Xmx8g), the context shut down, and the
    // remaining ~50 queries each "completed" in 5 ms — the old
    // swallow-and-time-anyway shape recorded them as if they ran, and
    // the corrupt artifact was only caught by eyeballing the tail.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String)(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch {
        case t: Throwable =>
          failed.getOrElseUpdate(name, String.valueOf(t).replaceAll("[\"\\n\\r]", " ").take(200))
          -1.0
      }
    }

    // optional comma-separated allowlist for local iteration
    // (SPARK_GRAFT_BENCH_ONLY=q_bm25,q_vocab); unset = all queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // ... and a skip-list for scale sweeps: the three deliberate
    // design-boundary stress fixtures (brute-force bitext oracle
    // baseline, 25-block FS linkage) carried 69% of the r10 sf10
    // sweep total while their BOUNDED twins (q_bitext_lsh,
    // q_linkage_hashblock, q_linkage_em_hashblock) are hash-green at
    // sf10 — so the sf10 headline now tracks the scale paths and the
    // stress trio runs only behind an explicit flag (BENCH_SF10.md
    // keeps a stress section). At sf0.1 nothing is skipped.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // Per-query cache ownership (SPARK_GRAFT_BENCH_UNPERSIST=1): drop
    // every PlanCache handle after each query's passes, so the sweep's
    // live cache set is ONE query's intermediates plus the warmed base
    // tables — this is what bounds the sf10 sweep to the default 8 GB
    // driver heap (the r11 sweep OOM'd at 8 GB because ~180 queries'
    // shared projections accumulated; a real cluster spreads that
    // across executors, and this flag PROVES the per-query bound
    // instead of buying 28 GB of headroom). Off by default at sf0.1:
    // cross-query fixture sharing is deliberate there.
    val unpersistPerQuery =
      sys.env.get("SPARK_GRAFT_BENCH_UNPERSIST").exists(_ == "1")
    // COLD-HONEST default (r13 verdict task 1): every PlanCache handle
    // (shared fixture persists/checkpoints and the session's memos of
    // fitted models and ranked arms) is dropped
    // after EVERY timed pass — so each measured pass computes from the
    // parquet inputs, and the min-of-N is a steady-state-JVM COLD-DATA
    // number, symmetric with DuckDB re-executing every pass in full.
    // The r13 shape (pass 1 builds shared fixtures, min keeps the warm
    // passes) made cached-intermediate build cost vanish from the
    // headline. SPARK_GRAFT_BENCH_SHARED_CACHE=1 restores the warm
    // methodology for A/B against historical artifacts; the artifact
    // records which mode produced it ("cache_mode").
    val sharedCache =
      sys.env.get("SPARK_GRAFT_BENCH_SHARED_CACHE").exists(_ == "1")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip.contains(name) }
      .map { case (name, fn) =>
        val times = (0 until math.max(1, passes)).map { _ =>
          val dt = timeOnce(name)(fn)
          if (!sharedCache) graft.util.PlanCache.clear(spark)
          dt
        }
        if (unpersistPerQuery) graft.util.PlanCache.clear(spark)
        val best = times.filter(_ >= 0.0).reduceOption(_ min _)
        // only a query with NO successful pass is fatal; a one-pass
        // blip still produced a real min, so keep its number and the
        // stderr trace, but don't fail a sweep that measured
        // everything (the exit-3 contract is "this artifact is
        // missing data", not "something was retried")
        if (best.isDefined) failed.remove(name).foreach(m =>
          System.err.println(s"graft.Bench: FLAKY pass on $name (kept min of successes): $m"))
        name -> best.getOrElse(-1.0)
      }
    // HARD plan-shape gate (post-timing: every cache is warm, so the
    // re-build is plan-cost only): an unpartitioned WindowExec outside
    // the audited bounded-window whitelist means some input serializes
    // through ONE task at scale — fail the bench rather than let the
    // warning scroll past in the log tail.
    val windowOffenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val c = try graft.util.PlanShape.counts(fn(spark, sfDir)).unpartitionedWindows
          catch { case _: Throwable => 0 }
        if (c > 0 && !graft.util.PlanShape.BoundedWindowQueries.contains(name))
          Some(s"$name ($c)") else None
      }
    if (windowOffenders.nonEmpty) {
      System.err.println("graft.Bench: PLAN GATE FAILED — unpartitioned WindowExec " +
        s"outside PlanShape.BoundedWindowQueries: ${windowOffenders.mkString(", ")}")
      try spark.stop() catch { case _: Throwable => () }
      sys.exit(2)
    }
    // 4dp per query: the full double rendering made the JSON line long
    // enough that log-tail captures truncated the first queries' times
    // (r5 verdict note) — 0.1 ms resolution loses nothing measurable
    val qs = results.map { case (k, v) => "\"" + k + "\":" + d4(v) }
      .mkString("{", ",", "}")
    // total over successful queries only — a -1.0 failure marker must
    // not silently shrink (or inflate) the headline number
    val total = results.collect { case (_, v) if v >= 0.0 => v }.sum
    val errsJson = failed.map { case (k, m) => "\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val loadAfter = loadAvg1m()
    // Full artifact (with the per-query map) goes to the results FILE;
    // stdout carries only a SHORT summary line. The r7 and r8 captures
    // both proved the per-query map cannot live on the stdout line: at
    // 163 queries the one-line JSON (~3.5 KB) outgrew the driver's
    // tail-capture window and BENCH_r{7,8}.json landed "parsed": null
    // with the captured tail starting mid-map. The short line (total +
    // artifact path, ~200 bytes) always fits; the map is read from
    // SPARK_GRAFT_BENCH_OUT.
    val cacheMode = if (sharedCache) "shared" else "cold"
    val fullJson = s"""{"metric":"total","value":${d4(total)},"unit":"sec","queries":$qs,"n_failed":${failed.size},"errors":$errsJson,"sf":"$sfDir","cpus":$cpus,"passes":$passes,"cache_mode":"$cacheMode","load_gate":${d4(loadGate)},"gate_waited_sec":$gateWaitedSec,"loadavg_before":${d4(loadBefore)},"loadavg_after":${d4(loadAfter)}}"""
    val shortJson = s"""{"metric":"total","value":${d4(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"passes":$passes,"cache_mode":"$cacheMode","n_queries":${results.size},"n_failed":${failed.size},"out":"$outFile","load_gate":${d4(loadGate)},"gate_waited_sec":$gateWaitedSec,"loadavg_before":${d4(loadBefore)},"loadavg_after":${d4(loadAfter)}}"""
    try {
      val f = new java.io.File(outFile)
      Option(f.getParentFile).foreach(_.mkdirs()) // cwd-relative default needs docs/
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(fullJson) finally w.close()
      if (!f.isFile)
        System.err.println(s"graft.Bench: artifact write to $outFile produced no file")
    } catch {
      case t: Throwable =>
        // visible failure (stderr, never the stdout result line): a
        // silently-missing artifact cost r7/r8 their per-query maps
        System.err.println(s"graft.Bench: failed to write $outFile: $t")
    }
    // Print the short JSON LAST — after spark.stop(), with logging
    // muted, so it is the final line the process emits (sbt's one
    // [success] trailer aside). stop() is best-effort: a teardown
    // exception must not eat the result line the driver parses.
    try {
      spark.sparkContext.setLogLevel("OFF")
      graft.util.PlanCache.clear(spark) // own the shared-projection handles
      spark.stop()
    } catch { case _: Throwable => () }
    System.out.flush()
    println(shortJson)
    System.out.flush()
    if (failed.nonEmpty) {
      failed.foreach { case (k, m) => System.err.println(s"graft.Bench: FAILED $k: $m") }
      sys.exit(3) // a partially-failed sweep must never look green
    }
  }
}
