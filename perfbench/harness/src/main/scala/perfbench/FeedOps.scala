package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.Main
import graft.gtfs.{GtfsFeed, RealtimeApp, RealtimeHttp, TripMatcher}
import graft.streaming.{GtfsRtPipeline, UpdateWire}
import graft.util.GraftConfig

/** `gtfs-feed-ops`: the reference CLI's static sequence, one closed-loop
  * client. Per cycle: load the zip and save it; remove routes by LIKE
  * with the cascade and save; drop a subset feed in and save; read the
  * operation-day trips, the monitor and one SQL statement, each as its
  * whole result; export the feed to a zip; stream the seeded trip
  * updates through the realtime pipeline into a state store; serve the
  * trip-update feed once over HTTP. Every step opens the
  * database the previous one saved, so it reads persisted parquet.
  * Each step writes its own database directory, so the checks can read
  * every intermediate state after the run.
  */
object FeedOps {

  def run(a: Harness.Args, trace: Trace): Map[String, Any] = {
    val data = a("data")
    val work = a("work")
    val cores = a.int("cores", 4)
    val day = LocalDate.parse(a("op-day"))
    val removeLike = a("remove-like")
    val sqlText = a("sql")
    val subsetDb = s"$data/subset_db"
    val updates = Files.readAllLines(Paths.get(s"$data/payloads.txt")).asScala.toSeq
      .take(a.int("rt-batch", 200) * a.int("rt-batches", 2))

    val (setups, spark) = Harness.repeatSetup(a.int("setups", 3)) { () =>
      val spark = Harness.session(cores, work)
      // open the subset database `drop` merges in (schemas only)
      Main.openDb(spark, subsetDb)
      spark
    }(_.stop())
    val sc = spark.sparkContext
    trace.attach(sc)

    // memory in use after a full collection, at the end of the last step
    var live = Harness.liveMb()

    def step(cycle: Int, name: String)(body: (String => Unit) => Map[String, Any]): Map[String, Any] = {
      val key = s"$name#$cycle"
      var marks = Vector.empty[(String, Long)]
      var rec = Map[String, Any]("step" -> name, "cycle" -> cycle)
      val live0 = live
      sc.setJobGroup(s"g/$key/$name", name)
      val c0 = Harness.cpu()
      val t0 = System.nanoTime()
      // `mark(part)` ends the current part and starts the next job group
      def mark(next: String): Unit = {
        marks :+= (next -> System.nanoTime())
        sc.setJobGroup(s"g/$key/$next", name)
      }
      try {
        val extra = body(mark)
        val t1 = System.nanoTime()
        val (cpuS, jitS) = Harness.cpu().since(c0)
        val bounds = (name -> t0) +: marks
        val parts = bounds.zip(bounds.drop(1).map(_._2) :+ t1).map { case ((p, s), e) => (p, s, e) }
        val root = trace.add("step", key, t0, t1)
        parts.foreach { case (p, s, e) => trace.add(p, key, s, e, root) }
        rec ++= extra ++ Map("latency_s" -> (t1 - t0) / 1e9, "cpu_s" -> cpuS, "jit_s" -> jitS,
          "parts_s" -> parts.map { case (p, s, e) => p -> (e - s) / 1e9 }.toMap,
          "held_mb" -> { live = Harness.liveMb(); live - live0 })
      } catch {
        case t: Throwable => rec += ("error" -> Harness.errorText(t))
      } finally sc.clearJobGroup()
      rec
    }

    val steps = for (c <- 1 to a.int("cycles", 1)) yield {
      val dir = s"$work/cycle$c"
      Seq(
        step(c, "load") { mark =>
          val feed = GtfsFeed.loadStaticZip(spark, s"$data/feed.zip")
          mark("save")
          Main.saveDb(feed, s"$dir/load")
          Map.empty
        },
        step(c, "remove") { mark =>
          val feed = Main.openDb(spark, s"$dir/load").removeRoutes(removeLike)
          mark("save")
          Main.saveDb(feed, s"$dir/remove")
          Map.empty
        },
        step(c, "drop") { mark =>
          val feed = Main.openDb(spark, s"$dir/remove").dropSubset(Main.openDb(spark, subsetDb))
          mark("save")
          Main.saveDb(feed, s"$dir/drop")
          Map.empty
        },
        step(c, "day_trips") { _ =>
          Map("rows" -> Main.openDb(spark, s"$dir/drop")
            .nominalOperationDayTrips(day, fullTrips = true).collect().length)
        },
        step(c, "monitor") { _ =>
          val rt = Main.openRealtimeTables(spark, s"$dir/drop")("realtime_trip_updates")
          Map("rows" -> Main.openDb(spark, s"$dir/drop").monitorTrips(day, rt).df.collect().length)
        },
        step(c, "sql") { _ =>
          Map("rows" -> Main.openDb(spark, s"$dir/drop").sql(sqlText).collect().length)
        },
        step(c, "export") { _ =>
          Main.openDb(spark, s"$dir/drop").exportStatic(s"$dir/export.zip")
          Map.empty
        },
        step(c, "rt_stream") { mark =>
          // the realtime pipeline over the graft-mqtt source, matching
          // against the loaded feed: each burst of updates is published
          // into the in-JVM broker and committed before the next one
          val feed = Main.openDb(spark, s"$dir/load")
          val store = new GtfsRtPipeline.ParquetStateStore(s"$dir/rt_state")
          val stream = Realtime.startStream(spark, feed.table("trips"), feed.table("stop_times"),
            store, s"$dir/rt_checkpoint")
          try {
            val sent = updates.grouped(a.int("rt-batch", 200)).zipWithIndex.flatMap { case (b, i) =>
              mark(s"burst${i + 1}")
              stream.publishAndDrain(b, 60000L)
            }.toSeq
            mark("stop")
            Map("publish_ms" -> sent, "stream_group" -> stream.query.runId.toString,
              "batches" -> stream.progress.batches.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]))
          } finally stream.stop()
        },
        step(c, "rt_serve") { _ =>
          // one GET of the trip-update feed from the ingested store
          val store = new GtfsRtPipeline.ParquetStateStore(s"$dir/rt_state")
          var assembleStart = 0L
          val app = new RealtimeApp(GraftConfig.defaults, () => spark.emptyDataFrame,
            () => { assembleStart = System.nanoTime(); Realtime.feedEntities(spark, store) },
            () => spark.emptyDataFrame)
          val http = new RealtimeHttp(app, GraftConfig.defaults, 0).start()
          val conn = new Realtime.HttpConn(http.boundPort)
          try {
            val t0 = System.nanoTime()
            val (status, body, firstNs) = conn.get(GraftConfig.defaults.endpoint("trip_updates"))
            val t1 = System.nanoTime()
            val (ids, _) = Realtime.decode(body)
            Map("status" -> status, "ids" -> ids, "bytes" -> body.length,
              "assemble_s" -> (firstNs - assembleStart) / 1e9, "request_s" -> (t1 - t0) / 1e9)
          } finally { conn.close(); http.stop() }
        })
    }
    // parse and match ratios of the ingested updates, counted by the same
    // graft functions outside the timed steps (traced runs only)
    val ratios = if (!trace.enabled) Map.empty else {
      import spark.implicits._
      val feed = Main.openDb(spark, s"$work/cycle1/load")
      val parsed = UpdateWire.parseUpdates(updates.toDF("value"))
      Map("parsed" -> parsed.count(),
        "matched" -> TripMatcher.matchTrips(parsed, feed.table("trips"), feed.table("stop_times")).count())
    }
    trace.drain(sc)
    // one root span per micro-batch, from the stream's progress reports
    for (rec <- steps.flatten; b <- rec.get("batches").toSeq.flatMap(_.asInstanceOf[Seq[Map[String, Any]]])) {
      val d = b("duration_ms").asInstanceOf[Map[String, Long]]
      val s0 = b("start_ms").asInstanceOf[Long] * 1000000L
      val key = s"${rec("step")}#${rec("cycle")}/${b("batch")}"
      val root = trace.add("batch", key, s0, s0 + d.getOrElse("triggerExecution", 0L) * 1000000L)
      d.foreach { case (k, v) => if (k != "triggerExecution") trace.add(k, key, s0, s0 + v * 1000000L, root) }
    }
    val out = Map("workload" -> "gtfs-feed-ops", "setups" -> setups, "cores" -> cores,
      "steps" -> steps.flatten, "published" -> updates.size) ++ ratios
    trace.detach(sc)
    spark.stop()
    out
  }
}
