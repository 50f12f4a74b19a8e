package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.gtfs.{FeedAssembler, GtfsSchemas, ProtoWire}
import graft.streaming.{GtfsRtPipeline, MqttBroker, UpdateWire}

/** The realtime path of `gtfs-feed-ops`: the trip-update stream from the
  * in-JVM `MqttBroker` through the `graft-mqtt` source,
  * `UpdateWire.parseUpdates` and `GtfsRtPipeline.start` into a
  * `ParquetStateStore`, and the feed the server assembles from that store.
  */
object Realtime {

  val Topic = "gtfsrt/trip_update/bench"
  val TtlSeconds = 7200L
  val StartDate = "20240313"

  /** Micro-batch progress, one record per batch that read messages. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var endOffset = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      p.sources.headOption.filter(_.endOffset != null).foreach { src =>
        val start = Option(src.startOffset).map(_.trim.toLong).getOrElse(0L)
        val end = src.endOffset.trim.toLong
        if (end > start) {
          batches.add(Map(
            "batch" -> p.batchId,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            "start_offset" -> start, "end_offset" -> end,
            "latest_offset" -> Option(src.latestOffset).map(_.trim.toLong).getOrElse(end)))
          endOffset = math.max(endOffset, end)
        }
      }
    }
  }

  /** A running pipeline over a fresh named broker. */
  final class Stream(val spark: SparkSession, val broker: MqttBroker.Broker, brokerName: String,
      val query: StreamingQuery, val progress: Progress) {
    /** Publish every payload, stamped with its publish time, and wait until
      * the stream has committed all of them; returns the publish times. */
    def publishAndDrain(payloads: Seq[String], timeoutMs: Long): Seq[Long] = {
      val sent = payloads.map { p =>
        val ts = System.currentTimeMillis()
        broker.publish(Topic, p, ts)
        ts
      }
      val end = broker.endSeq
      val deadline = System.currentTimeMillis() + timeoutMs
      while (progress.endOffset < end && query.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      query.exception.foreach(e => throw e)
      if (progress.endOffset < end)
        throw new IllegalStateException(s"stream committed ${progress.endOffset} of $end messages")
      sent
    }

    def stop(): Unit = {
      try query.stop() finally {
        MqttBroker.drop(brokerName)
        spark.streams.removeListener(progress)
      }
    }
  }

  def startStream(spark: SparkSession, trips: DataFrame, stopTimes: DataFrame,
      store: GtfsRtPipeline.ParquetStateStore, checkpoint: String): Stream = {
    val name = s"perfbench-${System.nanoTime()}"
    val broker = MqttBroker.get(name)
    val progress = new Progress
    spark.streams.addListener(progress)
    val wire = spark.readStream.format("graft-mqtt")
      .option("broker", name)
      .option("subscriptions", "gtfsrt/trip_update/#:trip_updates")
      .load()
    val updates = UpdateWire.parseUpdates(wire.filter(col("sub_type") === "trip_updates"), "payload")
    val query = GtfsRtPipeline.start(updates, trips, stopTimes, store, TtlSeconds, Some(checkpoint))
    new Stream(spark, broker, name, query, progress)
  }

  /** The store's latest version as the two frames the feed assembler takes. */
  def feedEntities(spark: SparkSession, store: GtfsRtPipeline.ParquetStateStore): DataFrame =
    store.read(spark) match {
      case Some(state) =>
        val tu = state.select(col("trip_update_id"), col("matched_trip_id").as("trip_id"),
          col("route_id").as("trip_route_id"),
          lit(null).cast("string").as("trip_direction_id"),
          col("start_time").as("trip_start_time"),
          lit(StartDate).as("trip_start_date"),
          lit("SCHEDULED").as("trip_schedule_relationship"),
          lit(null).cast("string").as("vehicle_id"),
          lit(null).cast("string").as("vehicle_label"),
          lit(null).cast("string").as("vehicle_license_plate"),
          lit(null).cast("string").as("vehicle_wheelchair_accessible"))
        val stus = state
          .select(col("trip_update_id"), explode(col("stop_time_updates")).as("stu"))
          .select(col("trip_update_id"),
            col("stu.stop_sequence").as("stop_sequence"),
            col("stu.stop_id").as("stop_id"),
            lit(null).cast("bigint").as("arrival_time"),
            lit(0).as("arrival_delay"),
            lit(null).cast("int").as("arrival_uncertainty"),
            lit(null).cast("bigint").as("departure_time"),
            lit(null).cast("int").as("departure_delay"),
            lit(null).cast("int").as("departure_uncertainty"),
            lit("SCHEDULED").as("schedule_relationship"))
        FeedAssembler.tripUpdateEntities(tu, stus)
      case None =>
        def empty(name: String) = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], GtfsSchemas.realtimeTables(name))
        FeedAssembler.tripUpdateEntities(empty("realtime_trip_updates"),
          empty("realtime_trip_stop_time_updates"))
    }

  /** One keep-alive HTTP/1.1 connection: GET, returning status, body and
    * the time the first response byte arrived. */
  final class HttpConn(port: Int) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _

    def close(): Unit = if (sock != null) try sock.close() catch { case _: Throwable => () }

    private def line(): String = {
      val b = new ByteArrayOutputStream
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') b.write(c); c = in.read() }
      if (c == -1 && b.size == 0) throw new java.io.EOFException("connection closed")
      b.toString(StandardCharsets.ISO_8859_1)
    }

    def get(path: String): (Int, Array[Byte], Long) = {
      if (sock == null || sock.isClosed) {
        sock = new Socket("127.0.0.1", port)
        sock.setTcpNoDelay(true)
        in = new BufferedInputStream(sock.getInputStream)
        out = sock.getOutputStream
      }
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: keep-alive\r\n\r\n"
        .getBytes(StandardCharsets.ISO_8859_1))
      out.flush()
      val first = in.read()
      val firstNs = System.nanoTime()
      if (first == -1) throw new java.io.EOFException("connection closed")
      val status = (first.toChar + line()).split(" ")(1).toInt
      var length = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          length = h.substring(i + 1).trim.toInt
        h = line()
      }
      val body = in.readNBytes(length)
      (status, body, firstNs)
    }
  }

  /** Entity ids and header timestamp of one FeedMessage. */
  def decode(pbf: Array[Byte]): (Seq[String], Long) = {
    val msg = ProtoWire.parse(pbf)
    val header = msg.collectFirst { case (1, b: ProtoWire.PBytes) => b.fields }.getOrElse(Nil)
    val ts = header.collectFirst { case (3, ProtoWire.PVarint(v)) => v }.getOrElse(-1L)
    val ids = msg.collect { case (2, b: ProtoWire.PBytes) =>
      b.fields.collectFirst { case (1, s: ProtoWire.PBytes) => s.utf8 }.getOrElse("")
    }
    (ids, ts)
  }
}
