package graft.gtfs

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An immutable GTFS static feed: one DataFrame per table, every
  * operation a transformation returning a new feed. This is the
  * Spark-native equivalent of the reference's GtfsDuckDB class —
  * mutation-by-DELETE becomes filter/anti-join lineage.
  */
final case class GtfsFeed(spark: SparkSession, tables: Map[String, DataFrame]) {

  def table(name: String): DataFrame = tables(name)

  private def updated(name: String, df: DataFrame): GtfsFeed =
    copy(tables = tables.updated(name, df))

  /** Remove agencies matching a LIKE pattern (ddb.py:75-79). */
  def removeAgencies(pattern: String, cascade: Boolean = true): GtfsFeed = {
    val next = updated("agency",
      GtfsLake.removeWhere(table("agency"), col("agency_id"), pattern))
    if (cascade) next.removeDependentObjects() else next
  }

  /** Remove routes matching a LIKE pattern (ddb.py:81-85). */
  def removeRoutes(pattern: String, cascade: Boolean = true): GtfsFeed = {
    val next = updated("routes",
      GtfsLake.removeWhere(table("routes"), col("route_id"), pattern))
    if (cascade) next.removeDependentObjects() else next
  }

  /** Remove trips matching a LIKE pattern (ddb.py:87-91). */
  def removeTrips(pattern: String, cascade: Boolean = true): GtfsFeed = {
    val next = updated("trips",
      GtfsLake.removeWhere(table("trips"), col("trip_id"), pattern))
    if (cascade) next.removeDependentObjects() else next
  }

  /** Cascading referential cleanup, mirroring ddb.py:336-348 exactly:
    * routes without agency, trips without route, stop_times without
    * trip, plain stops no longer referenced, stations without child
    * stops, shapes without trips, transfers with dangling route/trip
    * refs, calendar/calendar_dates without trips.
    *
    * Each level is a semi/anti join on the surviving parent keys —
    * executed root-to-leaf so every join shrinks its input.
    */
  def removeDependentObjects(): GtfsFeed = {
    val agency = table("agency")
    val routes = GtfsLake.retainChildrenOf(table("routes"), "agency_id", agency, "agency_id")
    val trips = GtfsLake.retainChildrenOf(table("trips"), "route_id", routes, "route_id")
    val stopTimes = GtfsLake.retainChildrenOf(table("stop_times"), "trip_id", trips, "trip_id")

    // Stop pruning mirrors ddb.py:341-342 exactly, including the SQL
    // three-valued-logic edges:
    //  * plain-stop delete matches `location_type = '0' OR = ''` — a NULL
    //    location_type matches neither literal, so such stops are never
    //    deleted (they fall into the "other" bucket below);
    //  * the station delete's subquery `SELECT parent_station FROM stops`
    //    runs sequentially AFTER the plain-stop delete and scans ALL
    //    surviving stops INCLUDING stations — so a station that parents
    //    another station survives (multi-level hierarchies);
    //  * `stop_id NOT IN (subquery)` is never TRUE when the subquery
    //    yields any NULL — one NULL parent_station in the surviving set
    //    keeps every station (expressed here as a broadcast scalar flag,
    //    no driver-side collect).
    val stops0 = table("stops")
    val lt = coalesce(col("location_type"), lit("\u0000"))
    val plainKept = stops0.filter(lt.isin("", "0"))
      .join(stopTimes.select(col("stop_id")), Seq("stop_id"), "left_semi")
    val stations0 = stops0.filter(lt === "1")
    val otherStops = stops0.filter(!lt.isin("", "0", "1"))
    // One distinct over the surviving parent_station column feeds
    // BOTH the child-id set and the any-null flag (the flag is an
    // O(#stations) agg over the distinct result, not a second scan of
    // the stops table). Not persisted: nothing could release it, since
    // the returned feed's plans read it, and on gtfs-feed-ops a
    // persist held ~70 MB more per cycle for no CPU saved.
    val parentDistinct = plainKept.unionByName(stations0).unionByName(otherStops)
      .select(col("parent_station")).distinct()
    val childIds = parentDistinct
      .filter(col("parent_station").isNotNull)
      .select(col("parent_station").as("stop_id"))
      .withColumn("is_child", lit(true))
    val nullParentFlag = parentDistinct.agg(
      coalesce(max(col("parent_station").isNull), lit(false)).as("has_null_parent"))
    val stationsKept = stations0
      .crossJoin(broadcast(nullParentFlag))
      .join(childIds, Seq("stop_id"), "left")
      .filter(col("has_null_parent") || coalesce(col("is_child"), lit(false)))
      .drop("has_null_parent", "is_child")
    val stops = plainKept.unionByName(stationsKept).unionByName(otherStops)

    val shapes = GtfsLake.retainChildrenOf(table("shapes"), "shape_id", trips, "shape_id")

    // Key-only build sides, no distinct: the four semi joins dedupe
    // in their build hash tables.
    val transfers0 = table("transfers")
    val routeIds = routes.select(col("route_id"))
    val tripIds = trips.select(col("trip_id"))
    val transfers = transfers0
      .join(routeIds.withColumnRenamed("route_id", "from_route_id"), Seq("from_route_id"), "left_semi")
      .join(routeIds.withColumnRenamed("route_id", "to_route_id"), Seq("to_route_id"), "left_semi")
      .join(tripIds.withColumnRenamed("trip_id", "from_trip_id"), Seq("from_trip_id"), "left_semi")
      .join(tripIds.withColumnRenamed("trip_id", "to_trip_id"), Seq("to_trip_id"), "left_semi")

    val calendar = GtfsLake.retainChildrenOf(table("calendar"), "service_id", trips, "service_id")
    val calendarDates = GtfsLake.retainChildrenOf(table("calendar_dates"), "service_id", trips, "service_id")

    copy(tables = tables ++ Map(
      "routes" -> routes, "trips" -> trips, "stop_times" -> stopTimes,
      "stops" -> stops, "shapes" -> shapes, "transfers" -> transfers,
      "calendar" -> calendar, "calendar_dates" -> calendarDates))
  }

  /** Merge ("drop") a subset feed using the match_stop_id strategy
    * (strategy/match_stop_id.py): stops are upserted by stop_id,
    * every other subset table is appended.
    */
  def dropSubset(subset: GtfsFeed): GtfsFeed = {
    val merged = tables.map { case (name, df) =>
      subset.tables.get(name) match {
        case Some(sub) if name == "stops" =>
          name -> GtfsLake.upsert(df, GtfsLake.alignToSchema(sub, GtfsSchemas.stops), Seq("stop_id"))
        case Some(sub) =>
          name -> df.unionByName(GtfsLake.alignToSchema(sub, GtfsSchemas.staticTables(name)), allowMissingColumns = true)
        case None => name -> df
      }
    }
    copy(tables = merged)
  }

  /** Active services for an operation day (ddb.py:177-193). */
  def activeServices(day: LocalDate): DataFrame =
    ServiceCalendar.activeServices(table("calendar"), table("calendar_dates"), day)

  /** Nominal operation-day trips (ddb.py:177-202). */
  def nominalOperationDayTrips(day: LocalDate, fullTrips: Boolean = false): DataFrame =
    ServiceCalendar.operationDayTrips(table("trips"), table("stop_times"),
      activeServices(day), fullTrips)

  /** Monitor query (ddb.py:215-258): active trips ⋈ routes ⋈ first
    * stop_times ⋈ stops, LEFT ⋈ realtime trip updates, with the
    * realtime-availability flag, ordered by departure.
    */
  def monitorTrips(day: LocalDate, realtimeTripUpdates: DataFrame): GtfsFeedMonitor = {
    val opd = day.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd"))
    val trips = table("trips").join(activeServices(day), Seq("service_id"), "left_semi")
    val routes = broadcast(table("routes"))
    val firstStopTimes = table("stop_times").filter(col("stop_sequence") === 1)
    val stops = table("stops")
    val rt = realtimeTripUpdates
      .select(col("trip_id").as("rt_trip_id"), col("last_updated_timestamp"))

    val df = trips
      .join(routes, trips("route_id") === routes("route_id"))
      .join(firstStopTimes, trips("trip_id") === firstStopTimes("trip_id"))
      .join(rt, trips("trip_id") === rt("rt_trip_id"), "left")
      .join(stops, firstStopTimes("stop_id") === stops("stop_id"))
      .select(
        lit(opd).as("operation_day"),
        routes("agency_id").as("agency_id"),
        trips("route_id").as("route_id"),
        routes("route_short_name").as("route_short_name"),
        trips("trip_id").as("trip_id"),
        trips("trip_headsign").as("trip_headsign"),
        trips("direction_id").as("direction_id"),
        firstStopTimes("stop_id").as("start_stop_id"),
        stops("stop_name").as("start_stop_name"),
        firstStopTimes("departure_time").as("start_time"),
        rt("rt_trip_id").isNotNull.as("realtime_available"),
        rt("last_updated_timestamp").as("realtime_last_update"))
      .orderBy(col("start_time"))
    GtfsFeedMonitor(df)
  }

  /** Register all tables as temp views and run a SQL statement
    * (ddb.py:260-264). Registration is skipped when this exact feed
    * instance already registered its views (same guard as
    * Tables.registerViews) — the feed is immutable, so identity
    * implies the views are current.
    */
  def sql(statement: String): DataFrame = {
    GtfsFeed.registeredFeed.compute(spark, (_, prev) => {
      if (prev ne this) tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      this
    })
    spark.sql(statement)
  }

  /** Export all static tables as GTFS txt files into a directory, or
    * a .zip (ddb.py:99-126). CSV written by Spark (header, quoted as
    * needed), then zipped driver-side for the zip target.
    */
  def exportStatic(output: String): Unit = {
    val outPath = Paths.get(output)
    if (output.toLowerCase.endsWith(".zip")) {
      val tmp = Files.createTempDirectory("gtfs_export")
      writeTxtDir(tmp)
      val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(output)))
      try {
        GtfsFeed.StaticOrder.foreach { name =>
          val src = tmp.resolve(s"$name.txt")
          if (Files.exists(src)) {
            zos.putNextEntry(new ZipEntry(s"$name.txt"))
            Files.copy(src, zos)
            zos.closeEntry()
          }
        }
      } finally zos.close()
    } else {
      Files.createDirectories(outPath)
      writeTxtDir(outPath)
    }
  }

  private def writeTxtDir(dir: Path): Unit =
    GtfsFeed.StaticOrder.foreach { name =>
      tables.get(name).foreach { df =>
        val stage = dir.resolve(s"_stage_$name").toString
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(stage)
        val part = Files.list(Paths.get(stage)).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
        part.foreach(p => Files.move(p, dir.resolve(s"$name.txt")))
        // clean staging
        Files.walk(Paths.get(stage)).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
}

/** Monitor result wrapper (filterable like the reference's /monitor
  * endpoint params: realtime-only, line).
  */
final case class GtfsFeedMonitor(df: DataFrame) {
  def realtimeOnly: GtfsFeedMonitor = GtfsFeedMonitor(df.filter(col("realtime_available")))
  def forRoute(routeId: String): GtfsFeedMonitor = GtfsFeedMonitor(df.filter(col("route_id") === routeId))
}

object GtfsFeed {

  // Last feed instance whose tables were registered as views, per
  // session — re-registering 16 views on every sql() call re-plans
  // 16 reads for nothing (the same pattern Tables.registerViews
  // caches for the testdata tables).
  private val registeredFeed =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, AnyRef]()

  val StaticOrder: Seq[String] = Seq(
    "agency", "calendar_dates", "calendar", "feed_info", "routes",
    "shapes", "stop_times", "stops", "transfers", "trips")

  /** Load a feed from a directory of GTFS txt files (schema-aligned:
    * unknown columns dropped, missing columns null — ddb.py:350-385).
    * Missing files become empty tables, as the reference's CREATE
    * TABLE IF NOT EXISTS does.
    */
  def loadStatic(spark: SparkSession, dir: String): GtfsFeed = {
    val tables = GtfsSchemas.staticTables.map { case (name, schema) =>
      val path = Paths.get(dir, s"$name.txt")
      val df =
        if (Files.exists(path))
          // multiLine: quoted fields may contain embedded newlines,
          // which Python's csv.reader (the reference ingest) accepts.
          // Costs file-splittability — fine for static GTFS text
          // files; the bulk-scale ingest path is GtfsZipCorpus /
          // parquet.
          GtfsLake.alignToSchema(
            GtfsLake.emptyNotNull(
              GtfsLake.dedupHeadersLastWins(spark.read
                .option("header", "true")
                .option("multiLine", "true")
                .csv(path.toString), schema)),
            schema)
        else
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      name -> df
    }
    GtfsFeed(spark, tables)
  }

  /** Load a zipped GTFS feed (ddb.py:66-73): entries are extracted to
    * a temp dir driver-side (feed zips are single files; the
    * subsequent parse/align is distributed), then loaded as above.
    */
  def loadStaticZip(spark: SparkSession, zipPath: String): GtfsFeed = {
    val tmp = Files.createTempDirectory("gtfs_zip")
    val zf = new ZipFile(zipPath)
    try {
      zf.entries().asScala.foreach { e =>
        val base = Paths.get(e.getName).getFileName.toString
        if (!e.isDirectory && GtfsSchemas.staticTables.contains(base.stripSuffix(".txt")))
          Files.copy(zf.getInputStream(e), tmp.resolve(base))
      }
    } finally zf.close()
    loadStatic(spark, tmp.toString)
  }
}
