package graft.gtfs

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.util.GraftConfig

/** End-to-end HTTP transport spec (realtime.py:76-101 route mount +
  * 93-101 CORS): real sockets, real GETs through `java.net.http`,
  * served bytes compared against the direct golden assembly.
  */
class RealtimeHttpSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def alerts = Seq(
    ("a1", "CONSTRUCTION", "DETOUR", "http://x", "Header A", "Desc A", null.asInstanceOf[String], null.asInstanceOf[String], "WARNING"))
    .toDF("service_alert_id", "cause", "effect", "url", "header_text",
      "description_text", "tts_header_text", "tts_description_text", "severity_level")

  private def activePeriods = Seq(("a1", 100L, 200L))
    .toDF("service_alert_id", "start_timestamp", "end_timestamp")

  private def informedEntities = Seq(
    ("a1", null.asInstanceOf[String], "r1", null.asInstanceOf[Integer], null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String], "s1"))
    .toDF("service_alert_id", "agency_id", "route_id", "route_type", "trip_id",
      "trip_route_id", "trip_direction_id", "trip_start_time", "trip_start_date",
      "trip_schedule_relationship", "stop_id")

  private def alertEntities: DataFrame =
    FeedAssembler.alertEntities(alerts, activePeriods, informedEntities)

  private def emptyTripUpdates: DataFrame =
    Seq.empty[(String, String)].toDF("id", "x")
      .selectExpr("id", "named_struct('d', x) AS trip_update")

  private val FixedTs = 1704790000L

  private def app(yaml: String): RealtimeApp =
    new RealtimeApp(
      GraftConfig.fromYaml(yaml),
      () => alertEntities,
      () => emptyTripUpdates,
      () => emptyTripUpdates,
      () => FixedTs * 1000L)

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def withServer(yaml: String)(body: (RealtimeHttp, RealtimeApp) => Unit): Unit = {
    val a = app(yaml)
    val srv = new RealtimeHttp(a, GraftConfig.fromYaml(yaml)).start()
    try body(srv, a)
    finally srv.stop()
  }

  test("GET on a mounted feed route serves the golden assembly bytes as octet-stream") {
    withServer("app: {}\n".replace(" {}", "")) { (srv, a) =>
      val resp = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get == "application/octet-stream")
      val direct = GtfsRtProto.feedMessagePbf(alertEntities, "alert", FixedTs)
      assert(resp.body().sameElements(direct))
      assert(resp.body().sameElements(a.serviceAlertsPbf()))
    }
  }

  test("rss route mounts only when enabled and serves application/rss+xml") {
    withServer("app:\n  rss_enabled: true\nrss:\n  title: Http Spec\n") { (srv, _) =>
      val resp = get(srv.boundPort, "/gtfs/realtime/rss.xml")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get == "application/rss+xml")
      assert(new String(resp.body(), "UTF-8").contains("<title>Http Spec</title>"))
    }
    withServer("app:\n  rss_enabled: false\n") { (srv, _) =>
      assert(get(srv.boundPort, "/gtfs/realtime/rss.xml").statusCode() == 404)
    }
  }

  test("CORS headers follow app.cors_enabled (realtime.py:93-101 middleware)") {
    withServer("app:\n  cors_enabled: true\n") { (srv, _) =>
      val h = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf").headers()
      assert(h.firstValue("Access-Control-Allow-Origin").get == "*")
      assert(h.firstValue("Access-Control-Allow-Credentials").get == "true")
      assert(h.firstValue("Access-Control-Allow-Methods").get == "GET")
    }
    withServer("app:\n  cors_enabled: false\n") { (srv, _) =>
      val h = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf").headers()
      assert(h.firstValue("Access-Control-Allow-Origin").isEmpty)
    }
  }

  test("unknown path is 404; non-GET is 405 (reference mounts GET only)") {
    withServer("app:\n") { (srv, _) =>
      assert(get(srv.boundPort, "/nope").statusCode() == 404)
      val post = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/gtfs/realtime/service-alerts.pbf"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(post.statusCode() == 405)
    }
  }

  test("a second request inside the TTL window is served from the response cache") {
    val yaml =
      "app:\n  caching_enabled: true\ncaching:\n  caching_service_alerts_ttl_seconds: 600\n"
    var calls = 0
    val a = new RealtimeApp(
      GraftConfig.fromYaml(yaml),
      () => { calls += 1; alertEntities },
      () => emptyTripUpdates,
      () => emptyTripUpdates,
      () => FixedTs * 1000L)
    val srv = new RealtimeHttp(a, GraftConfig.fromYaml(yaml)).start()
    try {
      val first = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf")
      val second = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf")
      assert(first.body().sameElements(second.body()))
      assert(calls == 1)
    } finally srv.stop()
  }

  test("a route whose provider throws answers 500 instead of resetting the connection") {
    val a = new RealtimeApp(
      GraftConfig.fromYaml("app:\n"),
      () => throw new IllegalStateException("feed assembly failed"),
      () => emptyTripUpdates,
      () => emptyTripUpdates,
      () => FixedTs * 1000L)
    val srv = new RealtimeHttp(a, GraftConfig.fromYaml("app:\n")).start()
    try {
      val resp = get(srv.boundPort, "/gtfs/realtime/service-alerts.pbf")
      assert(resp.statusCode() == 500)
      // the server stays up for the next request
      assert(get(srv.boundPort, "/nope").statusCode() == 404)
    } finally srv.stop()
  }
}
