package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Smoke test for the full production assembly
  * (RapidApplication.createWired): boot, probe every endpoint, ping → pong,
  * metrics populated, preStop drain via /stop.
  */
class WiredSpec extends AnyFunSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val rsp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (rsp.statusCode(), rsp.body())
  }

  test("wired app boots, probes answer, ping gets an enriched pong, /stop drains") {
    val base = 1700000000000L
    val wired = RapidApplication.createWired(
      TestSpark.spark, "wired-app", "wired-1", clock = () => base + 1000)
    try {
      val port = wired.health.port
      // boot: alive and ready immediately (rivers registered + started)
      assert(get(port, "/isalive") == (200, "ALIVE"))
      assert(get(port, "/isready") == (200, "READY"))

      // ping in, enriched pong out (the reference component-test slice)
      val ping = s"""{"@event_name":"ping","@id":"wired-ping-1","ping_time":"${
        new java.sql.Timestamp(base).toInstant.toString.stripSuffix("Z")}"}"""
      wired.send(ping, key = "k-1")
      val insp = wired.app.rapid.inspector
      val msgs = (0 until insp.size).map(insp.message)
      val pong = msgs.find(_.contains("\"pong\""))
      assert(pong.isDefined, s"expected a pong among $msgs")
      assert(pong.get.contains("\"app_name\":\"wired-app\""))
      assert(pong.get.contains("\"instance_id\":\"wired-1\""))
      assert(msgs.exists(_.contains("application_up")))

      // per-river timers flow into /metrics (progress events are async)
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && wired.timers.latest.isEmpty)
        Thread.sleep(100)
      val (mc, body) = get(port, "/metrics")
      assert(mc == 200)
      assert(body.contains("on_packet_seconds{river="),
        s"expected the timer gauge in:\n$body")

      // preStop drain: 200, then unready and stopped, but still answering
      assert(get(port, "/stop")._1 == 200)
      assert(get(port, "/isready")._1 == 503)
      assert(!wired.app.isRunning)
      // the reference's termination order: not_ready -> stop -> down (the
      // down event arrives via the async listener bus — poll for it)
      def events() = (0 until wired.app.rapid.inspector.size)
        .map(wired.app.rapid.inspector.message)
        .flatMap(m => Lifecycle.Events.find(m.contains))
      val deadline2 = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline2 &&
        !events().exists(_ == "application_down")) Thread.sleep(100)
      val tail = events().dropWhile(e => !e.contains("not_ready"))
      assert(tail.take(3) == Seq("application_not_ready", "application_stop", "application_down"),
        s"expected the reference termination order, got ${events()}")
    } finally wired.close()
  }

  test("wired app in fanout mode surfaces per-river message counters on /metrics") {
    val base = 1700000000000L
    val wired = RapidApplication.createWired(
      TestSpark.spark, "wired-fan", "wired-f1", clock = () => base + 1000)
    try {
      // a stateless user river on the shared scan (ping/pong, being
      // stateful, runs its own query and reports via Timers instead)
      wired.app.register(graft.messages.River()
        .precondition(graft.messages.Validation.requireValue("@event_name", "order"))) { r =>
        r.passed.select(org.apache.spark.sql.functions.col("key"),
          org.apache.spark.sql.functions.lit("""{"@event_name":"order_seen"}""").as("value"))
      }
      val ping = s"""{"@event_name":"ping","@id":"wired-ping-f","ping_time":"${
        new java.sql.Timestamp(base).toInstant.toString.stripSuffix("Z")}"}"""
      wired.send(ping, key = "k-f")
      wired.send("""{"@event_name":"order"}""")
      assert((0 until wired.app.rapid.inspector.size)
        .map(wired.app.rapid.inspector.message).exists(_.contains("\"pong\"")))
      // the user river's counters land on /metrics from the fanout scan
      // (river-0 is the stateful ping/pong query; the shared sequence
      // names the user river river-1 — one label never means two rivers)
      val (mc, body) = get(wired.health.port, "/metrics")
      assert(mc == 200)
      assert(body.contains("""message_counter{river="wired-fan-river-1",status="passed"} 1"""),
        s"expected the fanout river counter in:\n$body")
      assert(body.contains("""message_counter{river="wired-fan-river-1",status="messages"} 2"""),
        s"every rapid message is observed by the river, in:\n$body")
    } finally wired.close()
  }
}
