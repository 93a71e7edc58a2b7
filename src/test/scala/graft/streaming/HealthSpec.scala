package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

/** Probe contract of the HTTP health surface (KtorApplication.kt:97-153). */
class HealthSpec extends AnyFunSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val rsp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (rsp.statusCode(), rsp.body())
  }

  test("isalive/isready/metrics/stop follow the reference's probe semantics") {
    @volatile var aliveNow = true
    @volatile var stopped = false
    val srv = Health.serve(
      alive = () => aliveNow,
      ready = () => aliveNow,
      metrics = () => Map(
        """on_packet_seconds{river="r0"}""" -> 0.25,
        "message_counter" -> 42.0),
      stopHook = () => stopped = true)
    try {
      assert(get(srv.port, "/isalive") == (200, "ALIVE"))
      // not ready until the app marks started (ApplicationStarted toggle)
      assert(get(srv.port, "/isready")._1 == 503)
      srv.markReady()
      assert(get(srv.port, "/isready") == (200, "READY"))
      val (mc, body) = get(srv.port, "/metrics")
      assert(mc == 200)
      assert(body.contains("message_counter 42.0"))
      assert(body.contains("""on_packet_seconds{river="r0"} 0.25"""))
      // dead rapid: alive flips to 503 (KafkaRapid.isRunning binding)
      aliveNow = false
      assert(get(srv.port, "/isalive")._1 == 503)
      aliveNow = true
      // preStop: drops readiness BEFORE running the hook, then 200 OK
      assert(get(srv.port, "/stop") == (200, "OK"))
      assert(stopped)
      assert(get(srv.port, "/isready")._1 == 503)
      assert(get(srv.port, "/isalive")._1 == 200) // still alive during drain
    } finally srv.close()
  }

  test("custom endpoints serve alongside the probes (RapidApplicationComponentTest 'custom endpoint')") {
    val srv = Health.serve(
      alive = () => true, ready = () => true,
      extraRoutes = Map(
        "/custom" -> (() => (200, "CUSTOM RESPONSE")),
        "/broken" -> (() => sys.error("boom"))))
    try {
      assert(get(srv.port, "/custom") == (200, "CUSTOM RESPONSE"))
      assert(get(srv.port, "/isalive")._1 == 200) // probes unaffected
      // a throwing handler surfaces a 500, never a hung exchange
      val (code, body) = get(srv.port, "/broken")
      assert(code == 500 && body.contains("boom"))
    } finally srv.close()
  }

  test("every route answers only its exact path: /stopwatch and /isalivex are 404, the stop hook never runs") {
    @volatile var stopped = false
    val srv = Health.serve(
      alive = () => true, ready = () => true,
      stopHook = () => stopped = true,
      extraRoutes = Map("/custom" -> (() => (200, "CUSTOM RESPONSE"))))
    try {
      srv.markReady()
      for (path <- Seq("/stopwatch", "/stop/x", "/isalivex", "/isready/",
                       "/metricsz", "/customer", "/"))
        assert(get(srv.port, path)._1 == 404, s"$path must 404")
      assert(!stopped, "a near-miss path must never run the stop hook")
      assert(get(srv.port, "/isready") == (200, "READY"))
      assert(get(srv.port, "/custom") == (200, "CUSTOM RESPONSE"))
      // a query string still reaches the exact route
      assert(get(srv.port, "/isalive?probe=1") == (200, "ALIVE"))
    } finally srv.close()
  }

  test("/stop drain is bounded: a hung hook gets 503 within the timeout (PreStopHook.kt:52-67)") {
    val hungForever = new java.util.concurrent.CountDownLatch(1)
    val srv = Health.serve(
      alive = () => true, ready = () => true,
      stopHook = () => hungForever.await(), // never completes
      stopTimeoutMillis = 300)
    try {
      val t0 = System.currentTimeMillis()
      val (code, body) = get(srv.port, "/stop")
      val elapsed = System.currentTimeMillis() - t0
      assert(code == 503, s"hung drain must 503, got $code: $body")
      assert(body.contains("did not complete"))
      assert(elapsed < 10000, s"bounded drain took ${elapsed}ms")
      // readiness stays dropped — the pod is draining, not routable
      assert(get(srv.port, "/isready")._1 == 503)
    } finally { hungForever.countDown(); srv.close() }
  }

  test("probes answer while /stop drains: /isready is 503 within 1 s while the hook holds /stop") {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val srv = Health.serve(
      alive = () => true, ready = () => true,
      stopHook = () => { entered.countDown(); release.await() })
    try {
      srv.markReady()
      @volatile var stopCode = 0
      val stopper = new Thread(() => stopCode = get(srv.port, "/stop")._1)
      stopper.start()
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS), "stop hook never ran")
      // a probe that waited for the drain would time out here
      val rsp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}/isready"))
          .timeout(java.time.Duration.ofSeconds(1)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rsp.statusCode() == 503, "readiness must read 503 while draining")
      release.countDown()
      stopper.join(10000)
      assert(stopCode == 200, s"the drain finished, /stop got $stopCode")
    } finally { release.countDown(); srv.close() }
  }

  test("/stop surfaces a throwing hook as 500, never a hung exchange") {
    val srv = Health.serve(
      alive = () => true, ready = () => true,
      stopHook = () => sys.error("drain exploded"))
    try {
      val (code, body) = get(srv.port, "/stop")
      assert(code == 500, s"throwing hook must 500, got $code: $body")
      assert(body.contains("drain exploded"))
    } finally srv.close()
  }
}
