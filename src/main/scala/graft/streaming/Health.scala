package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors,
  TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP health/metrics surface — deployment parity with the reference's
  * Ktor endpoints (KtorApplication.kt:97-153): GET /isalive ("ALIVE" or
  * 503), GET /isready ("READY" or 503 until started/after stop begins),
  * GET /metrics (Prometheus text exposition), GET /stop (the preStop hook:
  * flips readiness off, runs the stop hook bounded by a 30 s drain window,
  * then 200 OK / 503 on timeout / 500 on hook failure — the documented
  * graceful-termination order, KtorApplication.kt:112-139 +
  * PreStopHook.kt:52-67).
  *
  * Built on the JDK's com.sun.net.httpserver — zero added dependencies, so
  * the engine library stays dependency-free while a deployment gets the
  * same probe contract. Wire it to a rapid like the reference wires
  * KafkaRapid::isRunning:
  *
  * {{{
  * val health = Health.serve(
  *   alive = () => rapid.isRunning,
  *   ready = () => rapid.isRunning,
  *   metrics = () => timers.latest.map { case (q, t) =>
  *     s"""on_packet_seconds{river="$q"}""" -> t.secondsPerMessage },
  *   stopHook = () => rapid.stop())
  * }}}
  */
object Health {

  final class Server private[Health] (private[Health] val http: HttpServer,
      workers: ExecutorService, ready: AtomicBoolean) {
    def port: Int = http.getAddress.getPort
    /** Readiness gate — set true once rivers are started (the reference's
      * ApplicationStarted monitor flip, KtorApplication.kt:104-110).
      */
    def markReady(): Unit = ready.set(true)
    def close(): Unit = { http.stop(0); workers.shutdownNow(); () }
  }

  def serve(
      alive: () => Boolean,
      ready: () => Boolean,
      /** Metric name (with optional {tags}) -> value; rendered as untyped
        * Prometheus text exposition like the reference's scrape endpoint.
        */
      metrics: () => Map[String, Double] = () => Map.empty,
      stopHook: () => Unit = () => (),
      /** Upper bound on the /stop drain — the reference's PreStopHook waits
        * at most 30 s for shutdown-complete before letting the preStop call
        * return (PreStopHook.kt:52-67).
        */
      stopTimeoutMillis: Long = 30000,
      /** Deployment-specific endpoints alongside the probes — the analogue
        * of the reference's withKtorModule custom routing
        * (RapidApplication.kt builder; RapidApplicationComponentTest
        * "custom endpoint"): path -> handler returning (status, body).
        */
      extraRoutes: Map[String, () => (Int, String)] = Map.empty,
      port: Int = 0): Server = {
    val readyToggle = new AtomicBoolean(false)
    val http = HttpServer.create(new InetSocketAddress(port), 0)
    // Handlers run on a small pool, not the server's one dispatcher
    // thread: /stop blocks its worker for the whole drain, and the probes
    // must keep answering meanwhile (readiness reads 503 while draining).
    val workers = Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "graft-health")
      t.setDaemon(true)
      t
    })
    http.setExecutor(workers)

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      x.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) x.getResponseBody.write(bytes)
      x.close()
    }

    def stop(x: HttpExchange): Unit = {
      // readiness drops FIRST so the load balancer stops routing here while
      // the hook drains (KtorApplication.kt:124-137's termination order).
      readyToggle.set(false)
      // The drain is BOUNDED like the reference's PreStopHook (30 s wait for
      // shutdown-complete, PreStopHook.kt:52-67): the hook runs on its own
      // daemon thread so a hung drain cannot hold this HTTP worker past the
      // window — on timeout the hook keeps draining in the background and
      // the probe gets a 503 (the reference logs and returns; kubelet
      // proceeds to SIGTERM).
      val done = new CompletableFuture[Unit]()
      val drain = new Thread(() =>
        try { stopHook(); done.complete(()); () }
        catch { case e: Throwable => done.completeExceptionally(e); () },
        "graft-stop-hook")
      drain.setDaemon(true)
      drain.start()
      try {
        done.get(stopTimeoutMillis, TimeUnit.MILLISECONDS)
        respond(x, 200, "OK")
      } catch {
        case _: TimeoutException =>
          respond(x, 503, s"shutdown did not complete within $stopTimeoutMillis ms")
        case e: ExecutionException =>
          // a throwing hook must surface a 500, not a hung exchange (the
          // reference's Ktor handler would 500); the pod stays unready
          respond(x, 500, s"stop hook failed: ${Option(e.getCause).getOrElse(e)}")
        case _: InterruptedException =>
          // server shutdown interrupting a blocked dispatcher: still answer
          // (no dropped connection) and preserve the interrupt status
          Thread.currentThread().interrupt()
          respond(x, 503, "interrupted while waiting for the drain")
      }
    }
    val probes: Map[String, HttpExchange => Unit] = Map(
      "/isalive" -> (x =>
        if (alive()) respond(x, 200, "ALIVE") else respond(x, 503, "")),
      "/isready" -> (x =>
        if (readyToggle.get() && ready()) respond(x, 200, "READY")
        else respond(x, 503, "")),
      "/metrics" -> (x =>
        respond(x, 200, metrics().toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n"))),
      "/stop" -> stop)
    val clash = extraRoutes.keySet.intersect(probes.keySet)
    require(clash.isEmpty, s"extra routes shadow the probes: ${clash.mkString(", ")}")
    val routes = probes ++ extraRoutes.map { case (path, handler) =>
      path -> { (x: HttpExchange) =>
        val (code, body) =
          try handler()
          catch { case e: Throwable => (500, s"handler failed: $e") }
        respond(x, code, body)
      }
    }
    // One root context dispatching on the EXACT path: a JDK context
    // matches by plain string prefix, so per-route contexts would let
    // GET /stopwatch or /stop/x run the stop hook.
    http.createContext("/", (x: HttpExchange) =>
      routes.get(x.getRequestURI.getPath) match {
        case Some(route) => route(x)
        case None => respond(x, 404, "")
      })
    http.start()
    new Server(http, workers, readyToggle)
  }
}
