package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.messages.{River, Routed, Validation}

/** Top-level app shell — the reference's RapidApplication
  * (RapidApplication.kt:42-168, Defaults.kt:47-61): build the rapid from
  * environment config, attach rivers, wire lifecycle events and the
  * ping/pong responder, start/stop.
  *
  * The reference's Ktor HTTP surface (/isalive /isready /metrics) maps to
  * Spark-native equivalents: StreamingQuery.status/isActive for liveness
  * and observe()/StreamingQueryProgress for metrics. Deployments that need
  * the actual probe endpoints wire [[Health.serve]] (JDK http server, zero
  * dependencies) to `rapid.isRunning` and a [[Timers]] handle — full
  * endpoint parity without pulling an HTTP framework into the engine.
  */
object RapidApplication {

  /** Environment contract mirroring the reference's variable names
    * (Defaults.kt:47-61) so a deployment can switch without config changes.
    */
  def configFromEnv(env: Map[String, String]): KafkaRapidConfig =
    KafkaRapidConfig(
      bootstrapServers = env.getOrElse("KAFKA_BROKERS", "localhost:9092"),
      rapidTopic = env("KAFKA_RAPID_TOPIC"),
      extraTopics = env.get("KAFKA_EXTRA_TOPIC")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      resetPolicy = env.getOrElse("KAFKA_RESET_POLICY", "latest"),
      maxOffsetsPerTrigger = env.get("KAFKA_MAX_RECORDS").map(_.toLong)
        .orElse(Some(500L)), // Defaults.kt:57
      // no default: KafkaRapidConfig.resolvedCheckpoint fails fast on empty —
      // a deploy that forgot to mount durable checkpoint storage must not
      // silently run against a node-local purged path
      checkpointLocation = env.getOrElse("KAFKA_CHECKPOINT_DIR", ""),
      kafkaOptions = sslOptionsFromEnv(env))

  /** The Aiven TLS client config (AivenConfig.kt:35-65) from its env
    * contract: present iff KAFKA_TRUSTSTORE_PATH is set, in which case the
    * companion credstore variables are required, like the reference's
    * requireNotNull guards (AivenConfig.kt:19-25).
    */
  private[streaming] def sslOptionsFromEnv(env: Map[String, String]): Map[String, String] =
    env.get("KAFKA_TRUSTSTORE_PATH") match {
      case None => Map.empty
      case Some(truststore) =>
        def need(k: String) = env.getOrElse(k,
          sys.error(s"Expected $k alongside KAFKA_TRUSTSTORE_PATH"))
        val credstorePw = need("KAFKA_CREDSTORE_PASSWORD")
        Map(
          "kafka.security.protocol" -> "SSL",
          "kafka.ssl.endpoint.identification.algorithm" -> "",
          "kafka.ssl.truststore.type" -> "jks",
          "kafka.ssl.keystore.type" -> "PKCS12",
          "kafka.ssl.truststore.location" -> truststore,
          "kafka.ssl.truststore.password" -> credstorePw,
          "kafka.ssl.keystore.location" -> need("KAFKA_KEYSTORE_PATH"),
          "kafka.ssl.keystore.password" -> credstorePw)
    }

  /** In-memory application for tests/local runs: rivers + ping/pong +
    * lifecycle, the whole reference wiring minus the Kafka transport. The
    * user rivers share ONE read-once streaming query, as on Kafka
    * ([[MemoryRapid]]): register every river before the first send.
    */
  final class InMemory(
      spark: SparkSession,
      val appName: String,
      val instanceId: String,
      clock: () => Long = () => System.currentTimeMillis()) {

    val rapid = new MemoryRapid(spark, appName)
    private var lifecycleListener: Option[org.apache.spark.sql.streaming.StreamingQueryListener] = None
    // application_down publishes counted AT THE LIFECYCLE CALLBACK — stop()
    // waits on this O(1) counter, not an O(outbox) rescan per poll
    private val downEvents = new java.util.concurrent.atomic.AtomicInteger(0)

    /** PingPong river registered by default, like the reference
      * (RapidApplication.kt:42-47). Lifecycle attaches FIRST so the first
      * river's ready event is not missed; events are filtered to this
      * rapid's own queries.
      */
    def start(): this.type = {
      lifecycleListener = Some(
        Lifecycle.attach(spark, appName, instanceId,
          // lambda, not eta-expansion: queryIds must be read at event time
          id => rapid.queryIds.contains(id),
          // started events match by NAME: they arrive synchronously inside
          // start(), before the id lands in queryIds (Lifecycle scaladoc).
          // EXACT scheme match, not a prefix — app "orders" must not claim
          // app "orders-audit"'s queries on a shared session
          name => name == s"$appName-fanout" ||
            name.matches(java.util.regex.Pattern.quote(appName) + "-river-\\d+")) { m =>
          // the publish lambda IS the lifecycle listener's delivery path, so
          // counting here waits on the listener directly (one short event
          // string per lifecycle transition, not per rapid message)
          if (m.contains("\"application_down\"")) downEvents.incrementAndGet()
          rapid.publish(m)
        })
      // ping/pong is STATEFUL (per-instance rate-limit via
      // flatMapGroupsWithState), so it keeps its own streaming query —
      // keyed state cannot live inside the shared scan's foreachBatch (it
      // would restart empty every trigger; Fanout rejects it loudly). User
      // rivers still share the single scan.
      val pingRiver = River()
        .precondition(Validation.requireValue("@event_name", "ping"))
        .validate(Validation.requireParsed("ping_time",
          graft.functions.Converters.asOptionalLocalDateTimeLenient))
      rapid.registerStateful(pingRiver) { routed =>
        PingPong(routed, appName, instanceId, clock)
      }
      this
    }

    def register(river: River)(flow: Routed => org.apache.spark.sql.DataFrame): Unit =
      rapid.register(river)(flow)

    def send(message: String, key: String = null): Unit = rapid.sendTestMessage(message, key)

    /** Health surface (reference /isalive /isready, KtorApplication.kt:97-153,
      * bound to rapid::isRunning / isReady): all the rapid's queries active.
      */
    def isRunning: Boolean = rapid.isRunning
    def isReady: Boolean = rapid.isRunning

    def stop(): Unit = {
      // QueryTerminatedEvent is delivered on the ASYNC listener bus;
      // removing the lifecycle listener right after stop() races the
      // delivery and can drop application_down. Wait (bounded) for one
      // down event per active owned query before removing — on the O(1)
      // counter the lifecycle publish path maintains, not by rescanning
      // the outbox.
      val activeOwned = spark.streams.active.count(q => rapid.queryIds.contains(q.id))
      val before = downEvents.get()
      rapid.publish(Lifecycle.event("application_stop", appName, instanceId))
      rapid.stop()
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && downEvents.get() - before < activeOwned)
        Thread.sleep(10)
      lifecycleListener.foreach(spark.streams.removeListener)
    }
  }

  def createInMemory(spark: SparkSession, appName: String, instanceId: String,
                     clock: () => Long = () => System.currentTimeMillis()): InMemory =
    new InMemory(spark, appName, instanceId, clock).start()

  /** The full production assembly — the reference's
    * `RapidApplication.create(env).start()` story (RapidApplication.kt:
    * 144-168) in one object: rapid + default ping/pong river + lifecycle
    * events + query timers + the Ktor-analogue HTTP probe surface
    * (/isalive /isready /metrics /stop with the bounded preStop drain).
    *
    * MemoryRapid-backed, with the same single-scan fanout as a Kafka
    * deployment, which keeps the identical surface and swaps the transport
    * for [[KafkaRapid.run]] driven by [[configFromEnv]].
    */
  final class Wired private[RapidApplication] (
      val app: InMemory,
      val timers: Timers.Handle,
      spark: SparkSession,
      port: Int,
      extraRoutes: Map[String, () => (Int, String)] = Map.empty) {

    /** Probe metrics as Prometheus gauges, exposed exactly where the
      * reference's Ktor /metrics exposes its micrometer registry: the
      * latest batch timings of each of the rapid's queries (the fanout
      * query and each stateful river's; the on_packet_seconds analogue),
      * the accumulated per-river routing counters of the fanout (the
      * message_counter analogue, from the per-branch observations), and
      * each fanout river's estimated share of the batch wall.
      */
    private def metrics(): Map[String, Double] =
      timers.latest.toSeq.flatMap { case (q, t) =>
        Seq(
          s"""on_packet_seconds{river="$q"}""" -> t.secondsPerMessage,
          s"""last_batch_input_rows{river="$q"}""" -> t.numInputRows.toDouble)
      }.toMap ++
        app.rapid.fanoutMetrics.flatMap { case (riverName, counts) =>
          counts.map {
            // per-river share of the fused batch wall (Fanout.attributeCost)
            // — the closest defensible analogue of per-river
            // on_packet_seconds that the single scan can offer
            case ("est_busy_nanos", v) =>
              s"""river_busy_seconds_estimate{river="$riverName"}""" -> v / 1e9
            case (metric, v) =>
              s"""message_counter{river="$riverName",status="$metric"}""" -> v.toDouble
          }
        }

    @volatile private var stopped = false

    /** Graceful shutdown (idempotent): stop-event + rivers + timers. Wired
      * as the /stop preStop hook, so a drain request from the platform runs
      * the same path as a programmatic close.
      */
    def shutdown(): Unit = synchronized {
      if (!stopped) {
        stopped = true
        // the reference's termination order (RapidApplication.kt:105-115):
        // application_not_ready (readiness dropped) -> application_stop ->
        // application_down (queries terminated, via the lifecycle listener)
        app.rapid.publish(
          Lifecycle.event("application_not_ready", app.appName, app.instanceId))
        app.stop()
        Timers.detach(spark, timers)
      }
    }

    val health: Health.Server = Health.serve(
      alive = () => app.isRunning,
      ready = () => !stopped && app.isReady,
      metrics = () => metrics(),
      stopHook = () => shutdown(),
      extraRoutes = extraRoutes,
      port = port)
    // ApplicationStarted: rivers are registered and running by the time the
    // assembly returns, so readiness flips on here (KtorApplication.kt:120)
    health.markReady()

    def send(message: String, key: String = null): Unit = app.send(message, key)

    /** Tear down everything including the HTTP surface. */
    def close(): Unit = {
      shutdown()
      health.close()
    }
  }

  /** Boot the full wired assembly. Timers attach BEFORE the rivers start so
    * the first micro-batch is already owned and counted.
    */
  def createWired(spark: SparkSession, appName: String, instanceId: String,
                  clock: () => Long = () => System.currentTimeMillis(),
                  port: Int = 0,
                  /** Custom endpoints alongside the probes — the reference's
                    * withKtorModule analogue.
                    */
                  extraRoutes: Map[String, () => (Int, String)] = Map.empty): Wired = {
    val app = new InMemory(spark, appName, instanceId, clock)
    // lambda, not eta-expansion: queryIds must be read at event time
    val timers = Timers.attach(spark, id => app.rapid.queryIds.contains(id))
    app.start()
    new Wired(app, timers, spark, port, extraRoutes)
  }
}
