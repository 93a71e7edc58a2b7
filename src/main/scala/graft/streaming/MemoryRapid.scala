package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.messages.{River, Routed}

/** In-memory rapid — the TestRapid analogue (reference:
  * rapids-and-rivers-test/src/main/kotlin/.../TestRapid.kt:15-76; SURVEY §3.3).
  *
  * `sendTestMessage` feeds a MemoryStream. The registered rivers run as ONE
  * streaming query whose foreachBatch routes every river off one persisted
  * micro-batch ([[Fanout.routeBatchObserved]]) — the reference's read-once
  * listener fanout (RapidsConnection.kt:44-55), and the routing
  * [[KafkaRapid.run]] runs. Register every river before the first send;
  * the query starts lazily on the first [[sendTestMessage]]. Only stateful
  * rivers ([[registerStateful]]) keep a query of their own. Replies are
  * captured in an in-memory outbox inspected via [[MemoryRapid.Inspector]]
  * — the same synchronous send-then-assert pattern as the reference
  * (processAllAvailable drains the micro-batch like TestRapid's direct
  * notifyMessage call).
  */
final class MemoryRapid(spark: SparkSession, name: String = "rapid",
    /** When true, every reply a river publishes is ALSO fed back onto the
      * rapid (all subscriptions see it next micro-batch) — the in-memory
      * analogue of publishing to the shared Kafka topic, enabling
      * multi-hop flows (need → løsning → coordinator) entirely in memory.
      * [[sendTestMessage]] then drains until the rapid is quiescent.
      */
    loopback: Boolean = false,
    /** Hard bound on loopback re-injection rounds per send. */
    maxLoopbackHops: Int = 100) {
  import spark.implicits._

  // One MemoryStream PER QUERY (the fanout query and each stateful river's
  // own): a MemoryStream serves a single query — the first query's offset
  // commit trims the shared batch buffer, which would starve every other
  // subscriber (each Kafka consumer group gets its own offsets; this is the
  // in-memory equivalent).
  private val inputs = mutable.ArrayBuffer.empty[MemoryStream[(String, String)]]
  private val fanoutRegs = mutable.ArrayBuffer.empty[Fanout.Registration]
  private val outbox = mutable.ArrayBuffer.empty[(String, String)]
  // loopback replies awaiting re-injection: buffered here by foreachBatch and
  // fed back from the sendTestMessage drain loop — NOT addData'd on the
  // streaming thread, where a reply that re-matches its own subscription
  // would keep a single processAllAvailable call busy forever and the hop
  // cap (which counts drain rounds) could never fire.
  private val pending = mutable.ArrayBuffer.empty[(String, String)]
  private val queries = mutable.ArrayBuffer.empty[StreamingQuery]
  private val failure = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  // Error stops the rapid (RapidIntegrationTest.kt:126-141): an unhandled
  // exception in ANY river flow shuts the whole application down — one dead
  // subscriber must not leave the app half-alive and reporting healthy. A
  // failing stateless river fails the fanout query, but the fanout query
  // and the stateful rivers' queries are siblings, so a listener propagates
  // the first erroneous termination to every sibling query. Stopping is
  // done off the listener bus thread (stop() joins the stream thread and
  // would deadlock the bus).
  private val errorPropagation = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.exception.isDefined && queryIds.contains(e.id)) {
        failure.compareAndSet(None, Some(e.exception.get))
        val siblings = queries.synchronized(queries.filter(_.id != e.id).toVector)
        new Thread(() => siblings.foreach(q => if (q.isActive) q.stop()),
          s"$name-error-stop").start()
      }
  }
  spark.streams.addListener(errorPropagation)

  /** First river failure that brought the rapid down, if any.
    *
    * Reads the listener-recorded failure when present, else derives it from
    * the owned queries' `StreamingQuery.exception` — which Spark sets on the
    * stream thread BEFORE the query flips inactive, unlike the
    * QueryTerminatedEvent that arrives on the ASYNC listener bus. Without
    * the fallback, an observer that polls [[isRunning]] to false and then
    * reads this could see stopped-but-no-failure (a real flake in full-suite
    * runs). The derived value is latched into the same cell the listener
    * CASes, so whichever path reports first wins permanently.
    */
  def firstFailure: Option[String] = failure.get().orElse {
    queries.synchronized(queries.toVector).iterator
      .flatMap(_.exception)
      .map { e =>
        // the cause-message chain: enough for any "failure mentions X"
        // check. NOTE the two paths render differently in stack detail
        // (the listener latches Spark's full exceptionString) — assert on
        // cause substrings, not exact content
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse(t.toString)).mkString("\n")
      }
      .nextOption()
      .map { derived => failure.compareAndSet(None, Some(derived)); failure.get().get }
  }

  /** A fresh subscription to the rapid: (key, value) like the Kafka source's
    * projection; tombstones (null values) are dropped by River.attach.
    */
  private def newInput(): DataFrame = {
    val in = MemoryStream[(String, String)](
      implicitly[org.apache.spark.sql.Encoder[(String, String)]], spark)
    inputs += in
    in.toDF().toDF("key", "value")
  }

  /** Attach a river and a reply flow. The flow maps the routed stream to a
    * DataFrame with columns (key, value) — the messages to publish back on
    * the rapid. Key-stickiness (KeyMessageContext.kt:7-10) is the flow's
    * default: carry the incoming key column through.
    *
    * Only records the registration: the rapid's single query starts on the
    * first send and routes every river per batch, so the flow is a plan
    * builder ([[Fanout.Registration]]).
    */
  def register(river: River)(flow: Routed => DataFrame): Unit =
    // check-and-append under the SAME lock startFanout snapshots under: a
    // registration racing the first send must either land in the snapshot
    // or fail loudly — never silently miss the routing
    fanoutRegs.synchronized {
      require(!fanoutStarted.get(),
        "rapid: register every river before the first send " +
          "(the single streaming query is already running)")
      fanoutRegs += Fanout.Registration(river, flow,
        s"$name-river-${riverSeq.getAndIncrement()}")
      ()
    }

  // registrations and stateful queries draw "<rapid>-river-N" names from
  // one counter, so one metrics label never means two rivers
  private val riverSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A river with its OWN streaming query — how STATEFUL rivers run
    * (flatMapGroupsWithState / watermarked dedup): keyed state needs a
    * continuous streaming query — inside the fanout's foreachBatch it would
    * restart empty every trigger (Fanout guard). The stateful river pays
    * its own source subscription; stateless rivers share the single scan.
    */
  def registerStateful(river: River)(flow: Routed => DataFrame): Unit = {
    val replies = flow(river.attach(newInput(), col("value")))
    val q = replies.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => collectReplies(batch) }
      .queryName(s"$name-river-${riverSeq.getAndIncrement()}")
      .start()
    queries.synchronized { queries += q; () }
  }

  /** Drain one reply batch into the outbox (and the loopback buffer). */
  private def collectReplies(replies: DataFrame): Unit = {
    val rows = replies.select(
      coalesce(col("key"), lit(null).cast("string")).as("key"), col("value"))
      .collect()
    val msgs = rows.map(r => (r.getString(0), r.getString(1)))
    outbox.synchronized { outbox ++= msgs }
    if (loopback && msgs.nonEmpty)
      pending.synchronized { pending ++= msgs; () }
    ()
  }

  private val fanoutStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
  // per-river routing counters accumulated across fanout batches — the
  // reference's per-listener message_counter
  private val fanoutCounters = mutable.Map.empty[String, Map[String, Long]]
  private val fanoutWall = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total wall-clock spent routing fanout batches (nanos). The per-river
    * est_busy_nanos entries in [[fanoutMetrics]] sum to this — the
    * conservation law RapidSurfaceSpec pins.
    */
  def fanoutBusyNanos: Long = fanoutWall.get()

  /** Accumulated per-river routing metrics of the fanout query (river
    * name -> messages/passed/precondition_failed/validation_failed/
    * unparseable + declared tag counters + est_busy_nanos). Stateful rivers
    * report through their own query's progress instead.
    */
  def fanoutMetrics: Map[String, Map[String, Long]] =
    fanoutCounters.synchronized(fanoutCounters.toMap)

  private def recordFanoutMetrics(batch: Seq[(String, Map[String, Any])]): Unit =
    fanoutCounters.synchronized {
      batch.foreach { case (riverName, m) =>
        val counts = m.collect { case (k, v: Long) => k -> v }
        val prev = fanoutCounters.getOrElse(riverName, Map.empty)
        fanoutCounters.update(riverName,
          (prev.keySet ++ counts.keySet).map(k =>
            k -> (prev.getOrElse(k, 0L) + counts.getOrElse(k, 0L))).toMap)
      }
    }

  /** Start the fanout query (idempotent): ONE MemoryStream, ONE streaming
    * query, every registered river routed off one persisted batch per
    * trigger ([[Fanout.routeBatchObserved]]).
    *
    * The start-once guard is an AtomicBoolean, NOT the queries monitor:
    * `start()` delivers QueryStartedEvent to listeners synchronously, and a
    * listener reading [[queryIds]] (Lifecycle's ownership filter does)
    * would deadlock against a start() made while holding that monitor.
    */
  private def startFanout(): Unit = {
    // flag + snapshot share the fanoutRegs lock with register's
    // check-and-append (TOCTOU-free); the query starts OUTSIDE any lock —
    // start() delivers QueryStartedEvent synchronously to listeners that
    // may take other locks. The flag latches on the FIRST send even with
    // zero fanout rivers (e.g. only stateful rivers): a later register
    // must fail loudly rather than silently miss the already-sent messages.
    val regs = fanoutRegs.synchronized {
      if (fanoutStarted.compareAndSet(false, true)) fanoutRegs.toVector
      else Vector.empty
    }
    if (regs.nonEmpty) {
      val q = newInput().writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // unioned: all rivers' replies drain in ONE action per batch,
          // which also fires every river's observed routing counters; the
          // batch wall is measured here and apportioned per river
          val t0 = System.nanoTime()
          val observed = Fanout.routeBatchObserved(batch, regs)(collectReplies)
          val wall = System.nanoTime() - t0
          fanoutWall.addAndGet(wall)
          recordFanoutMetrics(Fanout.attributeCost(observed, wall))
        }
        .queryName(s"$name-fanout")
        .start()
      queries.synchronized { queries += q; () }
    }
  }

  /** Synchronously inject a message and drain all rivers (every subscriber
    * sees every message, RapidsConnection.kt:44-55). Under [[loopback]],
    * buffered replies are re-injected between drain rounds until none are
    * produced (quiescence); `maxLoopbackHops` re-injection rounds guard
    * against a reply loop that never converges. Quiescence — an empty
    * reply buffer — is the termination test, so a flow that legitimately
    * settles on exactly the last permitted hop still passes.
    */
  def sendTestMessage(message: String, key: String = null): Unit = {
    startFanout()
    inputs.synchronized(inputs.toVector).foreach(_.addData((key, message)))
    var hops = 0
    var quiescent = false
    while (!quiescent) {
      queries.synchronized(queries.toVector).foreach(_.processAllAvailable())
      val replays = pending.synchronized { val p = pending.toVector; pending.clear(); p }
      if (replays.isEmpty) quiescent = true
      else {
        // cap checked BEFORE re-injection: on failure the un-replayed batch
        // is dropped (pending already cleared) and the MemoryStreams hold no
        // undrained data, so a caller that catches this can keep using the
        // rapid without stale messages polluting the next send's drain
        require(hops < maxLoopbackHops,
          s"rapid did not quiesce after $hops loopback hops (reply loop?)")
        inputs.synchronized(inputs.toVector).foreach(_.addData(replays))
        hops += 1
      }
    }
  }

  /** Direct publish onto the outbox (TestRapid.publish). */
  def publish(message: String, key: String = null): Unit =
    outbox.synchronized { outbox += ((key, message)); () }

  /** Bulk publish with per-index results (RapidsConnection.kt:13-29;
    * KafkaRapid.kt:64-99). Null bodies fail (the producer would reject).
    */
  def publishBulk(messages: Seq[OutgoingMessage]): (Seq[SentMessage], Seq[FailedMessage]) =
    BulkPublish(messages) { m =>
      require(m.body != null && m.body.nonEmpty, "empty message body")
      publish(m.body, m.key.orNull)
    }

  def stop(): Unit = {
    rapidStopped = true
    queries.synchronized(queries.toVector).foreach(_.stop())
    spark.streams.removeListener(errorPropagation)
  }

  // a stopped rapid whose lazy fanout query never started has no inactive
  // query to observe — the explicit flag keeps isRunning truthful
  @volatile private var rapidStopped = false

  /** Liveness: every started query is active (KafkaRapid.isRunning
    * analogue; surfaced by RapidApplication health). The fanout query
    * starts on the first send, so before it a rapid counts as running once
    * a river is registered and nothing has failed.
    */
  def isRunning: Boolean = queries.synchronized {
    !rapidStopped &&
      (fanoutRegs.synchronized(fanoutRegs.nonEmpty) || queries.nonEmpty) &&
      failure.get().isEmpty && queries.forall(_.isActive)
  }

  /** Ids of this rapid's queries (lifecycle-event ownership filter). */
  def queryIds: Set[java.util.UUID] = queries.synchronized(queries.map(_.id).toSet)

  /** TestRapid.inspektør (TestRapid.kt:38-75). */
  def inspector: Inspector = outbox.synchronized(new Inspector(outbox.toVector))

  private object Inspector {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  }

  final class Inspector(msgs: Vector[(String, String)]) {
    def size: Int = msgs.size
    def key(i: Int): String = msgs(i)._1
    def message(i: Int): String = msgs(i)._2
    /** Read a top-level field of message i (parsed on demand). Plain
      * Jackson, not a Spark job: this is a per-assertion test surface and
      * a one-row DataFrame would pay ~100 ms of job overhead per read.
      * Same contract as get_json_object: None for missing/null AND for a
      * message that is not valid JSON at all.
      */
    def field(i: Int, key: String): Option[String] =
      scala.util.Try(Option(Inspector.mapper.readTree(msgs(i)._2))).toOption.flatten.flatMap { root =>
        val node = root.path(key)
        if (node.isMissingNode || node.isNull) None
        else if (node.isTextual) Some(node.asText())
        else Some(node.toString)
      }
  }
}
