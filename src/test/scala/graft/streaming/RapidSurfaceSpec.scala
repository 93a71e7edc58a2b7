package graft.streaming

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.messages.{River, Validation}

/** Remaining rapid surface: metrics, lifecycle, bulk publish. */
class RapidSurfaceSpec extends AnyFunSuite {

  test("river metrics via observe (River.kt:75-140)") {
    val msgs = TestSpark.messages(
      """{"@event_name":"ping","ping_time":"t"}""",
      """{"@event_name":"pong"}""",
      """{"@event_name":"ping"}""",
      """not json""")
    val routed = River()
      .precondition(Validation.requireValue("@event_name", "ping"))
      .validate(Validation.requireKey("ping_time"))
      .attach(msgs, col("value"))
    val obs = Observation("river")
    routed.all.observe(obs, count(lit(1)).as("messages"),
      count(when(col("status") === "passed", 1)).as("passed"),
      count(when(col("status") === "unparseable", 1)).as("unparseable")).collect()
    val m = obs.get
    assert(m("messages") == 4L && m("passed") == 1L && m("unparseable") == 1L)
    // the built-in projection compiles too
    routed.observed().collect()
  }

  test("per-event_name and per-behov tagged counters (River.kt:75-140)") {
    val msgs = TestSpark.messages(
      """{"@event_name":"order","@behov":["Inntekt","Sykdom"]}""",
      """{"@event_name":"order","@behov":["Inntekt"]}""",
      """{"@event_name":"refund","@behov":["Inntekt"]}""",
      """{"@event_name":"unknown","@behov":["Inntekt"]}""", // fails routing: untagged
      """not json""")
    val routed = River()
      .precondition(
        Validation.requireAny("@event_name", Seq("order", "refund")),
        Validation.requireAllOrAny("@behov", Seq("Inntekt", "Sykdom")))
      .attach(msgs, col("value"))
    val obs = Observation("tagged")
    routed.observed(obs).collect()
    val m = obs.get
    // tag values come from the river's own declarations; counters tag only
    // passed messages, like the reference incrementing inside onPacket
    assert(m("messages") == 5L && m("passed") == 3L)
    assert(m("event_name_order") == 2L && m("event_name_refund") == 1L)
    assert(m("behov_Inntekt") == 3L && m("behov_Sykdom") == 1L)
  }

  test("participating_services presence counters (River.kt:136,211-214; RiverTest tag cases)") {
    val msgs = TestSpark.messages(
      """{"@event_name":"order","system_participating_services":[{"service":"a"}]}""",
      """{"@event_name":"order"}""",
      """{"@event_name":"other","system_participating_services":[{"service":"b"}]}""", // fails routing, still tagged
      """not json""") // unparseable: excluded (nothing to read the field from)
    val routed = River()
      .validate(Validation.requireValue("@event_name", "order"))
      .precondition(Validation.interestedIn("system_participating_services"))
      .attach(msgs, col("value"))
    val obs = Observation("svc")
    routed.observed(obs).collect()
    val m = obs.get
    // counted over every PARSED outcome (the reference tags severe/error
    // message_counter increments too), bounded present/none cardinality
    assert(m("participating_services_present") == 2L, s"got $m")
    assert(m("participating_services_none") == 1L, s"got $m")
  }

  test("river metrics surface in StreamingQueryProgress under streaming") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "obs")
    @volatile var seen: Option[Map[String, Long]] = None
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("river")) {
          val r = m.get("river")
          seen = Some(Map("messages" -> r.getLong(0), "passed" -> r.getLong(1)))
        }
      }
    }
    spark.streams.addListener(listener)
    try {
      // a river with its own query: a named observation inside the
      // fanout's foreachBatch never reaches StreamingQueryProgress (the
      // fanout's counts are on fanoutMetrics, FanoutSpec)
      rapid.registerStateful(River().precondition(Validation.requireValue("@event_name", "ping"))) {
        routed => routed.observed("river").filter(col("status") === "passed")
          .select(col("key"), col("value"))
      }
      rapid.sendTestMessage("""{"@event_name":"ping"}""")
      rapid.sendTestMessage("""{"@event_name":"nope"}""")
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && seen.isEmpty) Thread.sleep(100)
      assert(seen.isDefined, "no observed metrics reached StreamingQueryProgress")
      assert(seen.get("messages") >= 1L)
    } finally {
      rapid.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("per-river batch duration timer — the on_packet_seconds analogue (River.kt:75-96)") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "timed")
    // lambda, not eta-expansion: queryIds must be read at event time
    val timers = Timers.attach(spark, id => rapid.queryIds.contains(id))
    try {
      rapid.register(River().precondition(Validation.requireValue("@event_name", "ping"))) {
        r => r.passed.select(col("key"), col("value"))
      }
      rapid.sendTestMessage("""{"@event_name":"ping"}""")
      rapid.sendTestMessage("""{"@event_name":"other"}""")
      // progress events are async; poll for the recorded batch
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && timers.latest.isEmpty)
        Thread.sleep(100)
      val byName = timers.latest
      // the river runs on the rapid's fanout query: its timer is that query's
      assert(byName.keySet == Set("timed-fanout"), s"got ${byName.keySet}")
      val t = byName("timed-fanout")
      assert(t.numInputRows >= 1)
      assert(t.triggerMs > 0, "batch wall clock should be non-zero")
      assert(t.secondsPerMessage > 0.0)
      assert(timers.history("timed-fanout").nonEmpty)
    } finally {
      Timers.detach(spark, timers)
      rapid.stop()
    }
  }

  test("timer history is bounded: a long-running rapid keeps only the latest MaxHistory batches") {
    val spark = TestSpark.spark
    val timers = Timers.attach(spark, _ => false) // no live queries needed
    try {
      // an app-long handle on a 1-batch/sec rapid sees ~86k batches/day;
      // the retained window must stay fixed no matter how many arrive
      (1 to Timers.MaxHistory * 3).foreach { i =>
        timers.record(Timers.RiverTiming("r0", i.toLong, 1L, 10L, 5L, 0.01))
      }
      val h = timers.history("r0")
      assert(h.size == Timers.MaxHistory, s"history grew to ${h.size}")
      // newest-first: the latest batch is at the head, oldest retained is
      // exactly MaxHistory batches back
      assert(h.head.batchId == (Timers.MaxHistory * 3).toLong)
      assert(h.last.batchId == (Timers.MaxHistory * 2 + 1).toLong)
      assert(timers.latest("r0").batchId == h.head.batchId)
    } finally Timers.detach(spark, timers)
  }

  test("fanout cost attribution: per-river busy estimates sum to the batch wall") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout-cost")
    Seq("a", "b").foreach { ev =>
      rapid.register(River().precondition(Validation.requireValue("@event_name", ev))) {
        r => r.passed.select(col("key"), col("value"))
      }
    }
    Seq("a", "a", "b", "a").foreach(ev => rapid.sendTestMessage(s"""{"@event_name":"$ev"}"""))
    val m = rapid.fanoutMetrics
    val est = m.view.mapValues(_("est_busy_nanos")).toMap
    assert(est.values.forall(_ > 0), s"every river gets a share: $est")
    // conservation: estimates sum to the measured batch wall (rounding is
    // at most 1 ns per river per batch; 4 sends = 4 batches here)
    val slack = 4L * m.size
    assert(math.abs(est.values.sum - rapid.fanoutBusyNanos) <= slack,
      s"sum ${est.values.sum} vs wall ${rapid.fanoutBusyNanos}")
    rapid.stop()
    // the work model itself, pinned deterministically (an end-to-end
    // ordering assert would depend on REAL per-batch walls, where one GC
    // pause on the light river's batch could flip the comparison): within
    // one batch the heavier branch gets proportionally more of the wall
    val shares = Fanout.attributeCost(Seq(
      "heavy" -> Map[String, Any]("messages" -> 4L, "passed" -> 3L),
      "light" -> Map[String, Any]("messages" -> 4L, "passed" -> 1L)), 1200L)
      .map { case (n, mm) => n -> mm("est_busy_nanos") }.toMap
    assert(shares == Map("heavy" -> 700L, "light" -> 500L), s"got $shares")
    // no observed work: the wall still lands somewhere (even split)
    val idle = Fanout.attributeCost(Seq(
      "a" -> Map[String, Any]("messages" -> 0L), "b" -> Map[String, Any]()), 100L)
      .map { case (n, mm) => n -> mm("est_busy_nanos") }.toMap
    assert(idle == Map("a" -> 50L, "b" -> 50L), s"got $idle")
  }

  test("lifecycle events publish on attach and query termination (RapidApplication.kt:94-139)") {
    val spark = TestSpark.spark
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = Lifecycle.attach(spark, "app", "i-1")(m => seen.synchronized { seen += m; () })
    try {
      assert(seen.exists(_.contains("\"application_up\"")))
      val rapid = new MemoryRapid(spark, "lc")
      rapid.register(River()) { r => r.passed.select(col("key"), col("value")) }
      rapid.sendTestMessage("""{"a":1}""")
      rapid.stop()
      // listener callbacks are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !seen.synchronized(seen.exists(_.contains("application_down")))) Thread.sleep(100)
      assert(seen.synchronized(seen.exists(_.contains("\"application_ready\""))))
      assert(seen.synchronized(seen.exists(_.contains("\"application_down\""))))
    } finally spark.streams.removeListener(listener)
  }

  test("bulk publish returns per-index sent/failed (RapidsConnection.kt:13-29)") {
    val rapid = new MemoryRapid(TestSpark.spark, "bulk")
    val (sent, failed) = rapid.publishBulk(Seq(
      OutgoingMessage("""{"n":1}"""),
      OutgoingMessage(null),
      OutgoingMessage("""{"n":3}""", Some("k3"))))
    assert(sent.map(_.index) == Seq(0, 2))
    assert(failed.map(_.index) == Seq(1))
    val insp = rapid.inspector
    assert(insp.size == 2 && insp.key(1) == "k3")
  }
}
