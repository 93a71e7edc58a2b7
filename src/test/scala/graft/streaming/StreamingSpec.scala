package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.messages.{Envelope, River, Validation}

/** In-memory end-to-end pipeline tests — the TestRapid / PingPongTest /
  * RapidApplicationComponentTest analogues (SURVEY §3.3, §5.3).
  */
class StreamingSpec extends AnyFunSuite {

  test("MemoryRapid roundtrip: river filters, replies captured, key-sticky (TestRapidTest.kt:18-35)") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "t1")
    rapid.register(
      River().precondition(Validation.requireValue("@event_name", "ping"))) { routed =>
      routed.passed.select(
        col("key"),
        lit("""{"@event_name":"pong"}""").as("value"))
    }
    rapid.sendTestMessage("""{"@event_name":"ping"}""", key = "k-1")
    rapid.sendTestMessage("""{"@event_name":"other"}""", key = "k-2")
    val insp = rapid.inspector
    assert(insp.size == 1)
    assert(insp.key(0) == "k-1") // reply inherits incoming key, KeyMessageContext.kt:7-10
    assert(insp.field(0, "@event_name").contains("pong"))
    rapid.stop()
  }

  test("multi-river fanout: EVERY registered river sees EVERY message (RapidsConnection.kt:44-55)") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout")
    rapid.register(
      River().precondition(Validation.requireValue("@event_name", "ping"))) { r =>
      r.passed.select(col("key"), lit("""{"seen":"by-ping-river"}""").as("value"))
    }
    rapid.register(
      River().validate(Validation.requireKey("@event_name"))) { r =>
      r.passed.select(col("key"), lit("""{"seen":"by-all-river"}""").as("value"))
    }
    rapid.sendTestMessage("""{"@event_name":"ping"}""", "k1")
    val insp = rapid.inspector
    val bodies = (0 until insp.size).map(insp.message)
    // both rivers route off the rapid's one scan — both must reply
    assert(bodies.exists(_.contains("by-ping-river")), s"got $bodies")
    assert(bodies.exists(_.contains("by-all-river")), s"got $bodies")
    rapid.stop()
  }

  test("behov round-trip: need published, solver adds løsning, coordinator sees it (multi-hop loopback)") {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    val rapid = new MemoryRapid(spark, "needs", loopback = true)
    // solver: answers Inntekt needs that carry no løsning yet, republishing
    // the SAME message enriched with @løsning (the reference's behov flow)
    rapid.register(River()
      .precondition(Validation.requireAllOrAny("@behov", Seq("Inntekt")))
      .precondition(Validation.forbid("@løsning.Inntekt"))) { r =>
      Republish(r.passed.select(col("key"), col("value")),
        Seq("@løsning" -> struct(lit(42000.0).as("Inntekt"))),
        "inntekt-service", "solver-1")
    }
    // coordinator: reacts only to SOLVED needs — which exist solely as the
    // solver's looped-back replies, never as direct test input
    rapid.register(River()
      .precondition(Validation.requireKey("@løsning.Inntekt"))) { r =>
      r.passed.select(col("key"),
        lit("""{"@event_name":"inntekt_recorded"}""").as("value"))
    }
    import spark.implicits._
    val needJson = Seq(1).toDF("x").select(Envelope.newNeed(Seq("Inntekt"),
      Seq("fnr" -> lit("123")), Envelope.RandomIdGen,
      current_timestamp()).as("m")).first().getString(0)
    rapid.sendTestMessage(needJson, key = "fnr-123")
    val insp = rapid.inspector
    val bodies = (0 until insp.size).map(i => (insp.key(i), insp.message(i)))
    // hop 1: the solver's reply carries the løsning AND the original need
    // fields (Republish passthrough), under the sticky key
    val solved = bodies.collect { case (k, m) if m.contains("@løsning") => (k, m) }
    assert(solved.size == 1, s"solver must answer exactly once, got $bodies")
    assert(solved.head._1 == "fnr-123")
    assert(solved.head._2.contains("42000") && solved.head._2.contains("@behovId")
      && solved.head._2.contains(""""fnr":"123""""))
    // hop 2: the coordinator consumed the LOOPED-BACK solved message
    assert(bodies.exists(_._2.contains("inntekt_recorded")),
      s"coordinator never saw the solved need: $bodies")
    rapid.stop()
  }

  test("error in one river stops the WHOLE rapid (RapidIntegrationTest.kt:126-141)") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "errstop")
    // healthy river: echoes everything it passes
    rapid.register(
      River().validate(Validation.requireKey("@event_name"))) { r =>
      r.passed.select(col("key"), col("value"))
    }
    // poison river: the flow throws on a specific payload (the reference's
    // unhandled-listener-exception scenario)
    rapid.register(
      River().precondition(Validation.requireValue("@event_name", "boom"))) { r =>
      r.passed.select(col("key"),
        when(lit(true), raise_error(lit("poison message"))).otherwise(col("value"))
          .cast("string").as("value"))
    }
    rapid.sendTestMessage("""{"@event_name":"fine"}""")
    assert(rapid.isRunning)
    // the poison payload fails the rapid's query...
    intercept[Exception](rapid.sendTestMessage("""{"@event_name":"boom"}"""))
    // ...and EVERY river stops with it (one dead subscriber must not leave
    // the app half-alive and reporting healthy)
    val deadline = System.currentTimeMillis() + 30000
    while (rapid.isRunning && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!rapid.isRunning, "healthy sibling river kept running after a river error")
    assert(rapid.firstFailure.exists(_.contains("poison message")))
    rapid.stop()
  }

  test("Republish preserves undeclared fields through mutation (JsonMessage.kt:773-779)") {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    val in = TestSpark.messages(
      """{"@id":"orig-id","@event_name":"ping","@opprettet":"2024-01-01T00:00:00","system_read_count":0,"undeclared_nested":{"deep":[1,2,{"x":"y"}]},"untouched":"v"}""")
      .withColumn("key", lit("k"))
    val out = Republish(
      in,
      mutations = Seq("@event_name" -> lit("pong"), "pong_time" -> lit("2024-01-01T00:00:05")),
      serviceName = "app", instanceId = "i-1",
      idGen = Envelope.SeededIdGen(lit("seed")),
      now = lit("2024-01-01T00:00:05").cast("timestamp"))
    val json = out.select(col("value")).first().getString(0)
    val v = TestSpark.messages(json).select(
      get_json_object(col("value"), "$['undeclared_nested']['deep'][2]['x']"),
      get_json_object(col("value"), "$['untouched']"),
      get_json_object(col("value"), "$['@event_name']"),
      get_json_object(col("value"), "$['pong_time']"),
      get_json_object(col("value"), "$['system_read_count']"),
      get_json_object(col("value"), "$['@forårsaket_av']['id']"),
      get_json_object(col("value"), "$['@id']")).first()
    assert(v.getString(0) == "y") // nested passthrough survives byte-faithfully
    assert(v.getString(1) == "v")
    assert(v.getString(2) == "pong")
    assert(v.getString(3) == "2024-01-01T00:00:05")
    assert(v.getString(4) == "1") // read count incremented
    assert(v.getString(5) == "orig-id") // caused-by traces the origin
    assert(v.getString(6) != "orig-id") // fresh @id
  }

  test("PingPong: stale pings dropped, rate-limited per instance, pong enriched (PingPong.kt:23-43)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = 1700000000000L
    val clock = () => base + 10000L // fixed "now": 10s after base
    val rapid = new MemoryRapid(spark, "pp")
    // PingPong keeps per-instance state across batches: its own query
    rapid.registerStateful(
      River()
        .precondition(Validation.requireValue("@event_name", "ping"))
        .validate(Validation.requireKey("ping_time"))) { routed =>
      PingPong(routed, "app", "i-1", clock)
    }
    def ping(id: String, atMs: Long): String =
      s"""{"@event_name":"ping","@id":"$id","ping_time":"${new java.sql.Timestamp(atMs).toInstant.toString.stripSuffix("Z")}"}"""
    rapid.sendTestMessage(ping("p1", base), "k")          // answered
    rapid.sendTestMessage(ping("p2", base + 1000), "k")   // within 5s of p1 -> dropped
    rapid.sendTestMessage(ping("p3", base + 6000), "k")   // answered
    rapid.sendTestMessage(ping("p4", base - 2 * 60 * 60 * 1000), "k") // >1h old -> dropped
    val insp = rapid.inspector
    assert(insp.size == 2)
    assert(insp.field(0, "@event_name").contains("pong"))
    assert(insp.field(0, "app_name").contains("app"))
    assert(insp.field(1, "ping_time").isDefined)
    rapid.stop()
  }

  test("session windows under watermark merge out-of-order events and drop late ones (SURVEY 2.7)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]], spark)
    // the stateful core of EventWindows.sessionWindowCounts (same 30 min
    // gap), run as a real stream: append mode emits a session only once
    // the watermark passes its close boundary
    val sessions = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").cast("long").as("start"), col("n_events"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // OUT OF ORDER: 00:10 arrives before 00:05; both inside the watermark
      input.addData(("u1", ts("2024-01-01 00:10:00")), ("u1", ts("2024-01-01 00:05:00")),
        ("u2", ts("2024-01-01 00:12:00")))
      q.processAllAvailable()
      // 2h later: advances the watermark (to 01:50) past the first sessions'
      // close boundaries (00:40 / 00:42), flushing them
      input.addData(("u1", ts("2024-01-01 02:00:00")), ("u2", ts("2024-01-01 02:05:00")))
      q.processAllAvailable()
      // a THIRD batch delivers an event at 00:07 — behind the advanced
      // watermark (the watermark is updated at batch boundaries, so it must
      // arrive after the advancing batch committed) — which must be dropped,
      // not resurrect u1's closed session
      input.addData(("u1", ts("2024-01-01 00:07:00")))
      q.processAllAvailable()
      val closed = spark.table("sess_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val t0 = ts("2024-01-01 00:05:00").getTime / 1000
      val t2 = ts("2024-01-01 00:12:00").getTime / 1000
      // u1's out-of-order pair merged into ONE session anchored at the
      // EARLIER event; the late 00:07 event did not appear anywhere
      assert(closed == Set(("u1", t0, 2L), ("u2", t2, 1L)),
        s"closed sessions: $closed")
    } finally q.stop()
  }

  test("hopping windows under watermark: 4 covering windows per event, stream equals batch (w13)") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hand case first: an event exactly ON a slide boundary (00:30) covers
    // starts 00:30, 00:15, 00:00, 23:45 — half-open [start, start+1h)
    // keeps the t-60min window OUT
    val rows = Seq(("click", ts("2024-01-01 00:30:00"), 1.0),
      ("click", ts("2024-01-01 00:40:00"), 2.0),
      ("view", ts("2024-01-01 00:05:00"), 4.0))
    val batchDf = rows.toDF("event_type", "ts", "value")
      .withColumn("event_id", lit(0L)).withColumn("user_id", lit(0L))
      .withColumn("props", lit(""))
    val batch = graft.operators.EventWindows.hopping(batchDf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val starts30 = batch.collect { case (w, "click", _, _) => w }
    assert(Set("2023-12-31 23:45:00", "2024-01-01 00:00:00",
      "2024-01-01 00:15:00", "2024-01-01 00:30:00").subsetOf(starts30.toSet),
      s"boundary event missing a covering window: $starts30")
    // the same expression as a watermarked stream: append mode emits each
    // window once the watermark passes its END; a far-future row flushes all
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp, Double)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp, Double)]], spark)
    val agg = input.toDF().toDF("event_type", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), graft.operators.EventWindows.HopWindowDur,
        graft.operators.EventWindows.HopSlideDur).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("hop_stream").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("flush", ts("2024-01-02 12:00:00"), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("hop_stream")
        .filter(col("event_type") =!= "flush")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, s"stream/batch divergence:\n  stream=$streamed\n  batch=$batch")
    } finally q.stop()
  }

  test("OHLC candles stream under watermark: struct-ordered open/close equal batch (w14)") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq((1L, ts("2024-01-01 00:05:00"), "x", 3.0),
      (2L, ts("2024-01-01 00:10:00"), "x", 9.0),
      (3L, ts("2024-01-01 00:20:00"), "x", 1.0),
      (4L, ts("2024-01-01 00:40:00"), "x", 5.0))
    val batchDf = rows.toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(0L)).withColumn("props", lit(""))
    val batch = graft.operators.EventWindows.ohlc(batchDf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    // the SAME aggregate expressions as a watermarked stream, append mode
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Long, java.sql.Timestamp, String, Double)]], spark)
    val tagged = struct(unix_micros(col("ts")).as("t"),
      col("event_id").as("e"), col("value").as("v"))
    val agg = input.toDF().toDF("event_id", "ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(min(tagged).as("o"), max(tagged).as("c"),
        round(max(col("value")), 2).as("high"), round(min(col("value")), 2).as("low"),
        count(lit(1)).as("n"))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), round(col("o.v"), 2).as("open"), col("high"), col("low"),
        round(col("c.v"), 2).as("close"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("ohlc_stream").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-02 12:00:00"), "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("ohlc_stream")
        .filter(col("event_type") =!= "flush")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
      assert(streamed == batch, s"stream/batch candle divergence:\n  $streamed\n  $batch")
    } finally q.stop()
  }

  test("streaming dedup by @id compensates at-least-once redelivery (SURVEY 2.7)") {
    val spark = TestSpark.spark
    val msgs = TestSpark.messages(
      """{"@id":"a","@opprettet":"2024-01-01T00:00:00"}""",
      """{"@id":"a","@opprettet":"2024-01-01T00:00:00"}""",
      """{"@id":"b","@opprettet":"2024-01-01T00:00:01"}""")
      .select(col("value"),
        get_json_object(col("value"), "$['@id']").as("id"),
        get_json_object(col("value"), "$['@opprettet']").cast("timestamp").as("otime"))
    // batch form of the same expression pipeline (streaming adds watermark state)
    assert(Dedupe.byId(msgs, "id", "otime").count() == 2)
  }

  test("loopback hop cap fails WITHOUT injecting: rapid stays usable after a caught reply loop") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "loopcap", loopback = true, maxLoopbackHops = 3)
    // a river that replies "ping" to every "ping" — never quiesces
    rapid.register(
      River().precondition(Validation.requireValue("@event_name", "ping"))) { r =>
      r.passed.select(col("key"), lit("""{"@event_name":"ping"}""").as("value"))
    }
    val ex = intercept[IllegalArgumentException] {
      rapid.sendTestMessage("""{"@event_name":"ping"}""", "k")
    }
    assert(ex.getMessage.contains("did not quiesce"))
    // the failed send left no undrained data in the MemoryStreams: a
    // subsequent non-looping send sees ONLY its own traffic
    val before = rapid.inspector.size
    rapid.sendTestMessage("""{"@event_name":"other"}""", "k2")
    assert(rapid.inspector.size == before,
      "stale looped messages drained into the next send")
    rapid.stop()
  }

  test("Inspector.field: None for missing, null, and NON-JSON messages; JSON text for objects") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "insp")
    rapid.publish("""{"a":"x","n":null,"o":{"b":1}}""")
    rapid.publish("not json at all")
    val insp = rapid.inspector
    assert(insp.field(0, "a").contains("x"))
    assert(insp.field(0, "n").isEmpty)
    assert(insp.field(0, "missing").isEmpty)
    assert(insp.field(0, "o").contains("""{"b":1}"""))
    assert(insp.field(1, "a").isEmpty) // malformed JSON = None, not a throw
    rapid.stop()
  }
}
