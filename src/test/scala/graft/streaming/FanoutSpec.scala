package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.messages.{River, Routed, Validation}

/** Single-scan fanout mode (Fanout / MemoryRapid(fanout = true)): the
  * reference reads each record once and notifies every listener
  * (RapidsConnection.kt:44-55); the single-query mode must prove the same —
  * N rivers, every message seen by each, exactly ONE streaming query whose
  * input rows are counted once.
  */
class FanoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def eventRiver(name: String) =
    River().precondition(Validation.requireValue("@event_name", name))

  /** Registrations whose flows count how often they are built. */
  private def counted(rivers: Seq[River])(flow: Int => Routed => DataFrame)
      : (Seq[Fanout.Registration], Seq[AtomicInteger]) = {
    val builds = rivers.map(_ => new AtomicInteger())
    val regs = rivers.indices.map { i =>
      Fanout.Registration(rivers(i), { r => builds(i).incrementAndGet(); flow(i)(r) }, s"r$i")
    }
    (regs, builds)
  }

  /** A (key, value) MemoryStream query whose foreachBatch runs `onBatch`. */
  private def fanoutQuery(name: String)(onBatch: DataFrame => Unit)
      : (MemoryStream[(String, String)], StreamingQuery) = {
    val spark = TestSpark.spark
    import spark.implicits._
    val input = MemoryStream[(String, String)](
      implicitly[Encoder[(String, String)]], spark)
    val q = input.toDF().toDF("key", "value").writeStream.queryName(name)
      .foreachBatch { (b: DataFrame, _: Long) => onBatch(b) }
      .start()
    (input, q)
  }

  private def pairs(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("N rivers see every message off ONE query with one input scan") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout", fanout = true)
    // three rivers with different routes; each echoes a tagged reply
    Seq("a", "b", "c").foreach { ev =>
      rapid.register(eventRiver(ev)) { r =>
        r.passed.select(col("key"), concat(lit(s"saw_$ev:"), col("value")).as("value"))
      }
    }
    val msgs = Seq("""{"@event_name":"a"}""", """{"@event_name":"b"}""",
      """{"@event_name":"c"}""", """{"@event_name":"a"}""")
    msgs.foreach(rapid.sendTestMessage(_))
    assert(rapid.isRunning)

    // every river saw its messages (and fanout delivered ALL messages to
    // all rivers — the non-matching ones were routed, just not passed)
    val out = (0 until rapid.inspector.size).map(rapid.inspector.message)
    assert(out.count(_.startsWith("saw_a:")) == 2)
    assert(out.count(_.startsWith("saw_b:")) == 1)
    assert(out.count(_.startsWith("saw_c:")) == 1)

    // exactly ONE streaming query for the whole rapid...
    assert(rapid.queryIds.size == 1, s"expected one query, got ${rapid.queryIds}")
    // ...and the source was scanned once per message, not once per river:
    // total input rows across all processed micro-batches equals the number
    // of injected messages (per-river mode would count 3x)
    val q = spark.streams.get(rapid.queryIds.head)
    val scanned = q.recentProgress.map(_.numInputRows).sum
    assert(scanned == msgs.size.toLong,
      s"expected ${msgs.size} scanned input rows (read-once), got $scanned")

    // per-river routing counters survive the single-scan mode (the
    // reference's per-listener message_counter): every river observed ALL
    // 4 messages, and passed exactly its own
    val m = rapid.fanoutMetrics
    assert(m.keySet == Set("fanout-river-0", "fanout-river-1", "fanout-river-2"),
      s"got ${m.keySet}")
    assert(m.values.forall(_("messages") == 4L), s"got $m")
    assert(m("fanout-river-0")("passed") == 2L) // river a: 2 matches
    assert(m("fanout-river-1")("passed") == 1L)
    assert(m("fanout-river-2")("passed") == 1L)
    assert(m("fanout-river-0")("precondition_failed") == 2L) // the b/c msgs
    rapid.stop()
  }

  test("registering after the fanout query started fails loudly") {
    val rapid = new MemoryRapid(TestSpark.spark, "fanout-late", fanout = true)
    rapid.register(eventRiver("a")) { r => r.passed.select(col("key"), col("value")) }
    rapid.sendTestMessage("""{"@event_name":"a"}""")
    val ex = intercept[IllegalArgumentException] {
      rapid.register(eventRiver("b")) { r => r.passed.select(col("key"), col("value")) }
    }
    assert(ex.getMessage.contains("before the first send"))
    rapid.stop()
  }

  test("error in one river's flow stops the single query — and the rapid (RapidIntegrationTest.kt:126-141)") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout-err", fanout = true)
    rapid.register(eventRiver("fine")) { r =>
      r.passed.select(col("key"), col("value"))
    }
    rapid.register(eventRiver("boom")) { r =>
      r.passed.select(col("key"),
        when(lit(true), raise_error(lit("poison message"))).otherwise(col("value"))
          .cast("string").as("value"))
    }
    rapid.sendTestMessage("""{"@event_name":"fine"}""")
    assert(rapid.isRunning)
    intercept[Exception](rapid.sendTestMessage("""{"@event_name":"boom"}"""))
    val deadline = System.currentTimeMillis() + 30000
    while (rapid.isRunning && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!rapid.isRunning, "rapid kept running after a river error")
    assert(rapid.firstFailure.exists(_.contains("poison message")))
  }

  test("loopback multi-hop flows work off the single query") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout-loop", fanout = true, loopback = true)
    // hop 1: a -> b; hop 2: b -> done
    rapid.register(eventRiver("a")) { r =>
      r.passed.select(col("key"), lit("""{"@event_name":"b"}""").as("value"))
    }
    rapid.register(eventRiver("b")) { r =>
      r.passed.select(col("key"), lit("""{"@event_name":"done"}""").as("value"))
    }
    rapid.sendTestMessage("""{"@event_name":"a"}""")
    val out = (0 until rapid.inspector.size).map(rapid.inspector.message)
    assert(out.exists(_.contains("\"done\"")),
      s"expected the two-hop reply to land, got $out")
    rapid.stop()
  }

  test("a stateful flow on the shared scan fails LOUDLY, never silently resets state") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout-stateful", fanout = true)
    // flatMapGroupsWithState inside the fanout's per-batch routing would
    // run fine and silently forget its state every trigger — the guard
    // must down the rapid with actionable guidance instead
    rapid.register(River()
      .precondition(Validation.requireValue("@event_name", "ping"))
      .validate(Validation.requireParsed("ping_time",
        graft.functions.Converters.asOptionalLocalDateTimeLenient))) { r =>
      PingPong(r, "app", "inst", () => System.currentTimeMillis())
    }
    intercept[Exception](rapid.sendTestMessage("""{"@event_name":"ping"}"""))
    // firstFailure lands via the ASYNC terminated event — poll for it, not
    // for isRunning (the query flips inactive before the event delivers)
    val deadline = System.currentTimeMillis() + 30000
    while (rapid.firstFailure.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(rapid.firstFailure.exists(_.contains("registerStateful")),
      s"expected the stateful-flow guidance, got ${rapid.firstFailure}")
    // the same river registered STATEFUL works: its own query owns the state
    val rapid2 = new MemoryRapid(spark, "fanout-stateful2", fanout = true)
    rapid2.registerStateful(River()
      .precondition(Validation.requireValue("@event_name", "ping"))
      .validate(Validation.requireParsed("ping_time",
        graft.functions.Converters.asOptionalLocalDateTimeLenient))) { r =>
      PingPong(r, "app", "inst", () => 1700000001000L)
    }
    rapid2.sendTestMessage(
      """{"@event_name":"ping","ping_time":"2023-11-14T22:13:20"}""")
    assert((0 until rapid2.inspector.size).map(rapid2.inspector.message)
      .exists(_.contains("\"pong\"")))
    rapid2.stop()
  }

  test("a stopped fanout rapid reports not running even if its lazy query never started") {
    val rapid = new MemoryRapid(TestSpark.spark, "fanout-idle", fanout = true)
    rapid.register(eventRiver("a")) { r => r.passed.select(col("key"), col("value")) }
    assert(rapid.isRunning) // registered, nothing failed
    rapid.stop()            // stopped before any send: no query ever existed
    assert(!rapid.isRunning, "a drained rapid must not report alive")
  }

  test("routeBatchUnioned builds the river plans once per query and binds every trigger into them") {
    val spark = TestSpark.spark
    import spark.implicits._
    Bridge.clearCaches(spark)
    // a fast-path river, a variant-path river (dotted key) and a catch-all:
    // three attach shapes in one union
    val rivers = Seq(
      eventRiver("a"),
      eventRiver("b").validate(Validation.requireKey("@løsning.x")),
      River().validate(Validation.requireKey("@event_name")))
    def reply(i: Int)(r: Routed): DataFrame =
      r.passed.select(col("key"), concat(lit(s"r$i:"), col("value")).as("value"))
    val (regs, builds) = counted(rivers)(reply)
    final case class Trigger(partitions: Int, got: Seq[(String, String)], branches: Int,
        cachedBranches: Int, uncached: Boolean)
    val triggers = mutable.ArrayBuffer.empty[Trigger]
    // the batch is read by the routing action alone, so numInputRows counts
    // each message once; the reference is built after the query, off the
    // messages each trigger was sent
    val (input, q) = fanoutQuery("fanout-bound") { b =>
      var got = Seq.empty[(String, String)]
      var branches, cachedBranches = -1
      Fanout.routeBatchUnioned(b, regs) { replies =>
        got = pairs(replies)
        val unions = collect(replies.queryExecution.executedPlan) { case u: UnionExec => u }
        branches = unions.map(_.children.size).sum
        cachedBranches = unions.flatMap(_.children)
          .count(c => collect(c) { case s: InMemoryTableScanExec => s }.nonEmpty)
      }
      triggers.synchronized {
        triggers += Trigger(b.rdd.getNumPartitions, got, branches, cachedBranches,
          Bridge.noCachedPlans(spark))
      }
    }
    try {
      val a = """{"@event_name":"a"}"""
      val b = """{"@event_name":"b","@løsning":{"x":1}}"""
      val sends = Seq(
        Seq(Seq("k1" -> a, "k2" -> b, "k3" -> """{"@event_name":"b"}""", "k4" -> "{oops")),
        Seq(Seq.empty),
        Seq(Seq("k5" -> "{", "k6" -> "[1,2]", "k7" -> "not json")),
        // three blocks before one trigger: a batch of three partitions
        Seq(Seq("k8" -> a), Seq("k9" -> b), Seq("k10" -> """{"@event_name":"c"}""")))
      sends.foreach { blocks =>
        blocks.foreach(block => input.addData(block))
        q.processAllAvailable()
      }
      assert(triggers.size == sends.size, s"one trigger per send, got ${triggers.size}")
      assert(q.recentProgress.map(_.numInputRows).sum == sends.flatten.flatten.size.toLong)
      triggers.zip(sends).zipWithIndex.foreach { case ((t, sent), i) =>
        // the reference: every river attached to this trigger's messages,
        // built afresh
        val batch = sent.flatten.toDF("key", "value")
        val want = pairs(rivers.indices.map(j => reply(j)(rivers(j).attach(batch, col("value"))))
          .reduce(_.unionAll(_)))
        assert(t.got == want, s"trigger $i: replies differ from the per-batch reference")
        assert(t.branches == rivers.size && t.cachedBranches == rivers.size,
          s"trigger $i: ${t.cachedBranches} of ${t.branches} branches read the persisted batch")
        assert(t.uncached, s"trigger $i left a cached plan behind")
      }
      assert(triggers.head.got.map(_._2).sorted == Seq(s"r0:$a", s"r1:$b", s"r2:$a", s"r2:$b",
        """r2:{"@event_name":"b"}""").sorted)
      assert(triggers(3).got.size == 5)
      assert(triggers(3).partitions != triggers.head.partitions,
        s"expected a different partition count, got ${triggers.map(_.partitions)}")
      assert(builds.map(_.get) == rivers.map(_ => 1), "each flow must be built once per query")
    } finally q.stop()
  }

  test("a bound trigger stamps current_timestamp() with its own time and draws fresh seeds") {
    // Republish's defaults: @opprettet from current_timestamp(), @id from
    // uuid(); the second river's rand() and rand(7) are seeded when the
    // template is built, and a trigger must not repeat those seeds either
    val (regs, _) = counted(Seq(eventRiver("a"), eventRiver("a"))) {
      case 0 => r => Republish(r.passed.select(col("key"), col("value")), Nil, "svc", "inst")
      case _ => r => r.passed.select(col("key"),
        to_json(struct(rand().as("rand"), rand(7).as("seeded"))).as("value"))
    }
    final case class Reply(at: java.time.LocalDateTime, id: String, rand: Double, seeded: Double)
    val replies = mutable.ArrayBuffer.empty[Reply]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val (input, q) = fanoutQuery("fanout-now") { b =>
      Fanout.routeBatchUnioned(b, regs) { out =>
        val json = pairs(out).map(p => mapper.readTree(p._2))
        val republished = json.find(_.has("@id")).get
        val random = json.find(_.has("rand")).get
        replies.synchronized {
          replies += Reply(java.time.LocalDateTime.parse(republished.path("@opprettet").asText()),
            republished.path("@id").asText(), random.path("rand").asDouble(),
            random.path("seeded").asDouble())
        }
      }
    }
    try {
      input.addData(Seq("k1" -> """{"@event_name":"a"}"""))
      q.processAllAvailable()
      Thread.sleep(1100)
      input.addData(Seq("k2" -> """{"@event_name":"a"}"""))
      q.processAllAvailable()
      assert(replies.size == 2, s"got $replies")
      val Seq(first, second) = replies.toSeq
      assert(java.time.Duration.between(first.at, second.at).toMillis >= 1000,
        s"the second trigger reused the first one's time: $replies")
      assert(first.id.nonEmpty && first.id != second.id,
        s"the second trigger repeated the first one's @id: $replies")
      assert(first.rand != second.rand && first.seeded != second.seeded,
        s"the second trigger repeated the first one's random seeds: $replies")
    } finally q.stop()
  }

  test("a batch with KafkaRapid.stream's metadata columns gets its own template") {
    val spark = TestSpark.spark
    import spark.implicits._
    Bridge.clearCaches(spark)
    // Routed.trace reads the metadata columns only when the batch has them
    val (regs, builds) = counted(Seq(eventRiver("a"))) { _ => r =>
      r.passed.select(col("key"), to_json(r.trace(col("value"))).as("value"))
    }
    val plain = Seq(("k", """{"@event_name":"a","@id":"i1"}""")).toDF("key", "value")
    val kafka = plain.select(col("key"), col("value"), lit("rapid").as("topic"),
      lit(3).as("partition"), lit(7L).as("offset"),
      array(struct(lit("h").as("key"), lit("v").cast("binary").as("value"))).as("headers"))
    def route(batch: DataFrame): String = {
      var out = Seq.empty[(String, String)]
      Fanout.routeBatchUnioned(batch, regs) { replies => out = pairs(replies) }
      assert(Bridge.noCachedPlans(spark))
      out.map(_._2).mkString
    }
    val first = route(plain)
    assert(first == """{"key":"k","id":"i1","event_name":"a"}""", first)
    val meta = route(kafka)
    assert(meta == """{"topic":"rapid","partition":3,"offset":7,"key":"k","id":"i1","event_name":"a"}""",
      meta)
    assert(route(plain) == first)
    assert(builds.head.get == 2, "one build per batch schema")
  }

  test("the template cache keeps no registration list alive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val collected = new java.lang.ref.ReferenceQueue[Seq[Fanout.Registration]]
    def routeOnce(): java.lang.ref.WeakReference[Seq[Fanout.Registration]] = {
      val regs = Seq(Fanout.Registration(eventRiver("a"),
        r => r.passed.select(col("key"), col("value"))))
      Fanout.routeBatchUnioned(Seq(("k", """{"@event_name":"a"}""")).toDF("key", "value"),
        regs)(_.collect())
      new java.lang.ref.WeakReference(regs, collected)
    }
    val ref = routeOnce()
    // System.gc() is only a hint (a JVM may ignore it): allocate between
    // requests too, so collections happen either way, and allow 60 s
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var garbage: Array[Array[Byte]] = null
    while (ref.get != null && collected.remove(100) == null && System.nanoTime() < deadline) {
      System.gc()
      garbage = Array.fill(16)(new Array[Byte](1 << 20))
    }
    assert(ref.get == null, "the registrations stayed reachable after their last use")
  }

  test("sink batch options drop only the checkpoint (the fanout query's own)") {
    val cfg = KafkaRapidConfig("b:9092", "rapid", checkpointLocation = "/durable/ckpt")
    assert(cfg.sinkBatchOptions == cfg.sinkOptions - "checkpointLocation")
    assert(cfg.sinkBatchOptions.contains("kafka.enable.idempotence"))
    assert(cfg.sinkBatchOptions("topic") == "rapid")
  }
}
