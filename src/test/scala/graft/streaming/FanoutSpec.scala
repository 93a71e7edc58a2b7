package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, JsonToStructs}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StructType, VariantType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.messages.{River, Routed, Validation}

/** Single-scan fanout (Fanout, and MemoryRapid, which runs every
  * stateless river through it): the reference reads each record once and
  * notifies every listener (RapidsConnection.kt:44-55); the single query
  * must prove the same — N rivers, every message seen by each, exactly ONE
  * streaming query whose input rows are counted once.
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

  /** Runs one fanout route whose sink collects the replies under a
    * job-local tag; returns the sorted replies and the number of tasks the
    * sink's job ran.
    */
  private def sinkTasks(route: (DataFrame => Unit) => Unit): (Seq[(String, String)], Int) = {
    val sc = TestSpark.spark.sparkContext
    val key = "graft.test.sink"
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) { tasks.incrementAndGet(); () }
    }
    var got = Seq.empty[(String, String)]
    sc.addSparkListener(listener)
    try {
      route { replies =>
        sc.setLocalProperty(key, tag)
        try got = pairs(replies) finally sc.setLocalProperty(key, null)
      }
      GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    (got, tasks.get)
  }

  /** A (key, value) batch of `msgs` in `partitions` partitions, no shuffle. */
  private def batchOf(msgs: Seq[(String, String)], partitions: Int): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    spark.sparkContext.parallelize(msgs, partitions).toDF("key", "value")
  }

  test("N rivers see every message off ONE query with one input scan") {
    val spark = TestSpark.spark
    val rapid = new MemoryRapid(spark, "fanout")
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
    val rapid = new MemoryRapid(TestSpark.spark, "fanout-late")
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
    val rapid = new MemoryRapid(spark, "fanout-err")
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
    val rapid = new MemoryRapid(spark, "fanout-loop", loopback = true)
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
    val rapid = new MemoryRapid(spark, "fanout-stateful")
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
    val rapid2 = new MemoryRapid(spark, "fanout-stateful2")
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
    val rapid = new MemoryRapid(TestSpark.spark, "fanout-idle")
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
        val unions = collect(Fanout.executedPlan(replies)) { case u: UnionExec => u }
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

  test("a trigger parses each message once: the persisted parse holds the only parses") {
    // river 0's keys are a subset of the union (its rows fall back to its
    // own parse where the union parse rejects), river 1 declares the whole
    // union, river 2 takes the variant path
    val rivers = Seq(
      eventRiver("a"),
      River().precondition(Validation.requireValue("@event_name", "b"))
        .validate(Validation.interestedIn("x")),
      eventRiver("b").validate(Validation.requireKey("@løsning.x")))
    val seen = mutable.ArrayBuffer.empty[Seq[String]]
    val (regs, _) = counted(rivers) { i => r =>
      seen.synchronized { seen += r.all.select("*").columns.toSeq }
      r.passed.select(col("key"), concat(lit(s"r$i:"), col("value")).as("value"))
    }
    def isParseJson(e: Expression) = e match {
      case s: StaticInvoke => s.functionName == "parseJson"
      case _ => false
    }
    def count(plan: SparkPlan)(p: Expression => Boolean): Int =
      collect(plan)(n => n.expressions.map(_.collect { case e if p(e) => e }.size).sum).sum
    var checked = false
    val (input, q) = fanoutQuery("fanout-parse-once") { b =>
      Fanout.routeBatchUnioned(b, regs) { replies =>
        assert(replies.columns.toSeq == Seq("key", "value"))
        val plan = Fanout.executedPlan(replies)
        val builders = collect(plan) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        assert(builders.size == rivers.size && builders.distinct.size == 1,
          s"every branch must read the one persisted parse:\n$plan")
        val parse = builders.head.cachedPlan
        // a top-level variant column makes the columnar cache allocate a
        // 20 MB buffer per partition on every trigger
        assert(!parse.output.exists(_.dataType == VariantType), s"persisted parse:\n$parse")
        val fromJson = collect(parse)(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
          .flatten
        assert(fromJson.size == 1 && fromJson.head.schema.asInstanceOf[StructType].fieldNames
          .toSeq == Seq("@event_name", "x", "_graft_corrupt"), s"union parse:\n$parse")
        assert(count(parse)(isParseJson) == 1, s"shared variant parse:\n$parse")
        // the branches: no whole-document parse, and a from_json only as the
        // corrupt-row fallback of river 0
        assert(count(plan)(isParseJson) == 0, s"a branch parses:\n$plan")
        val fallbacks = count(plan) {
          case CaseWhen(_, Some(_: JsonToStructs)) => true
          case _ => false
        }
        assert(fallbacks > 0 && count(plan)(_.isInstanceOf[JsonToStructs]) == fallbacks,
          s"a branch parses outside the corrupt-row fallback:\n$plan")
        val got = pairs(replies)
        val batch = b.sparkSession.createDataFrame(b.collect().toSeq.asJava, b.schema)
        val want = pairs(rivers.indices.map { j =>
          rivers(j).attach(batch, col("value")).passed
            .select(col("key"), concat(lit(s"r$j:"), col("value")).as("value"))
        }.reduce(_.unionAll(_)))
        assert(got == want)
        checked = true
      }
    }
    try {
      // the nested duplicate key fails the union parse (variant conversion
      // refuses it) but not river 0's own parse, which skips x
      val dup = """{"@event_name":"a","x":{"k":1,"k":2}}"""
      input.addData(Seq("k1" -> dup, "k2" -> """{"@event_name":"b","x":1}""",
        "k3" -> """{"@event_name":"b","@løsning":{"x":1}}""", "k4" -> "{oops"))
      q.processAllAvailable()
      assert(checked)
      assert(seen.nonEmpty && seen.forall(_.forall(c => !c.startsWith("_graft_"))),
        s"an internal column reached a flow: $seen")
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

  test("a compiled trigger runs no codegen compile and no optimizer pass over its reply plan") {
    val spark = TestSpark.spark
    // Republish's defaults: @id from uuid(), @opprettet from
    // current_timestamp(); a second river makes the reply plan a union, which
    // is what the optimizer probe looks for
    val (regs, _) = counted(Seq(eventRiver("a"), eventRiver("a"))) {
      case 0 => r => Republish(r.passed.select(col("key"), col("value")), Nil, "svc", "inst")
      case _ => r => r.passed.select(col("key"), col("value"))
    }
    val unionPasses = new AtomicInteger()
    object ReplyPlanProbe extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.exists(_.isInstanceOf[Union])) unionPasses.incrementAndGet()
        plan
      }
    }
    final case class Trigger(compiles: Long, optimizerPasses: Int, id: String, at: String)
    val triggers = mutable.ArrayBuffer.empty[Trigger]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    // the query's session is cloned at start, with the probe in it
    spark.experimental.extraOptimizations ++= Seq(ReplyPlanProbe)
    val (input, q) = try fanoutQuery("fanout-compiled-once") { b =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val passes0 = unionPasses.get
      var reply: com.fasterxml.jackson.databind.JsonNode = null
      Fanout.routeBatchUnioned(b, regs) { out =>
        reply = pairs(out).map(p => mapper.readTree(p._2)).find(_.has("@id")).get
      }
      triggers.synchronized {
        triggers += Trigger(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
          unionPasses.get - passes0, reply.path("@id").asText(), reply.path("@opprettet").asText())
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq ReplyPlanProbe)
    }
    try {
      (1 to 4).foreach { i =>
        input.addData(Seq(s"k$i" -> """{"@event_name":"a"}"""))
        q.processAllAvailable()
      }
      assert(triggers.size == 4, s"got $triggers")
      assert(triggers.head.optimizerPasses > 0, s"the probe saw no reply plan: $triggers")
      triggers.tail.foreach { t =>
        assert(t.compiles == 0, s"a later trigger compiled generated code: $triggers")
        assert(t.optimizerPasses == 0, s"a later trigger optimized the reply plan: $triggers")
      }
      assert(triggers.map(_.id).distinct.size == 4 && triggers.forall(_.id.nonEmpty),
        s"a trigger repeated an @id: $triggers")
      assert(triggers.map(_.at).distinct.size == 4, s"a trigger repeated an @opprettet: $triggers")
    } finally q.stop()
  }

  test("a compiled trigger runs one task per input partition once they fill the cores") {
    // a fast-path river, a variant-path river (dotted key) and a catch-all
    val rivers = Seq(
      eventRiver("a"),
      eventRiver("b").validate(Validation.requireKey("@løsning.x")),
      River().validate(Validation.requireKey("@event_name")))
    def reply(i: Int)(r: Routed): DataFrame =
      r.passed.select(col("key"), concat(lit(s"r$i:"), col("value")).as("value"))
    val (regs, _) = counted(rivers)(reply)
    val msgs = Seq("k1" -> """{"@event_name":"a"}""",
      "k2" -> """{"@event_name":"b","@løsning":{"x":1}}""", "k3" -> """{"@event_name":"b"}""",
      "k4" -> "{oops", "k5" -> """{"@event_name":"c"}""", "k6" -> """{"@event_name":"a","n":2}""")
    // fewer input partitions than cores keep a task per river partition,
    // so the rivers of one partition still run side by side
    val cores = TestSpark.spark.sparkContext.defaultParallelism
    Seq(1 -> rivers.size, cores - 1 -> rivers.size, cores -> 1, cores + 2 -> 1)
      .foreach { case (partitions, perPartition) =>
        val batch = batchOf(msgs, partitions)
        val (got, tasks) = sinkTasks(Fanout.routeBatchUnioned(batch, regs))
        val want = pairs(rivers.indices.map(j => reply(j)(rivers(j).attach(batch, col("value"))))
          .reduce(_.unionAll(_)))
        assert(got == want, s"$partitions partitions: replies differ from the per-river reference")
        assert(tasks == partitions * perPartition,
          s"$partitions partitions on $cores cores: the sink's job ran $tasks tasks for " +
            s"${rivers.size} rivers")
      }
  }

  test("a flow that reads several input partitions per task keeps the union DAG") {
    // coalesce(1) is narrow but not one-to-one: its one partition reads
    // every input partition, so its branch cannot share their tasks, even
    // on an input that fills the cores
    val cores = TestSpark.spark.sparkContext.defaultParallelism
    val rivers = Seq(eventRiver("a"), eventRiver("a"),
      River().validate(Validation.requireKey("@event_name")))
    def reply(i: Int)(r: Routed): DataFrame = {
      val passed = if (i == 1) r.passed.coalesce(1) else r.passed
      passed.select(col("key"), concat(lit(s"r$i:"), col("value")).as("value"))
    }
    val (regs, builds) = counted(rivers)(reply)
    (1 to 3).foreach { t =>
      val msgs = (1 to 6).map { i =>
        s"t$t-k$i" -> s"""{"@event_name":"${if (i % 2 == 0) "a" else "b"}"}"""
      }
      val (got, tasks) = sinkTasks(Fanout.routeBatchUnioned(batchOf(msgs, cores), regs))
      val want = rivers.indices.flatMap { j =>
        msgs.collect { case (k, v) if j == 2 || v.contains("\"a\"") => k -> s"r$j:$v" }
      }.sorted
      assert(got == want, s"trigger $t: every reply must arrive exactly once")
      assert(tasks == cores + 1 + cores,
        s"trigger $t: the union DAG runs a task per branch partition, got $tasks")
    }
    assert(builds.map(_.get) == rivers.map(_ => 1), "each flow must be built once per query")
  }

  test("rivers sharing a task draw their own @ids and keep their own routing counts") {
    // two Republish rivers pass the same messages: their uuid() @ids are
    // drawn in one task per partition, with the same partition index
    val cores = TestSpark.spark.sparkContext.defaultParallelism
    val rivers = Seq(eventRiver("a"), eventRiver("a"), River().validate(Validation.requireKey("x")))
    val (regs, _) = counted(rivers) {
      case 2 => r => r.passed.select(col("key"), col("value"))
      case _ => r => Republish(r.passed.select(col("key"), col("value")), Nil, "svc", "inst")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val statuses = Seq("passed", "precondition_failed", "validation_failed", "unparseable")
    val ids = (1 to 3).map { t =>
      val msgs = (1 to 6).map(i => s"t$t-k$i" -> (i % 3 match {
        case 0 => """{"@event_name":"b","x":1}"""
        case 1 => """{"@event_name":"a"}"""
        case _ => "{oops"
      }))
      val batch = batchOf(msgs, cores)
      var got = Seq.empty[(String, String)]
      val metrics = Fanout.routeBatchObserved(batch, regs) { r => got = pairs(r) }
      rivers.zip(metrics).foreach { case (river, (name, m)) =>
        val own = river.attach(batch, col("value")).all.groupBy("status").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(m("messages") == msgs.size.toLong, s"trigger $t, $name: $m")
        statuses.foreach { s =>
          assert(m(s) == own.getOrElse(s, 0L),
            s"trigger $t, $name: $s is ${m(s)}, its attach gives $own")
        }
      }
      val republished = got.map(p => mapper.readTree(p._2)).filter(_.has("@id"))
      assert(republished.size == 2 * msgs.count(_._2.contains("\"a\"")), s"trigger $t: $got")
      republished.map(_.path("@id").asText())
    }
    val all = ids.flatten
    assert(all.forall(_.nonEmpty) && all.distinct.size == all.size,
      s"an @id repeated within or across triggers: $ids")
  }

  test("a compiled trigger reads current_date() and localtimestamp() off its own instant") {
    val spark = TestSpark.spark
    import spark.implicits._
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val (regs, _) = counted(Seq(eventRiver("a"))) { _ => r => r.passed.select(col("key"),
      concat_ws("|", date_format(current_timestamp(), fmt), date_format(localtimestamp(), fmt),
        date_format(current_date(), "yyyy-MM-dd")).as("value"))
    }
    def trigger(): (java.time.LocalDateTime, Seq[String]) = {
      var out = Seq.empty[(String, String)]
      val before = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      Fanout.routeBatchUnioned(Seq("k" -> """{"@event_name":"a"}""").toDF("key", "value"), regs) {
        r => out = pairs(r)
      }
      (before, out.head._2.split('|').toSeq)
    }
    val seen = (1 to 2).map { _ => Thread.sleep(5); trigger() }
    seen.foreach { case (before, Seq(now, local, date)) =>
      val at = java.time.LocalDateTime.parse(now.replace(' ', 'T'))
      assert(local == now && date == now.take(10), s"one trigger, one instant: $seen")
      assert(!at.isBefore(before.withNano(before.getNano / 1000 * 1000)) &&
        java.time.Duration.between(before, at).toMillis < 60000, s"not the trigger's time: $seen")
    }
    assert(seen(0)._2.head != seen(1)._2.head, s"the second trigger reused the first's time: $seen")
  }

  test("a flow with a per-batch shuffle is planned per trigger and sees only its own batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    val (regs, builds) = counted(Seq(River().validate(Validation.requireKey("@event_name")))) {
      _ => r => r.passed.groupBy("key").count()
        .select(col("key"), col("count").cast("string").as("value"))
    }
    val sends = Seq(Seq("a", "a", "b"), Seq("c"), Seq("a", "c", "c", "c"))
    val got = sends.map { keys =>
      var out = Seq.empty[(String, String)]
      var shuffles = 0
      val metrics = Fanout.routeBatchObserved(
          keys.map(_ -> """{"@event_name":"e"}""").toDF("key", "value"), regs) { replies =>
        shuffles = collect(Fanout.executedPlan(replies)) { case e: Exchange => e }.size
        out = pairs(replies)
      }
      assert(shuffles > 0, "the shuffle left the plan the trigger ran")
      assert(metrics.head._2("messages") == keys.size.toLong, s"got $metrics")
      out
    }
    assert(got == sends.map(_.groupBy(identity).map { case (k, v) => k -> v.size.toString }
      .toSeq.sorted))
    assert(builds.head.get == 1, "each flow must be built once per query")
  }

  test("a batch repartitioned upstream is routed in full: its shuffle is not hidden behind a leaf") {
    // without adaptive execution the upstream shuffle is still to run when
    // the trigger's job starts, so the scheduler must see it
    val spark = TestSpark.spark.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._
    val (regs, _) = counted(Seq(eventRiver("a"))) { _ => r => r.passed.select(col("key"), col("value")) }
    val msgs = (1 to 6).map(i => s"k$i" -> """{"@event_name":"a"}""")
    Seq(1, 3).foreach { partitions =>
      var got = Seq.empty[(String, String)]
      Fanout.routeBatchUnioned(msgs.toDF("key", "value").repartition(partitions), regs) { r =>
        got = pairs(r)
      }
      assert(got == msgs.sorted, s"$partitions partitions: got $got")
    }
  }

  test("two fanout routes sharing one registration list and one session get their own replies") {
    val spark = TestSpark.spark
    import spark.implicits._
    // streaming queries run on sessions of their own; two callers on ONE
    // session share one compiled DAG, whose leaf each binds in turn
    val (regs, _) = counted(Seq(River().validate(Validation.requireKey("@event_name")))) {
      _ => r => r.passed.select(col("key"), concat(lit("echo:"), col("value")).as("value"))
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq("x", "y").map { name =>
      val t = new Thread(() => {
        start.await()
        (1 to 4).foreach { i =>
          val sent = (1 to 3).map(j => s"$name$i-$j" -> s"""{"@event_name":"$name$i$j"}""")
          var got = Seq.empty[(String, String)]
          Fanout.routeBatchUnioned(sent.toDF("key", "value"), regs) { replies =>
            // a slow sink: the other caller's trigger arrives mid-sink
            Thread.sleep(50)
            got = pairs(replies)
          }
          val want = sent.map { case (k, v) => k -> s"echo:$v" }.sorted
          if (got != want) failures.add(s"$name trigger $i got $got, want $want")
        }
      })
      t.setUncaughtExceptionHandler((_, e) => failures.add(s"$name: $e"))
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a caller did not finish")
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
  }

  test("routeBatchObserved counts each trigger on its own, never a running total") {
    val (regs, _) = counted(Seq(eventRiver("a"))) { _ => r =>
      r.passed.select(col("key"), col("value"))
    }
    val metrics = mutable.ArrayBuffer.empty[Map[String, Any]]
    val (input, q) = fanoutQuery("fanout-observed") { b =>
      val m = Fanout.routeBatchObserved(b, regs)(_.collect())
      metrics.synchronized { metrics += m.head._2 }
    }
    try {
      val sends = Seq(Seq("a", "b", "a"), Seq("b"), Seq("a", "a", "b", "a", "b"))
      sends.zipWithIndex.foreach { case (events, i) =>
        input.addData(events.zipWithIndex.map { case (e, j) => s"k$i-$j" -> s"""{"@event_name":"$e"}""" })
        q.processAllAvailable()
      }
      assert(metrics.size == sends.size, s"got $metrics")
      metrics.zip(sends).foreach { case (m, events) =>
        assert(m("messages") == events.size.toLong && m("passed") == events.count(_ == "a").toLong &&
          m("precondition_failed") == events.count(_ == "b").toLong, s"got $metrics")
      }
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
