package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Component test mirroring RapidApplicationComponentTest.kt:196-213 —
  * the SURVEY §7 minimum end-to-end slice: ping in, enriched pong out.
  */
class RapidApplicationSpec extends AnyFunSuite {

  test("app shell answers ping with pong; lifecycle events published") {
    val base = 1700000000000L
    val app = RapidApplication.createInMemory(
      TestSpark.spark, "my-app", "instance-1", clock = () => base + 1000)
    try {
      val ping = s"""{"@event_name":"ping","@id":"ping-id-1","ping_time":"${
        new java.sql.Timestamp(base).toInstant.toString.stripSuffix("Z")}"}"""
      app.send(ping, key = "the-key")
      val insp = app.rapid.inspector
      val msgs = (0 until insp.size).map(i => (insp.key(i), insp.message(i)))
      val pong = msgs.find(_._2.contains("\"pong\"")).map(_._2)
      assert(pong.isDefined, s"expected a pong among $msgs")
      assert(pong.get.contains("\"app_name\":\"my-app\""))
      assert(pong.get.contains("\"instance_id\":\"instance-1\""))
      assert(pong.get.contains("\"ping-id-1\"")) // @forårsaket_av tracing
      assert(msgs.exists(_._2.contains("application_up")))
    } finally app.stop()
    assert((0 until app.rapid.inspector.size)
      .exists(i => app.rapid.inspector.message(i).contains("application_stop")))
  }

  test("fanout app shell: stateless rivers share ONE scan, stateful ping/pong keeps its state across batches") {
    val base = 1700000000000L
    val app = RapidApplication.createInMemory(
      TestSpark.spark, "fanout-app", "instance-f1", clock = () => base + 10000)
    try {
      // a stateless user river rides the shared fanout scan
      app.register(graft.messages.River()
        .precondition(graft.messages.Validation.requireValue("@event_name", "order"))) { r =>
        r.passed.select(org.apache.spark.sql.functions.col("key"),
          org.apache.spark.sql.functions.lit("""{"@event_name":"order_seen"}""").as("value"))
      }
      def ping(id: String, atMs: Long) =
        s"""{"@event_name":"ping","@id":"$id","ping_time":"${
          new java.sql.Timestamp(atMs).toInstant.toString.stripSuffix("Z")}"}"""
      app.send(ping("p1", base))
      app.send("""{"@event_name":"order"}""")
      // SECOND ping 2s after the first, in a LATER micro-batch: the
      // reference's 5s rate limit must still drop it — keyed state
      // persists because ping/pong runs its own streaming query, not the
      // per-batch fanout routing
      app.send(ping("p2", base + 2000))
      val insp = app.rapid.inspector
      val msgs = (0 until insp.size).map(insp.message)
      assert(msgs.count(_.contains("\"pong\"")) == 1,
        s"rate limit must hold across batches, got $msgs")
      assert(msgs.exists(_.contains("order_seen")))
      // exactly TWO queries: the shared fanout scan + the stateful river's
      assert(app.rapid.queryIds.size == 2, s"got ${app.rapid.queryIds}")
      assert(app.isRunning && app.isReady)
    } finally app.stop()
  }

  test("configFromEnv mirrors the reference env contract (Defaults.kt:47-61)") {
    val c = RapidApplication.configFromEnv(Map(
      "KAFKA_RAPID_TOPIC" -> "rapid.v1",
      "KAFKA_EXTRA_TOPIC" -> "a,b",
      "KAFKA_RESET_POLICY" -> "earliest",
      "KAFKA_BROKERS" -> "broker:9092",
      "KAFKA_CHECKPOINT_DIR" -> "/data/ckpt"))
    assert(c.rapidTopic == "rapid.v1" && c.extraTopics == Seq("a", "b") &&
      c.resetPolicy == "earliest" && c.bootstrapServers == "broker:9092")
    assert(c.resolvedCheckpoint == "/data/ckpt")
  }

  test("kafka transport fails fast on a missing checkpoint location") {
    val c = RapidApplication.configFromEnv(Map("KAFKA_RAPID_TOPIC" -> "rapid.v1"))
    // a perishable default (/tmp) would silently lose offsets across host
    // restarts — the wiring must refuse instead
    val e = intercept[IllegalArgumentException](c.resolvedCheckpoint)
    assert(e.getMessage.contains("checkpointLocation"))
  }

  test("lifecycle events stay valid JSON for hostile app/instance names") {
    val spark = TestSpark.spark
    val raw = Lifecycle.event("application_up", """my"app\name""", "inst-\"1\"")
    import spark.implicits._
    val parsed = Seq(raw).toDF("raw")
      .select(org.apache.spark.sql.functions.try_variant_get(
        org.apache.spark.sql.functions.try_parse_json(org.apache.spark.sql.functions.col("raw")),
        "$.app_name", "string"))
      .first().getString(0)
    assert(parsed == """my"app\name""") // round-trips through a real JSON parser
  }
}
