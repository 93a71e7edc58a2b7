package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Delivery-guarantee evidence (SURVEY §2.7): checkpointed restart does not
  * reprocess committed batches (the micro-batch at-least-once contract,
  * replacing KafkaRapid.kt:146-157's per-record commits), and the @id dedup
  * compensation works under real streaming with a watermark.
  */
class RecoverySpec extends AnyFunSuite {

  test("checkpointed file-stream restart resumes after committed batches (RapidIntegrationTest.kt:144-202 analogue)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft-recovery-data").toString
    val ckpt = Files.createTempDirectory("graft-recovery-ckpt").toString
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]

    def startQuery() = spark.readStream
      .schema("id LONG")
      .option("maxFilesPerTrigger", "10")
      .parquet(dataDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized { sink ++= b.collect().map(_.getLong(0)) }
        ()
      }.start()

    Seq(1L, 2L, 3L).toDF("id").write.mode("append").parquet(dataDir)
    val q1 = startQuery(); q1.awaitTermination(30000); q1.stop()
    assert(sink.sorted == Seq(1L, 2L, 3L))

    Seq(4L, 5L).toDF("id").write.mode("append").parquet(dataDir)
    val q2 = startQuery(); q2.awaitTermination(30000); q2.stop()
    // restart consumed ONLY the new file — committed offsets were honored
    assert(sink.sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("kill mid-stream: uncommitted batch redelivers; @id-idempotent sink restores exactly-once (RapidIntegrationTest.kt:144-276 analogue)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft-crash-data").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    val deliveries = scala.collection.mutable.ArrayBuffer.empty[String] // every delivery, dups included
    val byId = scala.collection.concurrent.TrieMap.empty[String, String] // consumer-side @id idempotency
    @volatile var crashOnce = true

    def startQuery() = spark.readStream
      .schema("id STRING, payload STRING")
      .parquet(dataDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getString(0), r.getString(1)))
        deliveries.synchronized { deliveries ++= rows.map(_._1) }
        rows.foreach { case (id, p) => byId.put(id, p) }
        // die AFTER the side effect but BEFORE the commit-log entry — the
        // hard half of the reference's at-least-once contract
        if (crashOnce) { crashOnce = false; sys.error("injected crash before offset commit") }
        ()
      }.start()

    Seq(("a", "1"), ("b", "2")).toDF("id", "payload").write.mode("append").parquet(dataDir)
    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination(30000))
    assert(deliveries.sorted == Seq("a", "b")) // side effect happened, commit did not

    Seq(("c", "3")).toDF("id", "payload").write.mode("append").parquet(dataDir)
    val q2 = startQuery(); q2.awaitTermination(30000); q2.stop()
    // the uncommitted batch was REDELIVERED (at-least-once, duplicates real)...
    assert(deliveries.sorted == Seq("a", "a", "b", "b", "c"),
      s"expected exactly the uncommitted batch redelivered, got $deliveries")
    // ...and keying the sink on @id restores exactly-once, the reference's
    // documented consumer contract
    assert(byId.toMap == Map("a" -> "1", "b" -> "2", "c" -> "3"))
  }

  /** A crashed fanout batch redelivers to EVERY river on restart, and a
    * committed one does not, when foreachBatch routes through `route`. The
    * restarted query runs on a new session, so it compiles a fresh
    * template: each flow is built once per query run.
    */
  private def fanoutCrashReplay(
      route: (org.apache.spark.sql.DataFrame, Seq[Fanout.Registration]) =>
        (org.apache.spark.sql.DataFrame => Unit) => Unit): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.messages.{River, Validation}
    val dataDir = Files.createTempDirectory("graft-fanout-rec-data").toString
    val ckpt = Files.createTempDirectory("graft-fanout-rec-ckpt").toString
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var crashOnce = true

    val regs = Seq(
      Fanout.Registration(
        River().precondition(Validation.requireValue("@event_name", "a")),
        r => { builds.incrementAndGet(); r.passed.select(col("key"), concat(lit("ra:"), col("value")).as("value")) },
        "ra"),
      Fanout.Registration(
        River().validate(Validation.requireKey("@event_name")),
        r => { builds.incrementAndGet(); r.passed.select(col("key"), concat(lit("rb:"), col("value")).as("value")) },
        "rb"))

    def startQuery() = spark.readStream
      .schema("key STRING, value STRING")
      .parquet(dataDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        route(b, regs) { replies =>
          val rows = replies.collect().map(_.getString(1))
          sunk.synchronized { sunk ++= rows; () }
        }
        // crash AFTER the side effect, BEFORE the commit — the batch must
        // redeliver to ALL rivers on restart
        if (crashOnce) { crashOnce = false; sys.error("injected crash") }
        ()
      }.start()

    Seq(("k1", """{"@event_name":"a"}""")).toDF("key", "value")
      .write.mode("append").parquet(dataDir)
    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination(30000))
    // both rivers' replies happened before the crash
    assert(sunk.sorted == Seq("ra:{\"@event_name\":\"a\"}", "rb:{\"@event_name\":\"a\"}"))

    Seq(("k2", """{"@event_name":"b"}""")).toDF("key", "value")
      .write.mode("append").parquet(dataDir)
    val q2 = startQuery(); q2.awaitTermination(30000); q2.stop()
    // the uncommitted batch replayed through BOTH rivers (at-least-once,
    // same contract as per-river mode), then the new batch flowed once
    assert(sunk.sorted == Seq(
      "ra:{\"@event_name\":\"a\"}", "ra:{\"@event_name\":\"a\"}",
      "rb:{\"@event_name\":\"a\"}", "rb:{\"@event_name\":\"a\"}",
      "rb:{\"@event_name\":\"b\"}"),
      s"got ${sunk.sorted}")
    assert(builds.get == 2 * regs.size, s"expected one build per flow per query run, got ${builds.get}")
  }

  test("fanout foreachBatch under checkpointed restart: a crashed batch redelivers to EVERY river, committed batches do not") {
    fanoutCrashReplay((b, regs) => sink => { Fanout.routeBatchObserved(b, regs)(sink); () })
  }

  test("fanout crash-replay holds on the production route (routeBatchUnioned): a restart rebuilds the template") {
    fanoutCrashReplay((b, regs) => sink => Fanout.routeBatchUnioned(b, regs)(sink))
  }

  test("@id dedup state runs on the RocksDB state store (the 100 TB state backend)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the default HDFSBackedStateStore keeps all state on the executor heap
    // — at corpus scale the dedup horizon outgrows it; RocksDB spills to
    // disk. Prove the same expression pipeline runs unchanged on RocksDB.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)](
        implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]], spark)
      val deduped = Dedupe.byId(input.toDF().toDF("id", "otime"), "id", "otime")
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName("rocks_dedup").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      try {
        input.addData(("a", ts("2024-01-01 00:00:00")), ("b", ts("2024-01-01 00:00:01")))
        q.processAllAvailable()
        input.addData(("a", ts("2024-01-01 00:00:00"))) // redelivery: must dedup against RocksDB state
        q.processAllAvailable()
        // the progress metrics prove RocksDB actually backed the state op
        assert(q.lastProgress.json.contains("rocksdb"),
          s"expected rocksdb state metrics in ${q.lastProgress.json}")
        val ids = spark.table("rocks_dedup").collect().map(_.getString(0)).sorted
        assert(ids.toSeq == Seq("a", "b"), s"got ${ids.toSeq}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("@id dedup compensates redelivery under streaming with watermark") {
    val spark = TestSpark.spark
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]], spark)
    val deduped = Dedupe.byId(input.toDF().toDF("id", "otime"), "id", "otime")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    input.addData(("a", ts("2024-01-01 00:00:00")), ("b", ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    val ids = spark.table("dedup_stream").select(col("id")).collect().map(_.getString(0)).toSeq
    q.stop()
    // "a" delivered 3 times across batches -> exactly once downstream
    assert(ids.sorted == Seq("a", "b"))
  }

  test("within-watermark dedup collapses same-id redeliveries with DIFFERENT event times") {
    val spark = TestSpark.spark
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]], spark)
    val deduped = Dedupe.byIdWithinWatermark(input.toDF().toDF("id", "otime"), "id", "otime")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_within_wm").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // a re-publish hop: same @id, a FRESH producer timestamp one second
    // later — byId's (id, ts) key would pass it as a new row; the
    // id-alone-within-horizon key must collapse it
    input.addData(("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    input.addData(("a", ts("2024-01-01 00:00:02")), ("b", ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    val ids = spark.table("dedup_within_wm").select(col("id")).collect().map(_.getString(0)).toSeq
    q.stop()
    assert(ids.sorted == Seq("a", "b"),
      s"same-id/different-ts redeliveries must dedup within the horizon, got $ids")
    // and the (id, ts) variant demonstrably does NOT catch this case —
    // the two operators are different contracts, both documented
    val input2 = MemoryStream[(String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(String, java.sql.Timestamp)]], spark)
    val loose = Dedupe.byId(input2.toDF().toDF("id", "otime"), "id", "otime")
    val q2 = loose.writeStream.outputMode("append")
      .format("memory").queryName("dedup_byid_ts").start()
    input2.addData(("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 00:00:01")))
    q2.processAllAvailable()
    val n = spark.table("dedup_byid_ts").count()
    q2.stop()
    assert(n == 2, "byId keys on (id, ts): different-ts redelivery passes (the gap byIdWithinWatermark closes)")
  }

  test("id-less messages are never falsely merged by the dedup (JsonMessage.kt:129-131 analogue)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val input = MemoryStream[(String, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(String, String, java.sql.Timestamp)]], spark)
    val deduped = Dedupe.byId(input.toDF().toDF("id", "value", "otime"), "id", "otime")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_nullid").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // two DISTINCT id-less messages (different bodies, same event time):
    // nulls compare EQUAL in dropDuplicates, so without synthetic ids one
    // would vanish. The third id-less row is a byte-identical replica of
    // the second: the DETERMINISTIC synthetic id (hash of the whole row)
    // merges indistinguishable replicas — the documented trade for never
    // dropping a row on task retry (uuid() recompute would risk that).
    input.addData((null, "m1", t), (null, "m2", t), (null, "m2", t),
      ("a", "x", t), ("a", "x", t))
    q.processAllAvailable()
    val vals = spark.table("dedup_nullid")
      .select(col("value")).collect().map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(vals == Seq("m1", "m2", "x"),
      s"expected both distinct id-less messages plus one 'a', got $vals")
  }

  test("health surface reflects river query liveness") {
    val app = RapidApplication.createInMemory(TestSpark.spark, "h-app", "i-1")
    try assert(app.isRunning && app.isReady)
    finally app.stop()
    assert(!app.isRunning)
  }
}
