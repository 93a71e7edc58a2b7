package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The p20 gate logic running as a real checkpointed streaming job
  * (SURVEY §7's batch/stream unification claim, beyond the as-of case):
  * kill-and-restart mid-corpus must produce the IDENTICAL manifest as an
  * uninterrupted run, and — now that the surprisal model and its band
  * edges ship as a trained artifact — the streamed keep set must EQUAL
  * the batch curatedManifest's, all four gates included.
  */
class CurationStreamSpec extends AnyFunSuite {

  private def trainLm(docs: DataFrame): graft.operators.TextOps.SurprisalModel = {
    val dir = Files.createTempDirectory("graft-curstream-lm").toString
    graft.operators.TextOps.trainAndSaveSurprisalModel(docs, dir)
  }

  /** Lands `df` in `dir` as the one parquet file `name`: written aside,
    * then moved in whole, so a file source reading `dir` with
    * maxFilesPerTrigger=1 sees it as exactly one new micro-batch.
    */
  private def landFile(df: DataFrame, dir: String, name: String): java.io.File = {
    val tmp = Files.createTempDirectory("graft-curstream-chunk").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val dest = new java.io.File(dir, name)
    Files.move(part.toPath, dest.toPath)
    dest
  }

  /** Polls `cond` for up to 120 s, failing with `what` on timeout. */
  private def await(cond: => Boolean, what: String): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(cond, s"timed out waiting for $what")
  }

  test("online serve per-trigger contract: an empty micro-batch calls nothing, an empty side channel stays silent, an absent one costs no job") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val schema = Seq((1L, Seq("x"))).toDF("query_id", "terms").schema
    // trigger 0: a zero-row file; 1: well-formed requests only; 2: one
    // well-formed and one malformed (empty term array) request
    val dataDir = Files.createTempDirectory("graft-serveonline-req").toString
    landFile(Seq.empty[(Long, Seq[String])].toDF("query_id", "terms"),
      dataDir, "req-000.parquet")
    landFile(Seq((1L, Seq("spark")), (2L, Seq("window", "hash"))).toDF("query_id", "terms"),
      dataDir, "req-001.parquet")
    landFile(Seq((3L, Seq("hash")), (4L, Seq.empty[String])).toDF("query_id", "terms"),
      dataDir, "req-002.parquet")

    // Spark jobs per streaming query: every job a micro-batch starts
    // carries its query id as a local property
    val jobs = scala.collection.concurrent.TrieMap.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => jobs.synchronized(jobs.put(id, jobs.getOrElse(id, 0) + 1)))
    }
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val answer = (b: DataFrame) => { log.add("answer"); b }
    val onBatch = (b: DataFrame) => { log.add(s"onBatch ${b.count()}"); () }
    // runs the three triggers through `sink`; returns the call log, the
    // number of Spark jobs the query ran and its summed input rows
    def run(sink: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
        : (Seq[String], Int, Long) = {
      log.clear()
      val q = sink(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dataDir))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-serveonline-ckpt").toString)
        .start()
      q.awaitTermination(120000)
      assert(q.recentProgress.length == 3 && q.recentProgress.head.numInputRows == 0,
        "three triggers, the first one empty")
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      (log.toArray.toSeq.map(_.toString), jobs.getOrElse(q.id.toString, 0),
        q.recentProgress.map(_.numInputRows).sum)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (logged, _, servedRows) = run(CurationStream.serve(_, answer)(onBatch,
        (b => { log.add("rejects rows"); TextOps.bm25ServeRejects(b) },
          r => { log.add(s"rejects ${r.collect().map(_.getLong(0)).mkString(",")}"); () }),
        (b => { log.add("silent rows"); b.filter(col("query_id") < 0L) },
          _ => { log.add("silent"); () })))
      assert(logged == Seq(
        "answer", "onBatch 2", "rejects rows", "silent rows",
        "answer", "onBatch 2", "rejects rows", "rejects 4", "silent rows"),
        logged.toString)
      // no side channel passed: exactly the jobs of a hand-written sink
      // that only skips empty batches and answers
      val (plain, plainJobs, plainRows) = run(CurationStream.serve(_, answer)(onBatch))
      assert(plain == Seq("answer", "onBatch 2", "answer", "onBatch 2"), plain.toString)
      val (_, bareJobs, _) = run(_.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) onBatch(answer(b))
        ()
      })
      assert(plainJobs > 0 && plainJobs == bareJobs, s"$plainJobs vs $bareJobs jobs")
      // each trigger reads its request files once: 4 requests landed
      assert(servedRows == 4L && plainRows == 4L,
        s"numInputRows summed to $servedRows and $plainRows, not 4")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming BM25 serving equals the batch serve; a Bm25Query request reproduces t32") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-bm25serve-idx").toString
    TextOps.trainAndSaveBm25Index(docs, idxDir)
    val idx = TextOps.loadBm25Index(spark, idxDir)
    val queries = Seq(
      (1L, TextOps.Bm25Query),               // t32's own fixed query
      (2L, Seq("spark")),
      (3L, Seq("window", "hash")),
      (4L, Seq("zzznosuchterm")),            // unknown term -> no rows
      (5L, Seq("spark", "spark", "window")), // duplicate terms collapse
      (6L, Seq("hash"))
    ).toDF("query_id", "terms")
    val expected = TextOps.bm25ServeBatch(queries, idx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // the one-row Bm25Query request must reproduce t32 verbatim
    val t32 = TextOps.bm25FromIndex(idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(expected.filter(_._1 == 1L).map(x => (x._2, x._3, x._4)).toSeq == t32,
      "a Bm25Query request must serve t32's exact rows")
    assert(!expected.exists(_._1 == 4L), "unknown-term query emits nothing")

    val dataDir = Files.createTempDirectory("graft-bm25serve-req").toString
    landFile(queries.filter(col("query_id") < 4L), dataDir, "req-000.parquet")
    landFile(queries.filter(col("query_id") >= 4L), dataDir, "req-001.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, TextOps.bm25ServeBatch(_, idx)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bm25serve-ckpt").toString)
      .start()
    q.awaitTermination(120000)
    val streamed = got.toSeq
      .map { case ((qid, rnk), (d, s)) => (qid, rnk, d, s) }.sorted
    assert(streamed == expected.toSeq.sorted,
      s"streamed BM25 serve diverged:\n$streamed\nvs\n${expected.toSeq.sorted}")
    assert(streamed.map(_._1).distinct.length == 5)
  }

  test("streaming BUDGETED BM25 serving equals the batch budgeted serve, however the stream is chopped") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-bm25budget-idx").toString
    TextOps.trainAndSaveBm25Index(docs, idxDir)
    val idx = TextOps.loadBm25Index(spark, idxDir)
    val queries = Seq(
      (1L, TextOps.Bm25Query),          // all near-stopwords: rarest survives
      (2L, Seq("dup", "the", "batch")), // rare + two hot
      (3L, Seq("zzznosuchterm", "dup")),
      (4L, Seq("join", "merge", "scan", "row"))
    ).toDF("query_id", "terms")
    val expected = TextOps.bm25ServeBatchBudgeted(queries, idx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(expected.nonEmpty, "the budgeted fixture batch must serve rows")

    val dataDir = Files.createTempDirectory("graft-bm25budget-req").toString
    // chop so a rare+hot request and an all-hot request land in
    // DIFFERENT micro-batches: the budget walk is per-request, so the
    // split must not change any keep decision
    landFile(queries.filter(col("query_id") <= 2L), dataDir, "req-000.parquet")
    landFile(queries.filter(col("query_id") > 2L), dataDir, "req-001.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, TextOps.bm25ServeBatchBudgeted(_, idx)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bm25budget-ckpt").toString)
      .start()
    q.awaitTermination(120000)
    val streamed = got.toSeq
      .map { case ((qid, rnk), (d, s)) => (qid, rnk, d, s) }.sorted
    assert(streamed == expected.toSeq.sorted,
      s"streamed budgeted serve diverged:\n$streamed\nvs\n${expected.toSeq.sorted}")
  }

  test("tombstoned phrase serving: a doc erased between requests stops matching the phrase, no restart, no rebuild") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-postomb-idx").toString
    val idx = TextOps.trainAndSavePositionalIndex(docs, idxDir)
    // the victim: a doc the house phrase matches
    val victim = TextOps.phraseFromIndex(idx).collect().head.getLong(0)
    val tombDir = Files.createTempDirectory("graft-postomb-list").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)

    val dataDir = Files.createTempDirectory("graft-postomb-req").toString
    landFile(Seq((1L, TextOps.PhraseQuery)).toDF("query_id", "phrase"),
      dataDir, "req-000.parquet")

    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val schema = Seq((1L, Seq("x"))).toDF("query_id", "phrase").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromPositionalIndex)(TextOps.phraseServeBatch)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-postomb-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 1L), "query 1 results")
    // erase the victim BETWEEN the two requests
    Seq(victim).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((2L, TextOps.PhraseQuery)).toDF("query_id", "phrase"),
      dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 2L), "query 2 results")
    q.stop()
    q.awaitTermination(30000)

    val served1 = got.toSeq.collect { case ((1L, d), n) => d -> n }.toMap
    val served2 = got.toSeq.collect { case ((2L, d), n) => d -> n }.toMap
    assert(served1.contains(victim), "pre-erasure serve must include the victim")
    assert(!served2.contains(victim), "post-erasure serve must not")
    // the pre-erasure batch equals t49, the post-erasure batch t51
    val t49 = TextOps.phraseFromIndex(idx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t51 = TextOps.phraseFromIndex(TextOps.deleteListFromPositionalIndex(
        idx, Seq(victim).toDF("doc_id"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served1 == t49, s"$served1\nvs\n$t49")
    assert(served2 == t51, s"$served2\nvs\n$t51")
  }

  test("proximity serving stream: mixed-slop request batch equals the per-query banded form; tombstones land between requests") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-proxserve-idx").toString
    val idx = TextOps.trainAndSavePositionalIndex(docs, idxDir)
    val victim = TextOps.proximityFromIndex(idx, "window", "join", 5)
      .collect().head.getLong(0)
    val tombDir = Files.createTempDirectory("graft-proxserve-tomb").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)

    val reqs = Seq((1L, "window", "join", 5), (2L, "join", "window", 2))
    val expected = reqs.flatMap { case (qid, a, b, slop) =>
      TextOps.proximityFromIndex(idx, a, b, slop).collect()
        .map(r => ((qid, r.getLong(0)), r.getLong(1)))
    }.toMap
    val dataDir = Files.createTempDirectory("graft-proxserve-req").toString
    landFile(reqs.toDF("query_id", "a", "b", "slop"), dataDir, "req-000.parquet")
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val stream = spark.readStream
      .schema(reqs.toDF("query_id", "a", "b", "slop").schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromPositionalIndex)(TextOps.proximityServeBatch)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-proxserve-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 2L), "first request batch")
    // with an empty tombstone list, both queries equal the plain form
    assert(got.toMap == expected, s"${got.toMap}\nvs\n$expected")
    // erase the victim BETWEEN requests; the re-issued query misses it
    Seq(victim).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((3L, "window", "join", 5)).toDF("query_id", "a", "b", "slop"),
      dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 3L), "post-erasure request")
    q.stop()
    q.awaitTermination(30000)
    val served3 = got.toSeq.collect { case ((3L, d), n) => d -> n }.toMap
    assert(!served3.contains(victim), "post-erasure serve must not include the victim")
    val t51like = TextOps.proximityFromIndex(
        TextOps.deleteListFromPositionalIndex(idx, Seq(victim).toDF("doc_id")),
        "window", "join", 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served3 == t51like, s"$served3\nvs\n$t51like")
  }

  test("span-near serving stream: mixed-k/gap batch equals the per-query chain; rejects surface; tombstones land between requests") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-snserve-idx").toString
    val idx = TextOps.trainAndSavePositionalIndex(docs, idxDir)
    val victim = TextOps.spanNearFromIndex(idx).collect().head.getLong(0)
    val tombDir = Files.createTempDirectory("graft-snserve-tomb").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)

    // mixed chain lengths and gaps, plus one malformed request (sub-2
    // chain): served answers must equal the per-query form, and the
    // malformed query_id must surface on the rejects channel — not vanish
    val reqs = Seq(
      (1L, Seq("window", "join", "hash"), 8),
      (2L, Seq("window", "join"), 5),
      (9L, Seq("window"), 8))
    val expected = reqs.filter(_._2.length >= 2).flatMap {
      case (qid, terms, gap) =>
        TextOps.spanNearFromIndex(idx, terms, gap).collect()
          .map(r => ((qid, r.getLong(0)), r.getLong(1)))
    }.toMap
    val dataDir = Files.createTempDirectory("graft-snserve-req").toString
    landFile(reqs.toDF("query_id", "terms", "gap"), dataDir, "req-000.parquet")
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val rejected = scala.collection.concurrent.TrieMap.empty[Long, Unit]
    val stream = spark.readStream
      .schema(reqs.toDF("query_id", "terms", "gap").schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromPositionalIndex)(TextOps.spanNearServeBatch))(
      b => b.collect().foreach(r =>
        got.put((r.getLong(0), r.getLong(1)), r.getLong(2))),
      (TextOps.spanNearServeRejects,
        rej => rej.collect().foreach(r => rejected.put(r.getLong(0), ()))))
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-snserve-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 2L) && rejected.contains(9L),
      "first request batch + its reject")
    assert(got.toMap == expected, s"${got.toMap}\nvs\n$expected")
    assert(rejected.keySet == Set(9L), rejected.keySet.toString)
    // erase the victim BETWEEN requests; the re-issued query misses it
    Seq(victim).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((3L, TextOps.SpanNearTerms, TextOps.SpanNearGap))
      .toDF("query_id", "terms", "gap"), dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 3L), "post-erasure request")
    q.stop()
    q.awaitTermination(30000)
    val served3 = got.toSeq.collect { case ((3L, d), n) => d -> n }.toMap
    assert(!served3.contains(victim), "post-erasure serve must not include the victim")
    val survivors = TextOps.spanNearFromIndex(
        TextOps.deleteListFromPositionalIndex(idx, Seq(victim).toDF("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served3 == survivors, s"$served3\nvs\n$survivors")
  }

  test("co-occurrence serving stream: mixed-window batch equals the per-query coverage form; rejects surface; tombstones land between requests") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-coocserve-idx").toString
    val idx = TextOps.trainAndSavePositionalIndex(docs, idxDir)
    val victim = TextOps.coocFromIndex(idx).collect().head.getLong(0)
    val tombDir = Files.createTempDirectory("graft-coocserve-tomb").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)

    val reqs = Seq(
      (1L, TextOps.CoocTerms, TextOps.CoocWindow),
      (2L, Seq("window", "join"), 4),
      (9L, Seq("window", "window"), 4)) // 1 distinct term: malformed
    val expected = reqs.filter(_._2.distinct.length >= 2).flatMap {
      case (qid, terms, win) =>
        TextOps.coocFromIndex(idx, terms, win).collect()
          .map(r => ((qid, r.getLong(0)), r.getLong(1)))
    }.toMap
    val dataDir = Files.createTempDirectory("graft-coocserve-req").toString
    landFile(reqs.toDF("query_id", "terms", "win"), dataDir, "req-000.parquet")
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val rejected = scala.collection.concurrent.TrieMap.empty[Long, Unit]
    val stream = spark.readStream
      .schema(reqs.toDF("query_id", "terms", "win").schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromPositionalIndex)(TextOps.coocServeBatch))(
      b => b.collect().foreach(r =>
        got.put((r.getLong(0), r.getLong(1)), r.getLong(2))),
      (TextOps.coocServeRejects,
        rej => rej.collect().foreach(r => rejected.put(r.getLong(0), ()))))
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-coocserve-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 2L) && rejected.contains(9L),
      "first request batch + its reject")
    assert(got.toMap == expected, s"${got.toMap}\nvs\n$expected")
    assert(rejected.keySet == Set(9L), rejected.keySet.toString)
    Seq(victim).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((3L, TextOps.CoocTerms, TextOps.CoocWindow))
      .toDF("query_id", "terms", "win"), dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 3L), "post-erasure request")
    q.stop()
    q.awaitTermination(30000)
    val served3 = got.toSeq.collect { case ((3L, d), n) => d -> n }.toMap
    assert(!served3.contains(victim), "post-erasure serve must not include the victim")
    val survivors = TextOps.coocFromIndex(
        TextOps.deleteListFromPositionalIndex(idx, Seq(victim).toDF("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served3 == survivors, s"$served3\nvs\n$survivors")
  }

  test("tombstoned serving: a doc erased between requests vanishes from the next batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxDir = Files.createTempDirectory("graft-bm25tomb-idx").toString
    TextOps.trainAndSaveBm25Index(docs, idxDir)
    val idx = TextOps.loadBm25Index(spark, idxDir)
    // the victim: the corpus's rank-1 doc for the house query
    val victim = TextOps.bm25FromIndex(idx).collect().head.getLong(1)
    val tombDir = Files.createTempDirectory("graft-bm25tomb-list").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)

    val dataDir = Files.createTempDirectory("graft-bm25tomb-req").toString
    landFile(Seq((1L, TextOps.Bm25Query)).toDF("query_id", "terms"),
      dataDir, "req-000.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val schema = Seq((1L, Seq("x"))).toDF("query_id", "terms").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromBm25Index)(TextOps.bm25ServeBatch(_, _))) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bm25tomb-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 1L), "query 1 results")
    // erase the victim BETWEEN the two requests — no restart, no rebuild
    Seq(victim).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((2L, TextOps.Bm25Query)).toDF("query_id", "terms"),
      dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 2L), "query 2 results")
    q.stop()
    q.awaitTermination(30000)

    val served1 = got.toSeq.collect { case ((1L, _), (d, _)) => d }
    val served2 = got.toSeq.collect { case ((2L, rnk), (d, s)) => (rnk, d, s) }.sorted
    assert(served1.contains(victim), "pre-erasure serve must include the victim")
    assert(!served2.exists(_._2 == victim), "post-erasure serve must not")
    // and the post-erasure batch equals t35's batch semantics exactly
    val expected = TextOps.bm25FromIndex(
      TextOps.deleteListFromBm25Index(idx, Seq(victim).toDF("doc_id")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(served2 == expected, s"$served2\nvs\n$expected")
  }

  test("tombstoned ANN serving: a vector erased between requests vanishes from the next batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Forget, Similarity}
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sub = 64 / Similarity.PqBlocks
    val idxDir = Files.createTempDirectory("graft-anntomb-idx").toString
    Similarity.trainAndSaveIvfPq(corpus, sub, idxDir)
    val idx = Similarity.loadIvfPq(spark, idxDir)
    val qvec = corpus.filter(col("vec_id") === 0L)
      .select(lit(20001L).as("vec_id"), col("embedding"), col("label"))
    // the victim: this query's best match
    val victim = Similarity.ivfPqServe(qvec, corpus, idx, sub, 5)
      .collect().head.getLong(2)
    val tombDir = Files.createTempDirectory("graft-anntomb-list").toString
    Seq.empty[Long].toDF("vec_id").write.mode("overwrite").parquet(tombDir)

    val dataDir = Files.createTempDirectory("graft-anntomb-req").toString
    def req(qid: Long) = corpus.filter(col("vec_id") === 0L)
      .select(lit(qid).as("vec_id"), col("embedding"), col("label"))
    landFile(req(20001L), dataDir, "req-000.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(qvec.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        Forget.pruneAnnIndexList)(Similarity.ivfPqServe(_, corpus, _, sub, 5))) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-anntomb-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 20001L), "query 1 results")
    Seq(victim).toDF("vec_id").write.mode("append").parquet(tombDir)
    landFile(req(20002L), dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 20002L), "query 2 results")
    q.stop()
    q.awaitTermination(30000)

    val served1 = got.toSeq.collect { case ((20001L, _), (v, _)) => v }
    val served2 = got.toSeq.collect { case ((20002L, rnk), (v, s)) => (rnk, v, s) }.sorted
    assert(served1.contains(victim), "pre-erasure serve must include the victim")
    assert(!served2.exists(_._2 == victim), "post-erasure serve must not")
    val expected = Similarity.ivfPqServe(
        corpus.filter(col("vec_id") === 0L)
          .select(lit(20002L).as("vec_id"), col("embedding"), col("label")),
        corpus, Forget.pruneAnnIndexList(idx, Seq(victim).toDF("vec_id")),
        sub, 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(served2 == expected, s"$served2\nvs\n$expected")
  }

  test("streaming ANN serving equals the batch serve, however the request stream is chopped") {
    val spark = TestSpark.spark
    import graft.operators.Similarity
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sub = 64 / Similarity.PqBlocks
    val idxDir = Files.createTempDirectory("graft-annserve-idx").toString
    Similarity.trainAndSaveIvfPq(corpus, sub, idxDir)
    val idx = Similarity.loadIvfPq(spark, idxDir)
    // external queries: six corpus vectors re-identified into their own
    // id space (a request stream, not a self-join)
    val queries = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"),
        col("label"))
    val expected = Similarity.ivfPqServe(queries, corpus, idx, sub, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    val dataDir = Files.createTempDirectory("graft-annserve-req").toString
    landFile(queries.filter(col("vec_id") < 10003L), dataDir, "req-000.parquet")
    landFile(queries.filter(col("vec_id") >= 10003L), dataDir, "req-001.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream,
        Similarity.ivfPqServe(_, corpus, idx, sub, 5)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-annserve-ckpt").toString)
      .start()
    q.awaitTermination(120000)
    val streamed = got.toSeq
      .map { case ((qid, rnk), (v, s)) => (qid, rnk, v, s) }.sorted
    assert(streamed == expected.toSeq.sorted,
      s"streamed serve diverged:\n$streamed\nvs\n${expected.toSeq.sorted}")
    assert(streamed.map(_._1).distinct.length == 6)
  }

  test("budgeted streaming ANN serving equals the budgeted batch serve across micro-batch chops") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sub = 64 / Similarity.PqBlocks
    val idxDir = Files.createTempDirectory("graft-annbudget-idx").toString
    Similarity.trainAndSaveIvfPq(corpus, sub, idxDir)
    val idx = Similarity.loadIvfPq(spark, idxDir)
    val queries = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"),
        col("label"))
    // the pin must not be vacuous: this fixture's occupancy skew makes
    // the budget actually DROP a probe for at least one request
    assert(Similarity.annProbeCosts(queries, idx, sub)
      .filter(!col("kept")).count() > 0,
      "fixture must exercise the budget (a dropped probe)")
    val expected = Similarity.ivfPqServeBudgeted(queries, corpus, idx, sub, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    val dataDir = Files.createTempDirectory("graft-annbudget-req").toString
    landFile(queries.filter(col("vec_id") < 10002L), dataDir, "req-000.parquet")
    landFile(queries.filter(col("vec_id") >= 10002L && col("vec_id") < 10004L),
      dataDir, "req-001.parquet")
    landFile(queries.filter(col("vec_id") >= 10004L), dataDir, "req-002.parquet")

    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream,
        Similarity.ivfPqServeBudgeted(_, corpus, idx, sub, 5)) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-annbudget-ckpt").toString)
      .start()
    q.awaitTermination(120000)
    val streamed = got.toSeq
      .map { case ((qid, rnk), (v, s)) => (qid, rnk, v, s) }.sorted
    assert(streamed == expected.toSeq.sorted,
      s"budgeted streamed serve diverged:\n$streamed\nvs\n${expected.toSeq.sorted}")
    assert(streamed.map(_._1).distinct.length == 6)
  }

  test("budgeted tombstoned serving: prices follow the pruned index — an erasure flips a keep/drop verdict") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    // n = 6, budget 6; dfs: rare 1, hot 5, stop 6. Request (rare, hot):
    // 1 + 5 = 6 <= 6 -> BOTH kept. Erasing doc 6 (which holds NEITHER
    // term) shrinks the corpus to n = 5, budget 5 — hot's cum 6 > 5, so
    // the same request now drops "hot": relative price rose (df/n
    // 5/6 -> 5/5) with no change to the term itself. The server must
    // re-price per batch against the pruned index.
    val docs = Seq(
      (1L, "stop hot mid rare"),
      (2L, "stop hot mid extra"),
      (3L, "stop hot mid extra"),
      (4L, "stop hot extra pad"),
      (5L, "stop hot extra pad"),
      (6L, "stop filler pad pad")).toDF("doc_id", "text")
    val idx = TextOps.buildBm25Index(docs)
    val req = Seq("rare", "hot")
    val tombDir = Files.createTempDirectory("graft-bmbudtomb-list").toString
    Seq.empty[Long].toDF("doc_id").write.mode("overwrite").parquet(tombDir)
    val dataDir = Files.createTempDirectory("graft-bmbudtomb-req").toString
    landFile(Seq((1L, req)).toDF("query_id", "terms"), dataDir, "req-000.parquet")
    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val schema = Seq((1L, Seq("x"))).toDF("query_id", "terms").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        TextOps.deleteListFromBm25Index)(TextOps.bm25ServeBatchBudgeted(_, _))) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-bmbudtomb-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 1L), "query 1 results")
    Seq(6L).toDF("doc_id").write.mode("append").parquet(tombDir)
    landFile(Seq((2L, req)).toDF("query_id", "terms"), dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 2L), "query 2 results")
    q.stop()
    q.awaitTermination(30000)

    def rows(qid: Long) = got.toSeq
      .collect { case ((`qid`, rnk), (d, s)) => (rnk, d, s) }.sorted
    // pre-erasure: both terms kept -> equals the plain batch serve
    val want1 = TextOps.bm25ServeBatch(
        Seq((1L, req)).toDF("query_id", "terms"), idx)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rows(1L) == want1.toSeq, "pre-erasure must equal the plain serve (nothing drops)")
    // post-erasure: the SAME request now drops "hot" -> equals the
    // rare-only serve over the pruned index
    val pruned = TextOps.deleteListFromBm25Index(idx, Seq(6L).toDF("doc_id"))
    val want2 = TextOps.bm25ServeBatch(
        Seq((2L, Seq("rare"))).toDF("query_id", "terms"), pruned)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rows(2L) == want2.toSeq,
      "post-erasure must re-price and drop the now-over-budget hot term")
    assert(rows(1L) != rows(2L), "the verdict flip must be visible in the output")
  }

  test("guarded span-near serving refuses a hot-term request and tells the operator its cost") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextOps
    // "the" appears in all 12 docs (df 12, 12*5 > 12 -> stop candidate),
    // twice in doc 1 (occ 13 > df — the refusal reports VOLUME, not just
    // df); every content word has df <= 2 (2*5 <= 12 -> not a candidate)
    val docs = Seq(
      (1L, "the window opens the frame"),
      (2L, "the window join runs fast"),
      (3L, "the hash join probes well"),
      (4L, "the scan reads rows quickly"),
      (5L, "the merge sorts data"),
      (6L, "the filter prunes early"),
      (7L, "the exchange moves data"),
      (8L, "the codegen emits bytecode"),
      (9L, "the planner picks strategies"),
      (10L, "the catalog stores schemas"),
      (11L, "the broadcast ships tables"),
      (12L, "the shuffle writes blocks")).toDF("doc_id", "text")
    val idx = TextOps.buildPositionalIndex(docs)
    val stop = TextOps.servingStopCandidates(idx, docs)
    assert(stop.collect().map(_.getString(0)).toSeq == Seq("the"),
      "fixture: exactly one stop candidate")
    val reqs = Seq(
      (1L, Seq("window", "join"), 3),  // clean: must serve
      (2L, Seq("the", "join"), 4),     // hot leg: must be refused whole
      (3L, Seq("join"), 2)             // sub-2 chain: malformed reject
    ).toDF("query_id", "terms", "gap")
    // the explicit per-family decision, pinned: the positional budget is
    // a GATE (refuse + explain), never a term strip — so the expected
    // serve is the UNGUARDED batch server over only the clean request
    val expected = TextOps.spanNearServeBatch(
      reqs.filter(col("query_id") === 1L), idx).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty, "the clean request must actually match")
    // what the refusal channel must carry: the hot term and the posting
    // rows ONE leg of it drags through each chain join step
    val theOcc = idx.postings.filter(col("t") === "the").count()
    assert(theOcc == 13L)

    val guard = CurationStream.HotTermGuard(stop)
    val dataDir = Files.createTempDirectory("graft-snguard-req").toString
    landFile(reqs, dataDir, "req-000.parquet")

    val served = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val refused = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val stream = spark.readStream.schema(reqs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, guard(TextOps.spanNearServeBatch(_, idx)))(
      b => served ++= b.collect().map(_.toSeq),
      (TextOps.spanNearServeRejects, r => rejected ++= r.collect().map(_.getLong(0))),
      guard.refused(l => refused ++= l.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-snguard-ckpt").toString)
      .start()
    q.awaitTermination(60000)

    assert(served.toSeq == expected,
      s"clean request must serve byte-identically:\n$served\nvs\n$expected")
    assert(rejected.toSeq == Seq(3L), "malformed channel judges shape only")
    assert(refused.toSeq == Seq((2L, "the", theOcc)),
      "the operator is told the hot term AND its posting volume")

    // the unordered family carries the same contract (the same guard
    // around coocServeBatch): clean serves, hot refuses with the
    // identical (query_id, t, occ) explanation, sub-2-distinct stays
    // malformed
    val creqs = Seq(
      (1L, Seq("window", "join"), 6),
      (2L, Seq("the", "join"), 5),
      (3L, Seq("join"), 2)).toDF("query_id", "terms", "win")
    val cexpected = TextOps.coocServeBatch(
      creqs.filter(col("query_id") === 1L), idx).collect().map(_.toSeq).toSeq
    assert(cexpected.nonEmpty)
    val cDir = Files.createTempDirectory("graft-coocguard-req").toString
    landFile(creqs, cDir, "req-000.parquet")
    val cServed = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val cRejected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cRefused = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val cStream = spark.readStream.schema(creqs.schema)
      .option("maxFilesPerTrigger", "1").parquet(cDir)
    val cq = CurationStream.serve(cStream, guard(TextOps.coocServeBatch(_, idx)))(
      b => cServed ++= b.collect().map(_.toSeq),
      (TextOps.coocServeRejects, r => cRejected ++= r.collect().map(_.getLong(0))),
      guard.refused(l => cRefused ++= l.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-coocguard-ckpt").toString)
      .start()
    cq.awaitTermination(60000)
    assert(cServed.toSeq == cexpected)
    assert(cRejected.toSeq == Seq(3L))
    assert(cRefused.toSeq == Seq((2L, "the", theOcc)))
  }

  test("budgeted tombstoned ANN serving equals the budgeted batch serve over the pruned index") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Similarity, Forget}
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sub = 64 / Similarity.PqBlocks
    val idxDir = Files.createTempDirectory("graft-annbudtomb-idx").toString
    Similarity.trainAndSaveIvfPq(corpus, sub, idxDir)
    val idx = Similarity.loadIvfPq(spark, idxDir)
    val mkQ = (qid: Long) => corpus.filter(col("vec_id") === 0L)
      .select(lit(qid).as("vec_id"), col("embedding"), col("label"))
    // erase 30 vectors between the two requests: occupancies shrink, the
    // walk re-prices, and serving must equal the budgeted batch server
    // over the pruned index (whatever the new verdicts are)
    val victims = (100L to 129L)
    val tombDir = Files.createTempDirectory("graft-annbudtomb-list").toString
    Seq.empty[Long].toDF("vec_id").write.mode("overwrite").parquet(tombDir)
    val dataDir = Files.createTempDirectory("graft-annbudtomb-req").toString
    landFile(mkQ(20001L), dataDir, "req-000.parquet")
    val got = scala.collection.concurrent.TrieMap
      .empty[(Long, Int), (Long, Double)]
    val stream = spark.readStream.schema(mkQ(0L).schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.serve(stream, CurationStream.tombstoned(idx, tombDir,
        Forget.pruneAnnIndexList)(Similarity.ivfPqServeBudgeted(_, corpus, _, sub, 5))) { b =>
      b.collect().foreach(r =>
        got.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-annbudtomb-ckpt").toString)
      .start()
    await(got.keys.exists(_._1 == 20001L), "query 1 results")
    victims.toDF("vec_id").write.mode("append").parquet(tombDir)
    landFile(mkQ(20002L), dataDir, "req-001.parquet")
    await(got.keys.exists(_._1 == 20002L), "query 2 results")
    q.stop()
    q.awaitTermination(30000)
    def rows(qid: Long) = got.toSeq
      .collect { case ((`qid`, rnk), (d, s)) => (rnk, d, s) }.sorted
    val want1 = Similarity.ivfPqServeBudgeted(mkQ(20001L), corpus, idx, sub, 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rows(20001L) == want1.toSeq)
    val pruned = Forget.pruneAnnIndexList(idx, victims.toDF("vec_id"))
    val want2 = Similarity.ivfPqServeBudgeted(mkQ(20002L), corpus, pruned, sub, 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rows(20002L) == want2.toSeq)
    assert(!rows(20002L).exists(r => victims.contains(r._2)),
      "an erased vector must never surface post-erasure")
  }

  test("streamed gates equal the batch manifest; crash mid-corpus redelivers without changing a verdict") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val hot = CurationStream.trainHotShingles(docs)
    val lm = trainLm(docs)

    // batch expectation: p20 emits (doc_id, quality_score, bits_per_token,
    // boilerplate_frac, canonical, quality_ok, ppl_ok, boiler_ok, keep)
    val batch = graft.operators.Curation.curatedManifest(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7), r.getBoolean(4)))).toMap
    val batchKeep = graft.operators.Curation.curatedManifest(docs).collect()
      .filter(_.getBoolean(8)).map(_.getLong(0)).toSet

    // corpus lands as 3 doc_id-ordered files (ordered ingest: the
    // precondition under which first-seen == batch min-doc_id canonical)
    val dataDir = Files.createTempDirectory("graft-curstream-data").toString
    val ckpt = Files.createTempDirectory("graft-curstream-ckpt").toString
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val base = System.currentTimeMillis() - 3600000L
    def writeChunk(df: DataFrame, i: Int): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
    }
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    writeChunk(docs.filter(col("doc_id") < c1), 0)
    writeChunk(docs.filter(col("doc_id") >= c1 && col("doc_id") < c2), 1)
    writeChunk(docs.filter(col("doc_id") >= c2), 2)

    val byId = scala.collection.concurrent.TrieMap
      .empty[Long, (Double, Double, Double, Boolean, Boolean, Boolean, Boolean, Boolean)]
    val deliveries = new java.util.concurrent.atomic.AtomicLong
    @volatile var crashOnce = true

    def startQuery() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.manifest(stream, hot, lm).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          deliveries.addAndGet(rows.length.toLong)
          rows.foreach(r => byId.put(r.getLong(0),
            (r.getDouble(1), r.getDouble(2), r.getDouble(3),
              r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
              r.getBoolean(7), r.getBoolean(8))))
          // die AFTER the side effect, BEFORE the offset/state commit —
          // the replayed batch must recompute identical verdicts (state
          // rolls back with the batch)
          if (crashOnce) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }

    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = startQuery()
    assert(q2.awaitTermination(120000), "restarted query did not finish in time")
    q2.stop()

    // at-least-once was real: the crashed batch delivered twice...
    assert(deliveries.get() > ids.length.toLong,
      s"expected a redelivered batch: ${deliveries.get()} deliveries for ${ids.length} docs")
    // ...and idempotent-by-doc_id absorption leaves exactly the corpus
    assert(byId.size == ids.length, s"got ${byId.size} of ${ids.length} docs")

    // every score and per-gate verdict equals the batch manifest's —
    // including the band gate, scored from the saved model
    byId.foreach { case (id, (q, bt, bf, qOk, pOk, bOk, canon, keep)) =>
      val (bq, bbt, bbf, bqOk, bpOk, bbOk, bcanon) = batch(id)
      assert(q == bq && bt == bbt && bf == bbf,
        s"doc $id scores: stream ($q, $bt, $bf) vs batch ($bq, $bbt, $bbf)")
      assert(qOk == bqOk && pOk == bpOk && bOk == bbOk && canon == bcanon,
        s"doc $id verdicts: stream ($qOk, $pOk, $bOk, $canon) " +
          s"vs batch ($bqOk, $bpOk, $bbOk, $bcanon)")
      assert(keep == (qOk && pOk && bOk && canon),
        s"doc $id keep must compose its gates")
    }
    // full parity: with the band scored from the frozen model, the
    // streamed keep set IS the batch p20 keep set — no exclusions left
    val streamKeep = byId.collect { case (id, t) if t._8 => id }.toSet
    assert(streamKeep == batchKeep,
      s"stream keep must equal batch keep; stream-only=${(streamKeep -- batchKeep).take(5)} " +
        s"batch-only=${(batchKeep -- streamKeep).take(5)}")
    // the band gate actually participates (guards against a vacuous pin)
    assert(byId.exists { case (_, t) => !t._5 },
      "some document must fail the band gate, or the parity pin is vacuous")
  }

  test("adversarial 1-row micro-batches: verdicts identical, per-batch overhead sane") {
    // the operational edge a redeploy hits first: a trickling source
    // hands the gated path ONE document per micro-batch, so the two
    // single-row artifact joins and the state round-trip re-run per doc.
    // Results must not depend on batch size, and the fixed per-batch
    // cost must stay bounded (it is artifact-sized, not corpus-sized).
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 40)
    val hot = CurationStream.trainHotShingles(docs)
    val lm = trainLm(docs)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted

    def run(chunks: Seq[Seq[Long]]): (Map[Long, (Boolean, Boolean, Boolean, Boolean)], Long) = {
      val dataDir = Files.createTempDirectory("graft-tinybatch-data").toString
      val base = System.currentTimeMillis() - 3600000L
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val dest = landFile(docs.filter(col("doc_id").isin(chunk: _*)),
          dataDir, f"chunk-$i%04d.parquet")
        assert(dest.setLastModified(base + i * 1000L))
      }
      val got = scala.collection.concurrent.TrieMap
        .empty[Long, (Boolean, Boolean, Boolean, Boolean)]
      val nBatches = new java.util.concurrent.atomic.AtomicLong
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      val q = CurationStream.manifest(stream, hot, lm).writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          nBatches.incrementAndGet()
          b.collect().foreach(r => got.put(r.getLong(0),
            (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(8))))
          ()
        }.start()
      val t0 = System.nanoTime()
      assert(q.awaitTermination(300000), "tiny-batch stream did not finish")
      q.stop()
      assert(nBatches.get() >= chunks.length.toLong, s"expected >=${chunks.length} batches")
      (got.toMap, (System.nanoTime() - t0) / 1000000L)
    }

    // known-good shape (one batch) vs the adversarial shape (one DOC per batch)
    val (wide, _) = run(Seq(ids.toSeq))
    val (tiny, tinyMs) = run(ids.map(Seq(_)).toSeq)
    assert(tiny == wide,
      s"1-row micro-batches changed verdicts: tiny-only=${tiny.toSet -- wide.toSet} " +
        s"wide-only=${wide.toSet -- tiny.toSet}")
    // overhead guard: the per-batch fixed cost (two single-row artifact
    // joins + state commit) must stay well under a second on this box —
    // 3 s/batch would mean something corpus-sized snuck onto the path
    assert(tinyMs < ids.length * 3000L,
      s"per-batch overhead blew up: ${tinyMs}ms for ${ids.length} one-doc batches")
  }

  test("hot-shingle artifact is bounded by construction; the cap changes nothing on the fixtures") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

    // the fixtures' hot head is far below the default cap, so the capped
    // artifact IS the uncapped set — verdict stability for free
    val uncapped = CurationStream.trainHotShingles(docs, Int.MaxValue)
      .collect().map(_.getString(0)).toSet
    val capped = CurationStream.trainHotShingles(docs)
      .collect().map(_.getString(0)).toSet
    assert(uncapped.size < CurationStream.HotShingleTopK,
      "fixture head must sit below the cap or this equality is vacuous")
    assert(capped == uncapped, "default cap must not drop fixture hot shingles")

    // planted power-law corpus: every doc shares one template sentence
    // (one hot head per template shingle), plus a unique tail — a
    // boilerplate-heavy crawl in miniature. The cap bounds the artifact
    // no matter how many documents repeat the template.
    val template = "click here to accept all cookies and continue reading now"
    val planted = (0L until 200L).map(i => (i, s"$template unique tail $i marker${i}a marker${i}b"))
      .toDF("doc_id", "text")
    val head = CurationStream.trainHotShingles(planted, Int.MaxValue)
    assert(head.count() >= 8, "template must plant a real hot head")
    val cappedPlanted = CurationStream.trainHotShingles(planted, 5)
    assert(cappedPlanted.count() == 5, "capped artifact must be exactly topK rows")
    // and the kept 5 are the HOTTEST (all template shingles have df=200;
    // the tie-break is deterministic on the gram text)
    val keptDf = CurationStream.trainHotShingles(planted, 5)
      .join(graft.operators.Dedup.rawShingles(planted).groupBy($"g").count(), "g")
      .select($"count").collect().map(_.getLong(0))
    assert(keptDf.forall(_ == 200L), "the capped artifact must keep max-df shingles")
  }

  test("streaming near-dup gate equals the batch shard pass against the same saved index") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "orange banana cherry date elderberry fig grape honeydew " +
      "kiwi lemon mango nectarine papaya quince raspberry strawberry"
    val old = Seq(
      (1L, base),
      (2L, other),
      (3L, "completely different words entirely unrelated content here okay"))
      .toDF("doc_id", "text")
    val idxDir = Files.createTempDirectory("graft-stream-lshidx").toString
    graft.operators.Dedup.buildAndSaveLshIndex(old, idxDir)
    val idx = graft.operators.Dedup.loadLshIndex(spark, idxDir)

    // today's crawl: near-dups of docs 1 and 2, plus a fresh doc
    val shard = Seq(
      (10L, base + " appended"),
      (11L, other + " trailer"),
      (12L, "nothing in common with anything else at all in this corpus"))
      .toDF("doc_id", "text")

    // batch expectation: the cross-corpus half of d13's shard pass
    val batch = graft.operators.Dedup.shardLshPairs(shard, idx)
      .filter(col("ia") < 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must plant at least one cross-corpus pair")

    val dataDir = Files.createTempDirectory("graft-stream-neardup").toString
    shard.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(shard.schema).parquet(dataDir)
    val q = CurationStream.nearDupPairs(stream, idx)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(1), r.getLong(0), r.getDouble(2))) })
        ()
      }.start()
    assert(q.awaitTermination(120000), "near-dup stream did not finish")
    q.stop()

    assert(got.toSet == batch,
      s"streamed pairs must equal the batch shard pass: stream-only=${got.toSet -- batch} " +
        s"batch-only=${batch -- got.toSet}")
    // each pair is emitted exactly once despite multi-band collisions
    // (the minimal-collision-band filter is the stateless dedup)
    assert(got.size == got.distinct.size,
      s"pairs must not repeat across bands: $got")
  }

  test("near-dup gate over the p53-pruned index: the erased corpus doc never surfaces, surviving pairs unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "orange banana cherry date elderberry fig grape honeydew " +
      "kiwi lemon mango nectarine papaya quince raspberry strawberry"
    // doc 3 (≡3 mod 7 — erased) anchors `other`; doc 1 anchors `base`
    val old = Seq((1L, base), (3L, other),
      (2L, "completely different words entirely unrelated content here okay"))
      .toDF("doc_id", "text")
    val idxDir = Files.createTempDirectory("graft-prunedndp-idx").toString
    graft.operators.Dedup.buildAndSaveLshIndex(old, idxDir)
    val idx = graft.operators.Dedup.loadLshIndex(spark, idxDir)
    val pruned = graft.operators.Forget.pruneLshIndex(idx)

    val shard = Seq((10L, base + " appended"), (11L, other + " trailer"))
      .toDF("doc_id", "text")
    // pre-erasure sanity: the full index pairs 11 with the victim 3
    val full = graft.operators.Dedup.shardLshPairs(shard, idx)
      .filter(col("ia") < 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((1L, 10L), (3L, 11L)), s"fixture: $full")
    val batchPruned = graft.operators.Dedup.shardLshPairs(shard, pruned)
      .filter(col("ia") < 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val dataDir = Files.createTempDirectory("graft-prunedndp-data").toString
    shard.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(shard.schema).parquet(dataDir)
    val q = CurationStream.nearDupPairs(stream, pruned)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(1), r.getLong(0), r.getDouble(2))) })
        ()
      }.start()
    assert(q.awaitTermination(120000), "pruned near-dup stream did not finish")
    q.stop()

    // the erased doc never votes; the surviving anchor still pairs —
    // and the stream equals the batch shard pass over the SAME pruned
    // artifact (how erasure reaches this stateless gate: the
    // tombstoned-serving convention, not state surgery)
    assert(!got.exists(_._1 == 3L), s"erased doc surfaced: $got")
    assert(got.toSet == batchPruned && got.exists(_._1 == 1L),
      s"stream-over-pruned must equal batch-over-pruned: $got vs $batchPruned")
  }

  test("streaming semantic gate equals batch p24 against the same saved clustering; crash redelivery changes nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.count() * 4 / 5
    val tau = 0.4
    val kmDir = Files.createTempDirectory("graft-semgate-km").toString
    graft.operators.Similarity.trainAndSaveKmeans(
      emb.filter(col("vec_id") < cut), 4, 2, kmDir)
    val cent = graft.sources.ModelStore.load(spark, s"$kmDir/centroids")
    val cells = graft.sources.ModelStore.load(spark, s"$kmDir/cells")
    val batch = graft.operators.Similarity
      .semDedupShard(emb, cut, cent, cells, tau).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(batch.exists(!_._2._2), "fixture must drop at least one shard vector")

    val oldEmb = emb.filter(col("vec_id") < cut)
    val shard = emb.filter(col("vec_id") >= cut)
    val dataDir = Files.createTempDirectory("graft-semgate-data").toString
    val ckpt = Files.createTempDirectory("graft-semgate-ckpt").toString
    val ids = shard.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val base = System.currentTimeMillis() - 3600000L
    def writeChunk(df: DataFrame, i: Int): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
    }
    // vec_id-ordered ingest across micro-batches: the house precondition
    val mid = ids(ids.length / 2)
    writeChunk(shard.filter(col("vec_id") < mid), 0)
    writeChunk(shard.filter(col("vec_id") >= mid), 1)

    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    val deliveries = new java.util.concurrent.atomic.AtomicLong
    @volatile var crashOnce = true
    def startQuery() = {
      val stream = spark.readStream.schema(shard.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.semGate(stream, cent, oldEmb, cells, tau).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          deliveries.addAndGet(rows.length.toLong)
          rows.foreach(r => got.put(r.getLong(0), (r.getInt(1), r.getBoolean(2))))
          // die AFTER the side effect, BEFORE the state/offset commit:
          // the replayed batch must recompute identical verdicts off the
          // rolled-back per-cell member state
          if (crashOnce) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }
    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = startQuery()
    assert(q2.awaitTermination(120000), "restarted semantic gate did not finish")
    q2.stop()

    assert(deliveries.get() > ids.length.toLong,
      s"expected a redelivered batch: ${deliveries.get()} for ${ids.length} vectors")
    assert(got.toMap == batch,
      s"streamed semantic verdicts diverged from batch p24: " +
        s"stream-only=${got.toMap.toSet -- batch.toSet} batch-only=${batch.toSet -- got.toMap.toSet}")
  }

  test("semantic gate catches a WITHIN-STREAM near-dup: the state leg, not just the saved corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    // saved world: 2 centroids on the axes, corpus = one vector near +x
    val cent = Seq((0, 1, 1.0), (0, 2, 0.0), (1, 1, 0.0), (1, 2, 1.0))
      .toDF("c", "i", "cv")
    val oldEmb = Seq((0L, "a", Array(1.0f, 0.05f))).toDF("vec_id", "label", "embedding")
    val oldCells = Seq((0L, 0)).toDF("vec_id", "c")
    // stream: 10 dups the saved vector (old leg), 11 is fresh near +y,
    // 12 dups 11 (stream leg, no old co-member anywhere close)
    val shard = Seq(
      (10L, "s", Array(1.0f, 0.0f)),
      (11L, "s", Array(0.0f, 1.0f)),
      (12L, "s", Array(0.05f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val dataDir = Files.createTempDirectory("graft-semgate2").toString
    shard.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val stream = spark.readStream.schema(shard.schema).parquet(dataDir)
    val q = CurationStream.semGate(stream, cent, oldEmb, oldCells, 0.9).writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), r.getBoolean(2)))
        ()
      }.start()
    assert(q.awaitTermination(120000), "semantic gate stream did not finish")
    q.stop()
    assert(got.toMap == Map(10L -> false, 11L -> true, 12L -> false),
      s"got ${got.toMap}")
  }

  test("packing stream: crash mid-corpus redelivers without shifting a single span (state rolls back)") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Curation.packSequences(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getInt(6)))).toMap

    val dataDir = Files.createTempDirectory("graft-packcrash-data").toString
    val ckpt = Files.createTempDirectory("graft-packcrash-ckpt").toString
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val base = System.currentTimeMillis() - 3600000L
    def writeChunk(df: DataFrame, i: Int): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
    }
    val mid = ids(ids.length / 2)
    writeChunk(docs.filter(col("doc_id") < mid), 0)
    writeChunk(docs.filter(col("doc_id") >= mid), 1)

    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long, Int)]
    val deliveries = new java.util.concurrent.atomic.AtomicLong
    @volatile var crashOnce = true
    def startQuery() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.packStream(stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          deliveries.addAndGet(rows.length.toLong)
          rows.foreach(r => got.put(r.getLong(0),
            (r.getLong(4), r.getLong(5), r.getInt(6))))
          // die AFTER the side effect, BEFORE the state/offset commit:
          // the replayed batch must recompute the IDENTICAL spans off
          // the rolled-back running offsets
          if (crashOnce) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }
    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = startQuery()
    assert(q2.awaitTermination(120000), "restarted packing query did not finish")
    q2.stop()

    assert(deliveries.get() > ids.length.toLong,
      s"expected a redelivered batch: ${deliveries.get()} for ${ids.length} docs")
    assert(got.toMap == batch,
      s"crash-replayed packing diverged from batch: " +
        s"stream-only=${got.toMap.toSet -- batch.toSet} batch-only=${batch.toSet -- got.toMap.toSet}")
  }

  test("streamed packing equals batch packSequences across micro-batch boundaries (ordered ingest)") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Curation.packSequences(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getInt(6)))).toMap

    // corpus lands as 3 doc_id-ordered chunks so the running offset MUST
    // survive micro-batch boundaries to reproduce the batch prefix sum
    val dataDir = Files.createTempDirectory("graft-packstream-data").toString
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val base = System.currentTimeMillis() - 3600000L
    def writeChunk(df: DataFrame, i: Int): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
    }
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    writeChunk(docs.filter(col("doc_id") < c1), 0)
    writeChunk(docs.filter(col("doc_id") >= c1 && col("doc_id") < c2), 1)
    writeChunk(docs.filter(col("doc_id") >= c2), 2)

    val got = scala.collection.concurrent.TrieMap
      .empty[Long, (String, Int, Long, Long, Long, Int)]
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.packStream(stream)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0),
          (r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getInt(6))))
        ()
      }.start()
    assert(q.awaitTermination(120000), "packing stream did not finish")
    q.stop()
    assert(got.toMap == batch,
      s"streamed packing diverged from batch: stream-only=${got.toMap.toSet -- batch.toSet} " +
        s"batch-only=${batch.toSet -- got.toMap.toSet}")
  }

  test("gopher battery is stream-ready as-is: per-row rules, batch rows reproduced") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.TextOps.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val dataDir = Files.createTempDirectory("graft-stream-gopher").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap.empty[Long, Seq[Any]]
    val stream = spark.readStream.schema(docs.schema).parquet(dataDir)
    val q = graft.operators.TextOps.gopherRules(stream)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), r.toSeq.tail))
        ()
      }.start()
    assert(q.awaitTermination(120000), "gopher stream did not finish")
    q.stop()
    assert(got.toMap == batch, "streamed rule rows must equal batch")
  }

  test("bloom gate is stream-ready as-is: literal sketch, no join, batch rows reproduced") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bloom = graft.operators.Curation.trainBenchmarkBloom(docs)
    val batch = graft.operators.Curation.bloomDecontaminate(docs, bloom).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(batch.values.exists(_._2), "fixture must plant real overlap")

    val dataDir = Files.createTempDirectory("graft-stream-bloom").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Boolean)]
    val stream = spark.readStream.schema(docs.schema).parquet(dataDir)
    // the batch operator applied to a streaming frame UNCHANGED — it is
    // stateless and join-free by construction (the sketch rides the plan
    // as a literal), so there is nothing to adapt; only the presentation
    // sort is batch-only
    val q = graft.operators.Curation.bloomDecontaminate(stream, bloom)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), (r.getLong(1), r.getBoolean(2))))
        ()
      }.start()
    assert(q.awaitTermination(120000), "bloom stream did not finish")
    q.stop()
    assert(got.toMap == batch,
      s"streamed bloom verdicts must equal batch: ${got.toMap.toSeq.diff(batch.toSeq)}")
  }

  test("streaming contamination gate equals the batch report row for row; oversized benchmark refuses") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = graft.operators.Curation.benchmarkShingles(docs)
    val batch = graft.operators.Curation.contaminationReport(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(batch.values.exists(_._2 > 0L),
      "fixture must plant real benchmark overlap or the parity pin is vacuous")

    // the crawl = the non-benchmark docs, streamed
    val crawl = docs.filter(col("doc_id") % graft.operators.Curation.BenchmarkMod =!= 0)
    val dataDir = Files.createTempDirectory("graft-stream-contam").toString
    crawl.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap
      .empty[Long, (Long, Long, Double, Boolean)]
    val stream = spark.readStream.schema(crawl.schema).parquet(dataDir)
    val q = CurationStream.contaminationGate(stream, bench)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
        ()
      }.start()
    assert(q.awaitTermination(120000), "contamination stream did not finish")
    q.stop()
    assert(got.size == batch.size)
    got.foreach { case (id, row) =>
      assert(row == batch(id), s"doc $id: stream $row vs batch ${batch(id)}")
    }

    // a benchmark too large to broadcast refuses loudly, never truncates
    val err = intercept[IllegalArgumentException] {
      CurationStream.contaminationGate(crawl, bench, maxShingles = 1L)
    }
    assert(err.getMessage.contains("too large to broadcast"),
      s"refusal must say why: ${err.getMessage}")
  }

  test("within-stream simhash dedup equals the batch d15 pass; crash-redelivery changes nothing") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty, "fixture must contain close simhash pairs")

    // the corpus lands as 3 doc_id-ordered files; a crash after the first
    // delivered batch forces a replay (state rolls back with the batch)
    val dataDir = Files.createTempDirectory("graft-simstream-data").toString
    val ckpt = Files.createTempDirectory("graft-simstream-ckpt").toString
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(df: DataFrame): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    land(docs.filter(col("doc_id") < c1))
    land(docs.filter(col("doc_id") >= c1 && col("doc_id") < c2))
    land(docs.filter(col("doc_id") >= c2))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    @volatile var crashOnce = true
    def run() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.simhashStreamPairs(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          got.synchronized {
            rows.foreach(r => got += ((r.getLong(0), r.getLong(1), r.getInt(2))))
          }
          if (crashOnce && rows.nonEmpty) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }
    val q1 = run()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = run()
    assert(q2.awaitTermination(180000), "simhash stream did not finish")
    q2.stop()

    // normalize orientation (stream emits (later, earlier)) and absorb the
    // redelivered batch's duplicates — the verdicts must equal batch d15
    val norm = got.map { case (a, b, h) => (math.min(a, b), math.max(a, b), h) }.toSet
    assert(norm == batch,
      s"stream-only=${(norm -- batch).take(5)} batch-only=${(batch -- norm).take(5)}")
  }

  test("simhash stream horizon: silent buckets evict, pairs inside the horizon still found") {
    val spark = TestSpark.spark
    import spark.implicits._
    val horizon = 60000L
    val t0 = 1700000000000L
    val dataDir = Files.createTempDirectory("graft-simhzn-data").toString
    val ckpt = Files.createTempDirectory("graft-simhzn-ckpt").toString
    var chunk = 0
    def land(rows: (Long, String, Long)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("doc_id", "text", "ms")
        .withColumn("ts", (col("ms") / 1000.0).cast("timestamp")).drop("ms"),
        dataDir, f"chunk-$chunk%03d.parquet")
      assert(dest.setLastModified(System.currentTimeMillis() - 3600000L + chunk * 60000L))
      chunk += 1
    }
    val text = "the quick brown fox jumps over the lazy dog again and again"
    // a: first copy + an intra-horizon duplicate 30 s later -> pair found
    land((1L, text, t0), (2L, text, t0 + 30000L))
    // b: far-future doc pushes the watermark past every bucket deadline
    land((3L, "completely unrelated content with different words", t0 + 600000L))
    // c: a batch after the watermark moved — timers fire, buckets evict
    land((4L, "another unrelated set of tokens entirely", t0 + 610000L))
    // d: the same text again — its buckets were evicted, NO pair vs doc 1/2
    land((5L, text, t0 + 620000L))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.simhashStreamPairs(stream, horizonMs = Some(horizon))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(0), r.getLong(1))) })
        ()
      }.start()
    assert(q.awaitTermination(180000), "simhash horizon drain did not finish")
    q.stop()

    assert(got.toSet == Set((2L, 1L)),
      s"inside-horizon pair found once, evicted buckets stay silent: $got")
  }

  test("the saved quality classifier gates a stream: scores equal the batch pass row for row") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-stream-qclf").toString
    graft.operators.Classifier.trainAndSave(docs, dir)
    val w = graft.operators.Classifier.loadWeights(spark, dir)
    val batch = graft.operators.Classifier.scoreWith(docs, w).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap

    val dataDir = Files.createTempDirectory("graft-stream-qclf-data").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Double, Boolean)]
    val stream = spark.readStream.schema(docs.schema).parquet(dataDir)
    // scoreWith is pure per-row expressions — the SAME call gates the
    // stream (offline-train/online-apply, no adaptation layer)
    val q = graft.operators.Classifier.scoreWith(stream, w)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.put(r.getLong(0), (r.getDouble(2), r.getBoolean(3))))
        ()
      }.start()
    assert(q.awaitTermination(120000), "classifier stream did not finish")
    q.stop()
    assert(got.size == batch.size)
    got.foreach { case (id, v) =>
      assert(v == batch(id), s"doc $id: stream $v vs batch ${batch(id)}")
    }
  }

  test("positional per-row gates score a stream: phrase, proximity, span-near and co-occurrence counts equal the batch join forms row for row") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val T = graft.operators.TextOps
    val batchPhrase = T.phraseSearch(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchProx = T.proximitySearch(docs, "window", "join").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchSpan = T.spanNearSearch(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchCooc = T.coocSearch(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dataDir = Files.createTempDirectory("graft-stream-pos-data").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long, Long, Long)]
    val stream = spark.readStream.schema(docs.schema).parquet(dataDir)
    // all three expressions are pure per-row folds — the SAME columns
    // gate the stream (the classifier/gopher stateless-gate
    // convention); the join forms stay the corpus-query plans
    val q = stream.select(col("doc_id"),
        T.phraseMatchExpr(col("text"), T.PhraseQuery).as("np"),
        T.proximityMatchExpr(col("text"), "window", "join").as("nx"),
        T.spanNearMatchExpr(col("text")).as("ns"),
        T.coocMatchExpr(col("text")).as("nc"))
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.put(r.getLong(0),
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        ()
      }.start()
    assert(q.awaitTermination(120000), "positional gate stream did not finish")
    q.stop()
    assert(got.size == docs.count(), s"${got.size}")
    got.foreach { case (id, (np, nx, ns, nc)) =>
      assert(np == batchPhrase.getOrElse(id, 0L),
        s"doc $id phrase: stream $np vs batch ${batchPhrase.get(id)}")
      assert(nx == batchProx.getOrElse(id, 0L),
        s"doc $id proximity: stream $nx vs batch ${batchProx.get(id)}")
      assert(ns == batchSpan.getOrElse(id, 0L),
        s"doc $id span-near: stream $ns vs batch ${batchSpan.get(id)}")
      assert(nc == batchCooc.getOrElse(id, 0L),
        s"doc $id cooc: stream $nc vs batch ${batchCooc.get(id)}")
    }
  }

  test("event-time dedup horizon evicts silent hashes; duplicates inside the horizon still die") {
    val spark = TestSpark.spark
    import spark.implicits._
    // artifacts trained on a tiny static corpus (content is irrelevant to
    // the canonical gate — we assert canonical flags only)
    val train = Seq((0L, "the a of and to in base corpus text")).toDF("doc_id", "text")
    val hot = CurationStream.trainHotShingles(train)
    val lm = trainLm(train)

    // event-time horizon: fully data-driven (the watermark advances with
    // the files, no wall-clock sleeps). One file per micro-batch; the
    // watermark a batch sees is computed from the PREVIOUS batch, and
    // timers fire after that batch's data — hence the eviction chunk (c)
    // sits between the far-future watermark push (b) and the re-arrival (d)
    val horizon = 60000L // 1 min
    val t0 = 1700000000000L // fixed epoch base; determinism over wall clock
    val dataDir = Files.createTempDirectory("graft-curstream-hzn-data").toString
    val ckpt = Files.createTempDirectory("graft-curstream-hzn-ckpt").toString
    var chunk = 0
    def land(rows: (Long, String, Long)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("doc_id", "text", "ms")
        .withColumn("ts", (col("ms") / 1000.0).cast("timestamp")).drop("ms"),
        dataDir, f"chunk-$chunk%03d.parquet")
      // pin mtimes so the file source's one-file-per-batch order is the
      // landing order, not a same-millisecond race
      assert(dest.setLastModified(System.currentTimeMillis() - 3600000L + chunk * 60000L))
      chunk += 1
    }
    // a: first-seen pair + an intra-horizon duplicate 30 s later
    land((1L, "dup text body", t0), (2L, "other text", t0),
      (3L, "dup text body", t0 + 30000L))
    // b: far-future event pushes the watermark past every deadline
    land((4L, "unrelated text", t0 + 600000L))
    // c: a batch AFTER the watermark advanced — its timer phase evicts
    // the now-expired hashes
    land((6L, "window turner text", t0 + 610000L))
    // d: the evicted hash arrives again — canonical again
    land((5L, "dup text body", t0 + 620000L))

    val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.manifest(stream, hot, lm, dedupHorizonMs = Some(horizon))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), r.getBoolean(7)))
        ()
      }.start()
    assert(q.awaitTermination(120000), "horizon drain did not finish")
    q.stop()

    assert(got(1L) && got(2L), "first arrivals are canonical")
    assert(!got(3L), "a duplicate INSIDE the horizon must still die")
    assert(got(4L) && got(6L), "unrelated docs are canonical")
    assert(got(5L),
      "after the watermark passes the horizon the hash's next arrival " +
        "must be canonical again")
  }

  test("streaming image near-dup equals the batch mm7 pass; crash-redelivery changes nothing") {
    val spark = TestSpark.spark
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val assets = graft.operators.Multimodal.hashAssets(docs)
    val batch = graft.operators.Multimodal.imageHashPairs(assets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty, "fixture must plant image near-dup pairs")

    // the crawl lands as 3 asset_id-ordered files (variants last — the
    // id-ordered-ingest precondition); a crash after the first delivered
    // batch forces a replay (state rolls back with the batch)
    val dataDir = Files.createTempDirectory("graft-mediastream-data").toString
    val ckpt = Files.createTempDirectory("graft-mediastream-ckpt").toString
    val ids = assets.select(col("asset_id")).collect().map(_.getLong(0)).sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(df: DataFrame): Unit = {
      val dest = landFile(df, dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    land(assets.filter(col("asset_id") < c1))
    land(assets.filter(col("asset_id") >= c1 && col("asset_id") < c2))
    land(assets.filter(col("asset_id") >= c2))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    @volatile var crashOnce = true
    def run() = {
      val stream = spark.readStream.schema(assets.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.mediaStreamPairs(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          got.synchronized {
            rows.foreach(r => got += ((r.getLong(0), r.getLong(1), r.getInt(2))))
          }
          if (crashOnce && rows.nonEmpty) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }
    val q1 = run()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = run()
    assert(q2.awaitTermination(180000), "media stream did not finish")
    q2.stop()

    val norm = got.map { case (a, b, h) => (math.min(a, b), math.max(a, b), h) }.toSet
    assert(norm == batch,
      s"stream-only=${(norm -- batch).take(5)} batch-only=${(batch -- norm).take(5)}")
  }

  test("media stream horizon: silent buckets evict, pairs inside the horizon still found") {
    val spark = TestSpark.spark
    import spark.implicits._
    val horizon = 60000L
    val t0 = 1700000000000L
    val dataDir = Files.createTempDirectory("graft-mediahzn-data").toString
    val ckpt = Files.createTempDirectory("graft-mediahzn-ckpt").toString
    var chunk = 0
    def ppm8x8(lum: Int => Int): Array[Byte] =
      graft.operators.MediaCodec.ppmHeader(8, 8) ++
        (0 until 64).flatMap(p => Seq.fill(3)(lum(p).toByte)).toArray
    def land(rows: (Long, String, Array[Byte], Long)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("asset_id", "kind", "data", "ms")
        .withColumn("ts", (col("ms") / 1000.0).cast("timestamp")).drop("ms"),
        dataDir, f"chunk-$chunk%03d.parquet")
      assert(dest.setLastModified(System.currentTimeMillis() - 3600000L + chunk * 60000L))
      chunk += 1
    }
    val img = ppm8x8(p => if (p < 32) 10 else 80)
    val unrelated = ppm8x8(p => if (p % 2 == 0) 10 else 80)
    // a: first copy + an intra-horizon duplicate 30 s later -> pair found
    land((1L, "image", img, t0), (2L, "image", img, t0 + 30000L))
    // b, c: far-future images move the watermark past every bucket deadline
    // the far images must not LAND IN img's buckets — an arrival wins over
    // an expired timer and re-arms it (Spark's data-over-timeout rule), so
    // a bucket-sharing image would keep the state alive past the horizon.
    // The inversion shares no (band, value): bands swap 0x0000 <-> 0xffff
    land((3L, "image", unrelated, t0 + 600000L))
    land((4L, "image", ppm8x8(p => if (p < 32) 80 else 10), t0 + 610000L))
    // d: the same image again — its buckets were evicted, NO pair vs 1/2
    land((5L, "image", img, t0 + 620000L))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "asset_id BIGINT, kind STRING, data BINARY, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.mediaStreamPairs(stream, horizonMs = Some(horizon))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(0), r.getLong(1))) })
        ()
      }.start()
    assert(q.awaitTermination(180000), "media horizon drain did not finish")
    q.stop()

    assert(got.toSet == Set((2L, 1L)),
      s"inside-horizon pair found once, evicted buckets stay silent: $got")
  }

  test("erasure reaches the live canonical state: a forgotten canonical stops demoting newcomers, across crash-and-replay") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, dup, "add"),
      (2L, dup, "add"),
      (3L, "entirely different unique content with other words inside", "add"))
      .toDF("doc_id", "text", "op")
    val hot = CurationStream.trainHotShingles(docs.drop("op"))
    val lm = trainLm(docs.drop("op"))

    val dataDir = Files.createTempDirectory("graft-forgetcanon-data").toString
    val ckpt = Files.createTempDirectory("graft-forgetcanon-ckpt").toString
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(rows: (Long, String, String)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("doc_id", "text", "op"),
        dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    // batch 1: 1 is canonical for the dup text, 2 its duplicate
    land((1L, dup, "add"), (2L, dup, "add"), (3L, "entirely different unique content with other words inside", "add"))
    // batch 2: the canonical requests erasure (control record: same
    // payload columns, op=forget — routes to the same hash key)
    land((1L, dup, CurationStream.OpForget))
    // batch 3: the same text arrives again — with 1 erased it is
    // canonical; 5 right after it is its duplicate
    land((4L, dup, "add"), (5L, dup, "add"))
    // batch 4: a forget for a NON-canonical doc (2) is a state no-op —
    // 6 is still demoted by the new canonical 4
    land((2L, dup, CurationStream.OpForget), (6L, dup, "add"))

    val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val rowsSeen = new java.util.concurrent.atomic.AtomicLong
    @volatile var crashOnce = true
    def run() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      CurationStream.manifest(stream, hot, lm).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect()
          rowsSeen.addAndGet(rows.length.toLong)
          rows.foreach(r => got.put(r.getLong(0), r.getBoolean(7)))
          if (crashOnce && rows.nonEmpty) { crashOnce = false; sys.error("injected crash") }
          ()
        }.start()
    }
    val q1 = run()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    val q2 = run()
    assert(q2.awaitTermination(180000), "canonical-erasure stream did not finish")
    q2.stop()

    // forget records emit nothing: only the 6 documents produced rows
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), s"${got.keySet}")
    assert(got(1L) && !got(2L) && got(3L),
      s"pre-erasure verdicts: ${got.toMap}")
    assert(got(4L),
      "after the canonical's erasure the same text must be canonical again")
    assert(!got(5L) && !got(6L),
      s"the NEW canonical demotes later arrivals; a non-canonical forget is a no-op: ${got.toMap}")
  }

  test("simhash forget purges live fingerprints: the erased doc never votes a pair again, the gate stays alive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft-forgetsim-data").toString
    val ckpt = Files.createTempDirectory("graft-forgetsim-ckpt").toString
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(rows: (Long, String, String)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("doc_id", "text", "op"),
        dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    val text = "the quick brown fox jumps over the lazy dog again and again"
    land((1L, text, "add"), (2L, text, "add"))   // pair (2,1)
    land((1L, text, CurationStream.OpForget),    // both copies erased
         (2L, text, CurationStream.OpForget))
    land((3L, text, "add"))                      // nothing left to pair with
    land((4L, text, "add"))                      // gate alive: pair (4,3)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, op STRING")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.simhashStreamPairs(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(0), r.getLong(1))) })
        ()
      }.start()
    assert(q.awaitTermination(180000), "simhash forget drain did not finish")
    q.stop()
    assert(got.toSet == Set((2L, 1L), (4L, 3L)),
      s"erased fingerprints must not vote, surviving ones must: $got")
  }

  test("media forget purges live fingerprints: the erased image never votes a pair again, the gate stays alive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft-forgetmedia-data").toString
    val ckpt = Files.createTempDirectory("graft-forgetmedia-ckpt").toString
    def ppm8x8(lum: Int => Int): Array[Byte] =
      graft.operators.MediaCodec.ppmHeader(8, 8) ++
        (0 until 64).flatMap(p => Seq.fill(3)(lum(p).toByte)).toArray
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(rows: (Long, String, Array[Byte], String)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("asset_id", "kind", "data", "op"),
        dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    val img = ppm8x8(p => if (p < 32) 10 else 80)
    land((1L, "image", img, "add"), (2L, "image", img, "add"))
    land((1L, "image", img, CurationStream.OpForget),
         (2L, "image", img, CurationStream.OpForget))
    land((3L, "image", img, "add"))
    land((4L, "image", img, "add"))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "asset_id BIGINT, kind STRING, data BINARY, op STRING")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    val q = CurationStream.mediaStreamPairs(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.synchronized { got += ((r.getLong(0), r.getLong(1))) })
        ()
      }.start()
    assert(q.awaitTermination(180000), "media forget drain did not finish")
    q.stop()
    assert(got.toSet == Set((2L, 1L), (4L, 3L)),
      s"erased fingerprints must not vote, surviving ones must: $got")
  }

  test("semantic gate erasure, both legs: a forgotten stream vector stops dropping near-dups; the old-corpus leg follows the p53-pruned artifact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cent = Seq((0, 1, 1.0), (0, 2, 0.0), (1, 1, 0.0), (1, 2, 1.0))
      .toDF("c", "i", "cv")
    val oldEmb = Seq((0L, "a", Array(1.0f, 0.05f))).toDF("vec_id", "label", "embedding")
    val oldCells = Seq((0L, 0)).toDF("vec_id", "c")
    val dataDir = Files.createTempDirectory("graft-forgetsem-data").toString
    val base = System.currentTimeMillis() - 3600000L
    var i = 0
    def land(rows: (Long, String, Array[Float], String)*): Unit = {
      val dest = landFile(rows.toSeq.toDF("vec_id", "label", "embedding", "op"),
        dataDir, f"chunk-$i%03d.parquet")
      assert(dest.setLastModified(base + i * 60000L))
      i += 1
    }
    // 11 lands near +y; 12 would duplicate it; after 11's erasure 12 is
    // kept; 13 then duplicates 12 (the purged cell re-fills)
    land((11L, "s", Array(0.0f, 1.0f), "add"))
    land((11L, "s", Array(0.0f, 1.0f), CurationStream.OpForget))
    land((12L, "s", Array(0.05f, 1.0f), "add"))
    land((13L, "s", Array(0.02f, 1.0f), "add"))
    def runGate(oe: DataFrame, oc: DataFrame, extra: (Long, String, Array[Float], String)*)
        : Map[Long, Boolean] = {
      if (extra.nonEmpty) land(extra: _*)
      val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, label STRING, embedding ARRAY<FLOAT>, op STRING")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      val q = CurationStream.semGate(stream, cent, oe, oc, 0.9).writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-forgetsem-ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.put(r.getLong(0), r.getBoolean(2)))
          ()
        }.start()
      assert(q.awaitTermination(180000), "semantic erasure drain did not finish")
      q.stop()
      got.toMap
    }
    // leg 1 (live state): with 11 forgotten, 12 is KEPT; 13 then dups 12
    val live = runGate(oldEmb, oldCells)
    assert(live == Map(11L -> true, 12L -> true, 13L -> false),
      s"stream-state purge verdicts: $live")
    // leg 2 (saved corpus): vector 10 duplicates the SAVED vector 0 —
    // dropped against the full artifact, KEPT against the p53-pruned one
    // (a fresh stream over the pruned tables is exactly how erasure
    // reaches the dropped_old leg — the tombstoned-serving convention)
    val withOld = runGate(oldEmb, oldCells, (10L, "s", Array(1.0f, 0.0f), "add"))
    assert(withOld(10L) == false, s"full artifact must drop 10: $withOld")
    val pruned = runGate(oldEmb.filter(col("vec_id") =!= 0L),
      oldCells.filter(col("vec_id") =!= 0L))
    assert(pruned(10L) == true,
      s"pruned artifact must keep 10 — the erased saved vector no longer votes: $pruned")
  }
}
