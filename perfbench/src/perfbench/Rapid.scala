package perfbench

import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.Fanout

/** The rapid workloads. A [[Topic]] stands in for Kafka and each streaming
  * query runs `KafkaRapid.run`'s foreachBatch body: the 8 rivers routed
  * by [[Fanout.routeBatchUnioned]] off one persisted micro-batch, with a
  * sink that collects the unioned replies to the driver.
  *
  *  - rapid_steady: an open loop at 500 msg/s, triggers as fast as
  *    possible. Per-trigger driver work dominates.
  *  - rapid_replay: a closed loop that publishes an 18,000-message backlog
  *    at once and drains it in fixed 6,000-message triggers (a catch-up
  *    consumer), wave after wave, with a `Dedupe.byId` query beside the
  *    fanout. Per-message executor work dominates.
  */
object Rapid {

  val Rate: Int = (1000000000L / Mix.SendIntervalNs).toInt
  val WarmMessages = 500
  val WarmPolls = 4
  val SetupRounds = 3
  /** rapid_replay's trigger cap and backlog wave: 3 full triggers. */
  val TriggerSize = 6000
  val Wave: Int = 3 * TriggerSize
  val MaxWaves = 8
  val RedeliveryShare = 0.1

  /** What one query's sink received: per trigger, the nanoTime at which the
    * replies reached the driver, and the replies.
    */
  final class Sink {
    private val batches = mutable.ArrayBuffer.empty[(Long, Array[String])]
    private val route = mutable.ArrayBuffer.empty[Double]
    private val sink = mutable.ArrayBuffer.empty[Double]
    def add(at: Long, values: Array[String]): Unit = synchronized { batches += ((at, values)); () }
    def timed(routeMs: Double, sinkMs: Double): Unit = synchronized { route += routeMs; sink += sinkMs; () }
    def all: Vector[(Long, Array[String])] = synchronized(batches.toVector)
    def values: Vector[String] = all.flatMap(_._2.toSeq)
    def routeMs: Vector[Double] = synchronized(route.toVector)
    def sinkMs: Vector[Double] = synchronized(sink.toVector)
  }

  /** The topic as `KafkaRapid.stream` projects it: key and value, tombstones
    * filtered.
    */
  private def stream(spark: SparkSession, topic: Topic, partitions: Int,
      maxPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream.format(classOf[TopicProvider].getName)
      .option("topic", topic.name).option("partitions", partitions.toString)
    maxPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString)).load()
      .filter(col("value").isNotNull)
  }

  private def checkpoint(ctx: Ctx, name: String): String = ctx.work.resolve("ck").resolve(name).toString

  /** The fanout query. Spans (traced runs only): `fanout.route` around the
    * routing call and `fanout.sink` around the collect, under trigger
    * `trigger-<name>-<batch>`.
    */
  def startFanout(ctx: Ctx, name: String, topic: Topic, maxPerTrigger: Option[Long],
      regs: Seq[Fanout.Registration], sink: Sink): StreamingQuery = {
    val spark = ctx.spark
    val tr = ctx.tracer
    stream(spark, topic, ctx.cores, maxPerTrigger).writeStream.queryName(name)
      .option("checkpointLocation", checkpoint(ctx, name))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val routeId = s"route-$name-$id"
        val sinkId = s"sink-$name-$id"
        val r0 = System.nanoTime()
        val t0 = tr.now
        var sinkNs = 0L
        Fanout.routeBatchUnioned(batch, regs) { replies =>
          val s0 = System.nanoTime()
          val st = tr.now
          val rows = if (tr.on) Probe.under(spark, sinkId)(replies.collect()) else replies.collect()
          val s1 = System.nanoTime()
          sink.add(s1, rows.map(_.getString(1)))
          sinkNs = s1 - s0
          if (tr.on) tr.add(Span(sinkId, "fanout.sink", routeId, st, tr.now))
        }
        val r1 = System.nanoTime()
        if (tr.on) tr.add(Span(routeId, "fanout.route", s"trigger-$name-$id", t0, tr.now))
        sink.timed((r1 - r0 - sinkNs) / 1e6, sinkNs / 1e6)
      }
      .start()
  }

  /** The `Dedupe.byId` query; its sink receives the ids that survive. */
  def startDedupe(ctx: Ctx, name: String, topic: Topic, maxPerTrigger: Option[Long],
      sink: Sink): StreamingQuery = {
    val spark = ctx.spark
    Rivers.dedupe(stream(spark, topic, ctx.cores, maxPerTrigger)).writeStream.queryName(name)
      .option("checkpointLocation", checkpoint(ctx, name))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val collect = () => batch.select(col("id")).collect()
        val rows = if (ctx.tracer.on) Probe.under(spark, s"trigger-$name-$id")(collect()) else collect()
        sink.add(System.nanoTime(), rows.map(_.getString(0)))
      }
      .start()
  }

  /** Reply mismatches against the oracle: per `@id`, replies missing plus
    * replies extra, a wrong reply (one of each) counted once.
    */
  def replyFailures(msgs: Seq[Mix.Msg], received: Seq[String]): Long = {
    val expected = msgs.flatMap(m => Mix.reply(m).map(m.id -> _)).groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(_._2).toList }
    val got = received.groupBy(r => Option(Mix.replyId(r)).getOrElse("")).map { case (id, rs) => id -> rs.toList }
    (expected.keySet ++ got.keySet).iterator.map { id =>
      val e = expected.getOrElse(id, Nil)
      val g = got.getOrElse(id, Nil)
      math.max(e.diff(g).size, g.diff(e).size).toLong
    }.sum
  }

  /** Dedupe mismatches: expected ids never emitted, ids emitted that no
    * message carries, and ids emitted more than once.
    */
  def dedupeFailures(msgs: Seq[Mix.Msg], emitted: Seq[String]): Long = {
    val expected = msgs.iterator.filter(_.id != null).map(_.id).toSet
    val got = emitted.toSet
    ((expected -- got).size + (got -- expected).size + (emitted.size - got.size)).toLong
  }

  /** Warm-up traffic of set-up round `round`, apart from the measured traffic. */
  private def warmup(ctx: Ctx, round: Int, n: Int, redeliveryShare: Double): Vector[Mix.Msg] =
    Mix.generate(ctx.seed * 1000003L + round + 1, n, redeliveryShare = redeliveryShare)

  // ------------------------------------------------------------ rapid_steady

  def steady(ctx: Ctx): Outcome = {
    val window = Mix.generate(ctx.seed, Rate * ctx.seconds)
    var attempted = 0L
    var failed = 0L
    // set-up rounds: wire the rivers, start the query, drain the warm-up polls;
    // the last round's query stays up for the measurement
    val roundMs = mutable.ArrayBuffer.empty[Double]
    var live: (StreamingQuery, Topic, Sink) = null
    for (r <- 0 until SetupRounds) {
      val warm = warmup(ctx, r, WarmMessages, 0.0)
      val last = r == SetupRounds - 1
      val topic = Topic.create(s"steady-$r", if (last) warm ++ window else warm)
      val sink = new Sink
      val t0 = System.nanoTime()
      val q = startFanout(ctx, s"steady-$r", topic, None, Rivers.all, sink)
      for (p <- 1 to WarmPolls) {
        topic.publishUpTo(WarmMessages * p / WarmPolls)
        q.processAllAvailable()
      }
      roundMs += (System.nanoTime() - t0) / 1e6
      attempted += warm.size
      failed += replyFailures(warm, sink.values)
      if (last) live = (q, topic, sink)
      else { q.stop(); Topic.drop(topic.name) }
    }
    val setup = ctx.setupBase_s + Stats.median(roundMs) / 1000
    val (q, topic, sink) = live

    /** Open loop over window messages `first until first + count`: the
      * generator publishes message j at sched0 + j send intervals.
      */
    def measure(first: Int, count: Int, probe: Option[Probe]): (Map[String, Double], Map[String, Double]) = {
      val msgs = window.slice(first, first + count)
      val from = (WarmMessages + first).toLong
      val before = sink.all.size
      probe.foreach(_.attach())
      ctx.tracer.on = probe.isDefined
      val w0 = ctx.tracer.now
      val step = Mix.SendIntervalNs
      val sched0 = System.nanoTime() + 20000000L
      val late = new Array[Double](count)
      val gen = new Thread(() => {
        var published = 0
        while (published < count) {
          val now = System.nanoTime()
          val due = if (now < sched0) 0 else math.min(count.toLong, (now - sched0) / step + 1).toInt
          if (due > published) {
            topic.publishUpTo(from + due)
            for (j <- published until due) late(j) = (now - (sched0 + j * step)) / 1e6
            published = due
          }
          LockSupport.parkNanos(200000L)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
      val tEnd = System.nanoTime()
      val w1 = ctx.tracer.now
      ctx.tracer.on = false
      probe.foreach(_.detach())
      val index = msgs.iterator.zipWithIndex.filter(_._1.id != null).map { case (m, j) => m.id -> j }.toMap
      val batches = sink.all.drop(before)
      val lat = for ((t, vs) <- batches; v <- vs.toSeq; j <- index.get(Mix.replyId(v)))
        yield (t - (sched0 + j * step)) / 1e6
      attempted += count
      failed += replyFailures(msgs, batches.flatMap(_._2.toSeq))
      val e2e = latencyMetrics(lat) ++ Map(
        "ops_per_s" -> count / ((tEnd - sched0) / 1e9),
        "setup_s" -> setup)
      val layers = probe.map { p =>
        val schedEpoch0 = ctx.tracer.epochOf(sched0)
        val progress = p.progresses.filter(pr => pr.name == q.name && pr.numInputRows > 0)
        // queue wait: from a message's scheduled send to the start of its trigger
        val waits = progress.flatMap { pr =>
          val (a, b) = offsets(pr)
          val start = Instant.parse(pr.timestamp).toEpochMilli.toDouble
          (math.max(a, from) until math.min(b, from + count)).map(o => start - (schedEpoch0 + (o - from) * step / 1e6))
        }
        layerMetrics(ctx, p, progress, sink.routeMs.drop(before), sink.sinkMs.drop(before),
          lat.size.toDouble, w0, w1) ++ Map(
          "streaming.queue_wait_ms_p50" -> Stats.median(waits),
          "gen.late_ms_p99" -> Stats.percentile(late.toSeq, 99),
          "latency.samples" -> lat.size.toDouble)
      }.getOrElse(Map.empty)
      (e2e, layers)
    }

    val (e2e, layers) =
      if (!ctx.trace) measure(0, window.size, None)
      else {
        // traced run: the first half of the window untraced, the second traced
        val half = window.size / 2
        val (plain, _) = measure(0, half, None)
        val (traced, layers) = measure(half, window.size - half, Some(new Probe(ctx.spark, ctx.cores)))
        (traced, layers ++ overhead(plain, traced))
      }
    q.stop()
    val extra = if (ctx.trace) {
      val (m, f) = Micro.attachSweep(ctx)
      val (queries, qa, qf) = Ops.traced(ctx)
      attempted += qa
      failed += f + qf
      m ++ queries
    } else Map.empty[String, Double]
    Outcome(attempted, failed, e2e, layers ++ extra)
  }

  // ------------------------------------------------------------ rapid_replay

  def replay(ctx: Ctx): Outcome = {
    var attempted = 0L
    var failed = 0L
    val cap = Some(TriggerSize.toLong)
    // every wave is fresh traffic, later in event time than the one before,
    // so Dedupe.byId's state keeps each id of the run exactly once
    def wave(k: Int): Vector[Mix.Msg] =
      Mix.generate(ctx.seed * 1000003L + 17 * k, Wave, first = TriggerSize + k.toLong * Wave,
        redeliveryShare = RedeliveryShare)

    /** A fanout and a dedupe query over one topic, as two consumer groups. */
    final class Consumers(c: Ctx, name: String, msgs: Vector[Mix.Msg]) {
      val topic: Topic = Topic.create(name, msgs)
      val replies = new Sink
      val ids = new Sink
      val fanout: StreamingQuery = startFanout(c, s"$name-f", topic, cap, Rivers.all, replies)
      val dedupe: StreamingQuery = startDedupe(c, s"$name-d", topic, cap, ids)

      /** Publishes the next `n` messages at once and waits until both
        * queries have drained them: (nanoTime published, seconds).
        */
      def drain(n: Int): (Long, Double) = {
        val (r0, i0, from) = (replies.all.size, ids.all.size, topic.end.toInt)
        val t0 = System.nanoTime()
        topic.publishUpTo(from + n)
        fanout.processAllAvailable()
        dedupe.processAllAvailable()
        val t1 = System.nanoTime()
        val sent = msgs.slice(from, from + n)
        attempted += n
        failed += replyFailures(sent, replies.all.drop(r0).flatMap(_._2.toSeq)) +
          dedupeFailures(sent, ids.all.drop(i0).flatMap(_._2.toSeq))
        (t0, (t1 - t0) / 1e9)
      }

      def stop(): Unit = { fanout.stop(); dedupe.stop(); Topic.drop(topic.name) }
    }

    def warm(r: Int): Vector[Mix.Msg] = warmup(ctx, r, TriggerSize, RedeliveryShare)

    // set-up rounds: start both queries and drain one full trigger of warm-up
    // traffic; the last round's queries stay up for the measurement. Each
    // drain is a whole generated block, so a redelivery never crosses drains.
    val waves = (0 until MaxWaves).map(wave)
    val roundMs = mutable.ArrayBuffer.empty[Double]
    var live: Consumers = null
    for (r <- 0 until SetupRounds) {
      val last = r == SetupRounds - 1
      val t0 = System.nanoTime()
      val c = new Consumers(ctx, s"replay-$r", if (last) warm(r) ++ waves.flatten else warm(r))
      c.drain(TriggerSize)
      roundMs += (System.nanoTime() - t0) / 1e6
      if (last) live = c else c.stop()
    }
    val setup = ctx.setupBase_s + Stats.median(roundMs) / 1000
    var next = 0

    /** Waves, each published at once, until `budget` seconds have passed. */
    def measure(budget: Double, probe: Option[Probe]): (Map[String, Double], Map[String, Double]) = {
      probe.foreach(_.attach())
      ctx.tracer.on = probe.isDefined
      val w0 = ctx.tracer.now
      val start = System.nanoTime()
      val (r0, route0) = (live.replies.all.size, live.replies.routeMs.size)
      val drained = mutable.ArrayBuffer.empty[(Long, Long, Double)] // first offset, nanoTime, seconds
      while (next < MaxWaves && (drained.isEmpty || (System.nanoTime() - start) / 1e9 < budget)) {
        val from = live.topic.end
        val (t0, secs) = live.drain(Wave)
        drained += ((from, t0, secs))
        next += 1
      }
      val w1 = ctx.tracer.now
      ctx.tracer.on = false
      probe.foreach(_.detach())
      // latency: from the wave's publication to the reply at the sink
      val lat = live.replies.all.drop(r0).flatMap { case (t, vs) =>
        val t0 = drained.map(_._2).filter(_ <= t).max
        Seq.fill(vs.length)((t - t0) / 1e6)
      }
      val e2e = latencyMetrics(lat) ++ Map(
        "ops_per_s" -> Stats.median(drained.map(d => Wave / d._3)),
        "setup_s" -> setup)
      val layers = probe.map { p =>
        val all = p.progresses.filter(_.numInputRows > 0)
        val fanout = all.filter(_.name == live.fanout.name)
        val state = all.filter(_.name == live.dedupe.name).flatMap(_.stateOperators.headOption)
        // queue wait: every message of a wave is due when the wave is published
        val waits = fanout.flatMap { pr =>
          val (a, b) = offsets(pr)
          val due = ctx.tracer.epochOf(drained.filter(_._1 <= a).map(_._2).max)
          Seq.fill((b - a).toInt)(Instant.parse(pr.timestamp).toEpochMilli - due)
        }
        layerMetrics(ctx, p, fanout, live.replies.routeMs.drop(route0),
          live.replies.sinkMs.drop(route0), lat.size.toDouble, w0, w1) ++ Map(
          "streaming.queue_wait_ms_p50" -> Stats.median(waits),
          "state.rows_total" -> state.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
          "state.memory_mb" -> state.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max) / (1024 * 1024),
          "state.commit_ms_p50" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
          "latency.samples" -> lat.size.toDouble)
      }.getOrElse(Map.empty)
      (e2e, layers)
    }

    val (e2e, layers) =
      if (!ctx.trace) measure(ctx.seconds, None)
      else {
        // traced run: the first half of the window untraced, the second traced
        val (plain, _) = measure(ctx.seconds / 2.0, None)
        val (traced, layers) = measure(ctx.seconds / 2.0, Some(new Probe(ctx.spark, ctx.cores)))
        (traced, layers ++ overhead(plain, traced))
      }
    live.stop()
    val single = if (ctx.trace) {
      // one wave on one core: the single-threaded baseline
      val one = new Consumers(ctx.withCores(1), "replay-1core", warm(SetupRounds) ++ wave(0))
      one.drain(TriggerSize)
      Map("replay.single_core_msgs_per_s" -> Wave / one.drain(Wave)._2)
    } else Map.empty[String, Double]
    Outcome(attempted, failed, e2e, layers ++ single)
  }

  // ---------------------------------------------------------------- shared

  /** Start and end offsets of a fanout or dedupe trigger. */
  private def offsets(pr: StreamingQueryProgress): (Long, Long) = {
    val s = pr.sources.head
    def n(json: String): Long = Option(json).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
    (n(s.startOffset), n(s.endOffset))
  }

  /** Latency percentiles and geometric mean, in ms. */
  def latencyMetrics(lat: Seq[Double]): Map[String, Double] = Map(
    "latency_p50_ms" -> Stats.median(lat),
    "latency_p99_ms" -> Stats.percentile(lat, 99),
    "latency_geomean_ms" -> Stats.geomean(lat.map(math.max(_, 1e-3))))

  /** Traced e2e minus untraced e2e, for the metrics a window measures. */
  def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    Seq("latency_p50_ms", "latency_p99_ms", "latency_geomean_ms", "ops_per_s").map { k =>
      s"trace.overhead.$k" -> (traced(k) - plain(k))
    }.toMap

  /** Streaming, fanout, Spark and span metrics of one traced window. */
  private def layerMetrics(ctx: Ctx, p: Probe, progress: Seq[StreamingQueryProgress],
      routeMs: Seq[Double], sinkMs: Seq[Double], replies: Double, w0: Double, w1: Double)
      : Map[String, Double] = {
    def dur(k: String) = Stats.median(progress.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    val rows = progress.map(_.numInputRows.toDouble)
    val triggers = progress.map { pr =>
      val start = Instant.parse(pr.timestamp).toEpochMilli.toDouble
      Span(s"trigger-${pr.name}-${pr.batchId}", "trigger", "workload", start,
        start + pr.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    }
    Workload.recordSpans(ctx, p, w0, w1, triggers)
    p.totals(w1 - w0) ++ Map(
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.addBatch_ms_p50" -> dur("addBatch"),
      "streaming.walCommit_ms_p50" -> dur("walCommit"),
      "streaming.commitOffsets_ms_p50" -> dur("commitOffsets"),
      "streaming.queryPlanning_ms_p50" -> dur("queryPlanning"),
      "streaming.latestOffset_ms_p50" -> dur("latestOffset"),
      "streaming.rows_per_trigger_mean" -> Stats.mean(rows),
      "streaming.triggers" -> progress.size.toDouble,
      "fanout.route_ms_p50" -> Stats.median(routeMs),
      "fanout.sink_ms_p50" -> Stats.median(sinkMs),
      "fanout.useful_parse_ratio" -> (if (rows.sum > 0) replies / (rows.sum * Mix.Rivers) else 0.0))
  }
}
