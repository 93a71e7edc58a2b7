package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload needs: the session, the run's options, where it may
  * write (`work`) and the benchmark's own directory (`bench`).
  * `setupBase_s` is the time from JVM start until the session was up.
  */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Int, trace: Boolean,
    work: Path, bench: Path, tracer: Tracer, setupBase_s: Double) {

  /** A fresh session on `n` cores, replacing this context's (stopped) one. */
  def withCores(n: Int): Ctx = {
    spark.stop()
    copy(spark = Main.session(n, work), cores = n)
  }
}

/** A workload's result: operations attempted and failed, end-to-end metrics
  * and, in a traced run, per-layer metrics.
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double])

/** One benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --bench DIR --trace-out FILE`.
  * Prints one `PERFBENCH_RESULT {...}` line on stdout.
  */
object Main {

  val Workloads: Seq[String] = Seq("rapid_steady", "rapid_replay")

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    graft.GraftSession.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s.listenerManager.register(Probe.PhaseForwarder)
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cores = math.max(1, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer
    val spark = session(cores, work)
    val ctx = Ctx(spark, cores, opt("seed").toLong, opt("seconds").toInt, trace, work,
      Paths.get(opt("bench")), tracer, (System.currentTimeMillis() - jvmStart) / 1000)

    val out = if (workload == "rapid_steady") Rapid.steady(ctx) else Rapid.replay(ctx)
    val rss = peakRssMb()
    val e2e = out.e2e + ("peak_rss_mb" -> rss)
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val got = out.layers ++ Workload.selfTimes(tracer.all) + ("load.avg_start" -> loadStart)
        val unknown = got.keySet -- Workload.LayerMetrics
        require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(", ")}")
        Workload.LayerMetrics.map(k => k -> got.getOrElse(k, 0.0)).toMap
      }
    if (trace) {
      val path = Paths.get(opt("trace-out"))
      tracer.write(path)
      System.err.println(s"[perfbench] spans written to $path")
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)}}""")
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
