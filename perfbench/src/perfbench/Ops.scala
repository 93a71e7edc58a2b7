package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

/** Heavy registered queries, one at a time, over the fixture tables kept
  * with the benchmark; measured layer by layer in the traced run of
  * rapid_steady. One query per open performance item: s10 (the IVF-PQ
  * lookup table and rerank pushdown, served from an index trained once per
  * process), q38 (the blame rewrite), d21 (checkpointed shingle joins) and
  * t58 (batch serving).
  */
object Ops {

  val Queries: Seq[String] = Seq("s10_ann_recall", "q38_blame_supplier", "d21_ppjoin",
    "t58_cooc_served")
  /** Untimed passes before the clock starts: a query's second execution is
    * still markedly slower than its third (JIT), so one pass is not enough.
    */
  val WarmPasses = 2
  val TimedPasses = 2
  val DataDir = "data/sf0.01"
  val ExpectedFile = "expected/ops_heavy.tsv"

  /** `name -> (rows, sha256)` from the expected file: tab-separated, `#`
    * starts a comment.
    */
  def expected(bench: Path): Map[String, (Long, String)] =
    Files.readAllLines(bench.resolve(ExpectedFile), StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, sha) = l.split("\t")
        name -> (rows.toLong, sha)
      }.toMap

  /** Row count and SHA-256 of collected rows: schema, then one rendered row
    * per line, in the order the query emits them.
    */
  def digest(schema: String, rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update((schema + "\n").getBytes(StandardCharsets.UTF_8))
    rows.foreach(r => md.update((render(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def render(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Runs query `name`: (wall seconds of building and collecting it, its
    * digest). The digest is taken after the clock stops.
    */
  def timed(ctx: Ctx, name: String): (Double, (Long, String)) = {
    val dir = ctx.bench.resolve(DataDir).toString
    val t0 = System.nanoTime()
    val df: DataFrame = graft.SparkEntry.queries(name)(ctx.spark, dir)
    val rows = df.collect()
    val s = (System.nanoTime() - t0) / 1e9
    (s, digest(df.schema.simpleString, rows))
  }

  /** The query section of a traced run: [[WarmPasses]] untimed passes,
    * then [[TimedPasses]] passes with the listeners attached. Returns the
    * `query.<name>.*` metrics (medians over the timed passes), executions
    * attempted and executions failed.
    */
  def traced(ctx: Ctx): (Map[String, Double], Long, Long) = {
    val want = expected(ctx.bench)
    require(Queries.forall(want.contains), s"expected file lacks one of ${Queries.mkString(", ")}")
    var attempted = 0L
    var failed = 0L

    /** One execution; None when it threw or its result is wrong. */
    def run(name: String, span: String): Option[Double] = {
      attempted += 1
      try {
        val (s, got) = Probe.under(ctx.spark, span)(timed(ctx, name))
        if (got == want(name)) Some(s)
        else {
          System.err.println(s"[perfbench] $name: got ${got._1} rows ${got._2}, want ${want(name)}")
          failed += 1; None
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += 1; None
      }
    }

    for (p <- 1 to WarmPasses; q <- Queries) run(q, s"warm-$q-$p")
    val probe = new Probe(ctx.spark, ctx.cores)
    probe.attach()
    val tr = ctx.tracer
    val samples = for (pass <- 1 to TimedPasses; q <- new scala.util.Random(ctx.seed * 31 + pass).shuffle(Queries)) yield {
      val id = s"query-$q-$pass"
      val t0 = tr.now
      run(q, id).map(s => (q, s, Span(id, "query", "", t0, tr.now)))
    }
    probe.detach()
    val ok = samples.flatten
    ok.foreach(x => tr.add(x._3))
    probe.spans("").foreach(tr.add)
    val metrics = ok.groupBy(_._1).toSeq.flatMap { case (name, ss) =>
      val under = ss.map { case (_, _, sp) => probe.under(sp.id, sp.start, sp.end) }
      Seq(
        s"query.$name.wall_s" -> Stats.median(ss.map(_._2)),
        s"query.$name.jobs" -> Stats.median(under.map(_._1.toDouble)),
        s"query.$name.executor_cpu_s" -> Stats.median(under.map(_._2)),
        s"query.$name.driver_only_s" -> Stats.median(under.map(_._3)))
    }.toMap
    (metrics, attempted, failed)
  }
}

/** Writes the expected-file lines for [[Ops.Queries]]:
  * `perfbench.OpsExpected <dataDir> <dumpDir> <workDir>`. `dumpDir` holds
  * one parquet dump per query from `graft.tools.VerifyOne`, already checked
  * against the DuckDB oracle; each line records the dump's digest after
  * checking that a live run of the query digests the same.
  */
object OpsExpected {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, work) = args
    val spark = Main.session(math.max(1, Runtime.getRuntime.availableProcessors()),
      java.nio.file.Paths.get(work))
    val lines = Ops.Queries.map { q =>
      val saved = spark.read.parquet(s"$dump/$q")
      val want = Ops.digest(saved.schema.simpleString, saved.collect())
      val live = graft.SparkEntry.queries(q)(spark, data)
      val got = Ops.digest(live.schema.simpleString, live.collect())
      require(got == want, s"$q: live run digests $got, the oracle-checked dump $want")
      s"$q\t${want._1}\t${want._2}"
    }
    spark.stop()
    println(lines.mkString("\n"))
  }
}
