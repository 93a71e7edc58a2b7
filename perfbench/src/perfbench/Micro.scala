package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Microbenchmark of [[graft.messages.River.attach]] over a cached batch:
  * driver time to build and plan the routed frames, and executor CPU per
  * message per river, for 1 river, 8 rivers, the 6 fast-path rivers and
  * the 2 variant-path rivers. Each measured action is a status count per
  * river, so it also checks the exact routing outcome against the oracle.
  */
object Micro {

  val Messages = 20000
  private val Repeats = 3

  /** The per-layer `messages.*` metrics and the number of status counts
    * that differ from the oracle.
    */
  def attachSweep(ctx: Ctx): (Map[String, Double], Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val msgs = Mix.generate(ctx.seed * 1000003L + 99, Messages)
    val batch = msgs.map(m => (m.key, m.value)).toDF("key", "value")
      .repartition(ctx.cores).cache()
    batch.count()
    val rows = msgs.count(_.value != null).toDouble

    def routed(ids: Seq[Int]): Seq[DataFrame] = ids.map(i => Rivers.river(i).attach(batch, col("value")).all)

    /** Median driver ms to attach and plan every river in `ids`. */
    def attachMs(ids: Seq[Int]): Double = Stats.median((0 until Repeats).map { _ =>
      val t0 = System.nanoTime()
      routed(ids).foreach(_.queryExecution.executedPlan)
      (System.nanoTime() - t0) / 1e6
    })

    /** Median executor CPU seconds of one status count over `ids`, and the
      * counts per status summed over the rivers.
      */
    def cpu(ids: Seq[Int]): (Double, Map[String, Long]) = {
      val runs = (0 until Repeats).map { _ =>
        val p = new Probe(spark, ctx.cores)
        p.attach()
        val counts = routed(ids).map(_.groupBy("status").count()).reduce(_ unionAll _).collect()
        p.detach()
        (p.cpuSeconds, counts.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _))
      }
      (Stats.median(runs.map(_._1)), runs.head._2)
    }

    val all = 0 until Mix.Rivers
    val (r1, _) = cpu(Seq(0))
    val (r8, counts) = cpu(all)
    val (fast, _) = cpu(0 until Mix.LosningRiver)
    val (variant, _) = cpu(Mix.LosningRiver until Mix.Rivers)
    val r8Attach = attachMs(all)
    batch.unpersist()

    val expected = msgs.flatMap(Mix.statuses).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mismatches = Mix.Statuses.map(s => math.abs(counts.getOrElse(s, 0L) - expected.getOrElse(s, 0L))).sum
    val us = 1e6 / rows
    (Map(
      "messages.fast_us_per_msg_river" -> fast * us / Mix.LosningRiver,
      "messages.variant_us_per_msg_river" -> variant * us / (Mix.Rivers - Mix.LosningRiver),
      "messages.r1_cpu_us_per_msg" -> r1 * us,
      "messages.r8_cpu_us_per_msg" -> r8 * us,
      "messages.r1_attach_ms" -> attachMs(Seq(0)),
      "messages.r8_attach_ms" -> r8Attach,
      "messages.attach_ms_per_river" -> r8Attach / Mix.Rivers) ++
      Mix.Statuses.map(s => s"messages.$s" -> counts.getOrElse(s, 0L).toDouble),
      mismatches)
  }
}
