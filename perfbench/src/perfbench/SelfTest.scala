package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.streaming.Fanout

/** The benchmark's own tests: `perfbench.SelfTest <workDir>`. Prints one
  * line per check and exits 1 if any fails.
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"     $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += name
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  // A tiny hand-checked mix: one message per kind, with the replies and
  // per-river statuses worked out by hand from the river definitions.
  private val ts = "\"@opprettet\":\"2024-03-01T08:00:00.000000\""
  private val hand: Seq[(Mix.Msg, Option[String])] = Seq(
    Mix.Msg("k1", s"""{"@event_name":"behov","@id":"a",$ts,"@behov":["Foreldrepenger"],"fødselsnummer":"11111111111","versjon":2,"beløp":5000}""",
      "a", "11111111111", 5000, Mix.Pass(2)) ->
      Some("""{"@event_name":"løsning","@id":"a","river":"river-2","@løsning":{"Foreldrepenger":{"fødselsnummer":"11111111111","beløp":5000}}}"""),
    Mix.Msg("k2", s"""{"@event_name":"behov","@id":"b",$ts,"@behov":["Vilkårsgrunnlag","Ekstra"],"fødselsnummer":"22222222222","versjon":2,"beløp":1,"@løsning":{"Vilkårsgrunnlag":{"beløp":777}}}""",
      "b", "22222222222", 777, Mix.Pass(6)) ->
      Some("""{"@event_name":"løsning","@id":"b","river":"river-6","@løsning":{"Vilkårsgrunnlag":{"fødselsnummer":"22222222222","beløp":777}}}"""),
    Mix.Msg("k3", s"""{"@event_name":"behov","@id":"c",$ts,"@behov":["Utbetaling"],"fødselsnummer":"33333333333","versjon":2,"beløp":42}""",
      "c", "33333333333", 42, Mix.Pass(7)) ->
      Some("""{"@event_name":"løsning","@id":"c","river":"river-7","@løsning":{"Utbetaling":{"fødselsnummer":"33333333333","beløp":42}}}"""),
    Mix.Msg("k4", s"""{"@event_name":"melding","@id":"d",$ts,"@behov":["Inntekt"],"fødselsnummer":"4","versjon":2,"beløp":1}""",
      "d", "4", 1, Mix.PreFail) -> None,
    Mix.Msg("k5", s"""{"@event_name":"behov","@id":"e",$ts,"@behov":["Inntekt"],"fødselsnummer":"5","versjon":"2","beløp":1}""",
      "e", "5", 1, Mix.ValFail(0, wrongType = true)) -> None,
    Mix.Msg("k6", s"""{"@event_name":"behov","@id":"f",$ts,"@behov":["Utbetaling"],"versjon":2,"beløp":1}""",
      "f", "6", 1, Mix.ValFail(7, wrongType = false)) -> None,
    Mix.Msg("k7", "[1,2]", null, "7", 0, Mix.Garbled(false)) -> None,
    Mix.Msg("k8", """{"@event_name":"behov","@id":"h""", null, "8", 0, Mix.Garbled(true)) -> None,
    Mix.Msg("k9", null, null, "9", 0, Mix.Tombstone) -> None)

  /** Hand count of statuses over the 8 rivers: 8 routed messages x 8 rivers. */
  private val handCounts = Map(Mix.Passed -> 3L, Mix.ValidationFailed -> 2L,
    Mix.Unparseable -> 16L, Mix.PreconditionFailed -> 43L)

  private def pure(): Unit = {
    val a = Mix.generate(7, 3000, redeliveryShare = 0.1)
    val b = Mix.generate(7, 3000, redeliveryShare = 0.1)
    check("one seed gives byte-identical messages")(a.map(m => s"${m.key}\u0000${m.value}") == b.map(m => s"${m.key}\u0000${m.value}"))
    check("another seed gives other messages")(Mix.generate(8, 50).map(_.value) != a.take(50).map(_.value))
    val fresh = Mix.generate(9, 20000)
    def share(p: Mix.Kind => Boolean) = fresh.count(m => p(m.kind)).toDouble / fresh.size
    check("kind shares are 70/10/10/5/5")(
      math.abs(share(_.isInstanceOf[Mix.Pass]) - 0.70) < 0.02 &&
        math.abs(share(_ == Mix.PreFail) - 0.10) < 0.01 &&
        math.abs(share(_.isInstanceOf[Mix.ValFail]) - 0.10) < 0.01 &&
        math.abs(share(_.isInstanceOf[Mix.Garbled]) - 0.05) < 0.01 &&
        math.abs(share(_ == Mix.Tombstone) - 0.05) < 0.01)
    val sizes = fresh.filter(_.id != null).map(_.value.getBytes("UTF-8").length)
    check("envelopes are 0.3-2 KB")(sizes.min >= 300 && sizes.max <= 2048)
    check("redeliveries repeat earlier records verbatim")(
      a.count(_.id != null) > a.filter(_.id != null).map(_.id).distinct.size &&
        a.filter(_.id != null).groupBy(_.id).values.forall(_.map(_.value).distinct.size == 1))

    check("median")(close(Stats.median(Seq(4.0, 1, 3, 2)), 2.5) && close(Stats.median(Seq(3.0, 1, 2)), 2))
    check("nearest-rank percentile")(
      close(Stats.percentile((1 to 100).map(_.toDouble), 99), 99) &&
        close(Stats.percentile((1 to 10).map(_.toDouble), 99), 10) &&
        close(Stats.percentile(Seq(5.0), 50), 5) && close(Stats.percentile(Nil, 99), 0))
    check("geometric mean")(close(Stats.geomean(Seq(1.0, 100)), 10))
    check("union length counts overlaps once")(
      close(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (3.0, 3.0))), 20))
    val spans = Seq(Span("r", "workload", "", 0, 100), Span("a", "trigger", "r", 10, 30),
      Span("b", "trigger", "r", 20, 50), Span("c", "trigger", "r", 90, 120),
      Span("d", "job", "a", 15, 25))
    val self = Trace.selfTimes(spans)
    check("self time subtracts the clipped union of children")(
      close(self("r"), 50) && close(self("a"), 10) && close(self("b"), 30) &&
        close(self("c"), 30) && close(self("d"), 10))
    check("self time per name, in seconds")(
      close(Trace.selfSecondsByName(spans)("trigger"), 0.07))

    check("oracle: hand-checked replies")(hand.forall { case (m, r) => Mix.reply(m) == r })
    check("oracle: hand-checked statuses")(
      hand.flatMap { case (m, _) => Mix.statuses(m).toSeq.flatten }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap == handCounts)
    check("reply ids parse")(Mix.replyId(hand.head._2.get) == "a" && Mix.replyId("{}") == null)
  }

  private def withSpark(work: String): Unit = {
    val spark = Main.session(2, Paths.get(work))
    import spark.implicits._
    def routeAll(msgs: Seq[Mix.Msg]): (Seq[String], Map[String, Long]) = {
      val df = msgs.map(m => (m.key, m.value)).toDF("key", "value")
      var replies = Seq.empty[String]
      Fanout.routeBatchUnioned(df.filter(col("value").isNotNull), Rivers.all) { r =>
        replies = r.collect().map(_.getString(1)).toSeq
      }
      val counts = (0 until Mix.Rivers)
        .map(i => Rivers.river(i).attach(df, col("value")).all.groupBy("status").count())
        .reduce(_ unionAll _).collect()
        .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
      (replies, counts)
    }
    val (replies, counts) = routeAll(hand.map(_._1))
    check("rivers reply exactly as hand-checked")(replies.sorted == hand.flatMap(_._2).sorted)
    check("rivers route exactly as hand-checked")(counts == handCounts)

    val mix = Mix.generate(11, 800, redeliveryShare = 0.1)
    val (got, mixCounts) = routeAll(mix)
    check("rivers agree with the oracle on a generated mix")(Rapid.replyFailures(mix, got) == 0)
    val want = mix.flatMap(Mix.statuses).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    check("status counts agree with the oracle on a generated mix")(mixCounts == want)
    val ids = Rivers.dedupe(mix.map(m => (m.key, m.value)).toDF("key", "value"))
      .select("id").collect().map(_.getString(0)).toSeq
    check("dedupe keeps each id once")(Rapid.dedupeFailures(mix, ids) == 0)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    pure()
    withSpark(args(0))
    if (failures.nonEmpty) {
      println(s"${failures.size} failed")
      sys.exit(1)
    }
    println("all passed")
  }
}
