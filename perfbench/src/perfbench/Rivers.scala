package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.messages.{River, Routed, Validation}
import graft.messages.Validation._
import graft.streaming.Fanout

/** The benchmark's rivers: river `i` answers need `Mix.Behov(i)`.
  *
  * Rivers 0-5 declare flat keys only, so [[River.attach]] takes its
  * schema-pruned fast path. River 6 reads the dotted key
  * `@løsning.<behov>` and river 7 has a message-level `predicate`; both
  * take the whole-document variant path.
  */
object Rivers {

  private val IntegralTypes = Seq("TINYINT", "SMALLINT", "INT", "BIGINT")

  def river(i: Int): River = {
    val need = Mix.Behov(i)
    val pre = River().precondition(requireValue("@event_name", "behov"), requireAll("@behov", Seq(need)))
    i match {
      case Mix.LosningRiver =>
        pre.precondition(requireKey(s"@løsning.$need"))
          .validate(requireKey("@id"), requireKey("fødselsnummer"),
            requireValue("versjon", 2), requireKey(s"@løsning.$need.beløp"))
      case 7 =>
        pre.validate(requireKey("@id"), requireKey("fødselsnummer"), requireKey("beløp"),
          Validation.predicate("versjon er heltallet 2", { m =>
            val v = try_variant_get(m, "$.versjon", "variant")
            schema_of_variant(v).isin(IntegralTypes: _*) && try_variant_get(v, "$", "int") === 2
          }))
      case _ =>
        pre.precondition(forbid("@løsning"))
          .validate(requireKey("@id"), requireKey("@opprettet"), requireKey("fødselsnummer"),
            requireValue("versjon", 2), requireKey("beløp"),
            interestedIn("system_participating_services"))
    }
  }

  /** River `i`'s reply to each message it passes, keyed like its input; the
    * rendering [[Mix.replyJson]] expects.
    */
  def flow(i: Int)(r: Routed): DataFrame = {
    val need = Mix.Behov(i)
    val amount: Column =
      if (i == Mix.LosningRiver) r.packetAs(s"@løsning.$need.beløp", "bigint")
      else r.packetAs("beløp", "bigint")
    r.passed.select(col("key"), to_json(struct(
      lit("løsning").as("@event_name"),
      r.packetAs("@id", "string").as("@id"),
      lit(s"river-$i").as("river"),
      struct(struct(
        r.packetAs("fødselsnummer", "string").as("fødselsnummer"),
        amount.as("beløp")).as(need)).as("@løsning"))).as("value"))
  }

  /** All fanout registrations, in river order. */
  def all: Seq[Fanout.Registration] =
    (0 until Mix.Rivers).map(i => Fanout.Registration(river(i), flow(i), s"river-$i"))

  /** The stateful river of the replay workload: every parseable envelope
    * with an `@id` and an `@opprettet`, deduplicated on both by
    * [[graft.streaming.Dedupe.byId]] in its own streaming query.
    */
  def dedupe(stream: DataFrame): DataFrame = {
    val routed = River().validate(requireKey("@id"), requireKey("@opprettet"))
      .attach(stream, col("value"))
    graft.streaming.Dedupe.byId(
      routed.passed.select(
        routed.packetAs("@id", "string").as("id"),
        to_timestamp(routed.packetAs("@opprettet", "string")).as("ts")),
      "id", "ts")
  }
}
