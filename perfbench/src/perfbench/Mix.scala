package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Deterministic rapid traffic and its expected outcome.
  *
  * Messages are reference-shaped envelopes (`@id`, `@opprettet`, `@behov`,
  * `system_participating_services`, `@forårsaket_av`, unicode keys such as
  * `@løsning`) of roughly 0.3-2 KB. Every message carries its kind, so the
  * expected status in each river and the exact reply are known without
  * running the program. Pure Scala, no Spark: the same seed gives
  * byte-identical messages.
  *
  * Kind shares: 70% pass exactly one river, 10% fail the precondition in
  * every river, 10% fail validation in one river (wrong JSON type or a
  * missing key), 5% are unparseable (truncated JSON or a non-object root)
  * and 5% are tombstones (null value).
  */
object Mix {

  /** The need (`@behov`) river `i` answers. */
  val Behov: Vector[String] = Vector("Inntekt", "Sykepengehistorikk",
    "Foreldrepenger", "Arbeidsforhold", "Medlemskap", "Dagpenger",
    "Vilkårsgrunnlag", "Utbetaling")
  val Rivers: Int = Behov.size
  /** River 6 reads the dotted key `@løsning.<behov>`: only its messages
    * carry `@løsning`.
    */
  val LosningRiver = 6

  val Passed = "passed"
  val PreconditionFailed = "precondition_failed"
  val ValidationFailed = "validation_failed"
  val Unparseable = "unparseable"
  val Statuses: Seq[String] = Seq(Passed, PreconditionFailed, ValidationFailed, Unparseable)

  sealed trait Kind
  final case class Pass(river: Int) extends Kind
  case object PreFail extends Kind
  /** `wrongType`: `versjon` is the string "2" instead of the number 2;
    * otherwise `fødselsnummer` is missing.
    */
  final case class ValFail(river: Int, wrongType: Boolean) extends Kind
  final case class Garbled(truncated: Boolean) extends Kind
  case object Tombstone extends Kind

  /** One record on the rapid. `value` is null for a tombstone; `id` is null
    * when the value is not a parseable envelope. `amount` is the `beløp` a
    * reply to this message must carry.
    */
  final case class Msg(key: String, value: String, id: String, fnr: String,
      amount: Long, kind: Kind)

  private val Base = LocalDateTime.of(2024, 3, 1, 8, 0)
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Logical spacing of consecutive messages: `@opprettet` advances by it,
    * and the open loop sends one message per interval (500 msg/s).
    */
  val SendIntervalNs: Long = 2000000L

  /** `@opprettet` of the message at logical position `i`, which is also its
    * scheduled send offset in the open loop.
    */
  def opprettet(i: Long): String = Base.plusNanos(i * SendIntervalNs).format(TsFormat)

  /** `n` messages from `seed`, positions `first` until `first + n`. With
    * `redeliveryShare` > 0 that share of positions repeats an earlier record
    * of the same log verbatim (same key, `@id` and `@opprettet`), as a
    * consumer sees after an at-least-once redelivery.
    */
  def generate(seed: Long, n: Int, first: Long = 0L,
      redeliveryShare: Double = 0.0): Vector[Msg] = {
    val rng = new SplittableRandom(seed)
    val out = Vector.newBuilder[Msg]
    val recent = new Array[Msg](2048)
    var made = 0
    for (j <- 0 until n) {
      val m =
        if (made > 0 && rng.nextDouble() < redeliveryShare)
          recent(((made - 1 - rng.nextInt(math.min(made, recent.length))) % recent.length))
        else {
          val fresh = message(rng, first + j)
          recent(made % recent.length) = fresh
          made += 1
          fresh
        }
      out += m
    }
    out.result()
  }

  private def uuid(rng: SplittableRandom): String =
    new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  private def digits(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb.append(('0' + rng.nextInt(10)).toChar)
    sb.toString
  }

  private def kind(rng: SplittableRandom): Kind = {
    val u = rng.nextInt(100)
    if (u < 70) Pass(rng.nextInt(Rivers))
    else if (u < 80) PreFail
    else if (u < 90) ValFail(rng.nextInt(Rivers), rng.nextBoolean())
    else if (u < 95) Garbled(rng.nextBoolean())
    else Tombstone
  }

  private def message(rng: SplittableRandom, pos: Long): Msg = {
    val k = kind(rng)
    val fnr = digits(rng, 11)
    k match {
      case Tombstone => Msg(fnr, null, null, fnr, 0L, k)
      case Garbled(false) =>
        val roots = Array("[]", "[1,2,3]", "\"behov\"", "42", "true")
        Msg(fnr, roots(rng.nextInt(roots.length)), null, fnr, 0L, k)
      case _ =>
        val id = uuid(rng)
        val amount = 1000L + rng.nextInt(90000)
        val body = envelope(rng, k, id, pos, fnr, amount)
        k match {
          case Garbled(true) =>
            // any proper prefix of a JSON object is invalid: the closing
            // brace is always cut
            Msg(fnr, body.substring(0, 1 + rng.nextInt(body.length - 1)), null, fnr, 0L, k)
          case _ => Msg(fnr, body, id, fnr, amount, k)
        }
    }
  }

  private def q(s: String): String = "\"" + s + "\""

  private def envelope(rng: SplittableRandom, k: Kind, id: String, pos: Long,
      fnr: String, amount: Long): String = {
    val target = k match {
      case Pass(r) => r
      case ValFail(r, _) => r
      case _ => rng.nextInt(Rivers)
    }
    val preFail = k == PreFail
    val eventName = if (preFail && rng.nextBoolean()) "melding" else "behov"
    val behov =
      if (preFail && eventName == "behov") Seq("Ukjent")
      else if (rng.nextInt(10) < 3) Seq(Behov(target), "Ekstra")
      else Seq(Behov(target))
    val ts = opprettet(pos)
    val wrongType = k match { case ValFail(_, w) => w; case _ => false }
    val dropFnr = k match { case ValFail(_, w) => !w; case _ => false }
    val losning = !preFail && target == LosningRiver
    val sb = new StringBuilder(2048)
    sb.append("{\"@event_name\":").append(q(eventName))
    sb.append(",\"@id\":").append(q(id))
    sb.append(",\"@opprettet\":").append(q(ts))
    sb.append(",\"@behov\":").append(behov.map(q).mkString("[", ",", "]"))
    if (!dropFnr) sb.append(",\"fødselsnummer\":").append(q(fnr))
    sb.append(",\"versjon\":").append(if (wrongType) "\"2\"" else "2")
    // river 6 must read its amount from @løsning, not the top level
    sb.append(",\"beløp\":").append(if (losning) amount + 7 else amount)
    if (losning)
      sb.append(",\"@løsning\":{").append(q(Behov(LosningRiver)))
        .append(":{\"beløp\":").append(amount).append(",\"kilde\":\"register\"}}")
    sb.append(",\"system_read_count\":0,\"system_participating_services\":[")
    val services = 1 + rng.nextInt(6)
    for (s <- 0 until services) {
      if (s > 0) sb.append(',')
      val svc = s"tjeneste-${rng.nextInt(40)}"
      sb.append("{\"id\":").append(q(uuid(rng)))
        .append(",\"time\":").append(q(ts))
        .append(",\"service\":").append(q(svc))
        .append(",\"instance\":").append(q(s"$svc-${digits(rng, 8)}"))
        .append(",\"image\":").append(q(s"ghcr.io/navikt/$svc:2024.03.${rng.nextInt(28) + 1}"))
        .append('}')
    }
    sb.append("],\"@forårsaket_av\":{\"id\":").append(q(uuid(rng)))
      .append(",\"opprettet\":").append(q(ts))
      .append(",\"event_name\":\"behov\",\"behov\":").append(behov.map(q).mkString("[", ",", "]"))
      .append("},\"perioder\":[")
    val periods = rng.nextInt(9)
    for (p <- 0 until periods) {
      if (p > 0) sb.append(',')
      val month = 1 + p % 12
      sb.append(f"""{"fom":"2023-$month%02d-01","tom":"2023-$month%02d-28","grad":${rng.nextInt(101)}}""")
    }
    sb.append("]}")
    sb.toString
  }

  /** Expected status of `m` in each river; None for a tombstone, which no
    * river sees.
    */
  def statuses(m: Msg): Option[Vector[String]] = m.kind match {
    case Tombstone => None
    case Garbled(_) => Some(Vector.fill(Rivers)(Unparseable))
    case PreFail => Some(Vector.fill(Rivers)(PreconditionFailed))
    case Pass(r) => Some(Vector.tabulate(Rivers)(i => if (i == r) Passed else PreconditionFailed))
    case ValFail(r, _) =>
      Some(Vector.tabulate(Rivers)(i => if (i == r) ValidationFailed else PreconditionFailed))
  }

  /** The reply river `river` publishes for a message it passes, exactly as
    * the river's flow renders it.
    */
  def replyJson(river: Int, id: String, fnr: String, amount: Long): String =
    s"""{"@event_name":"løsning","@id":"$id","river":"river-$river",""" +
      s""""@løsning":{"${Behov(river)}":{"fødselsnummer":"$fnr","beløp":$amount}}}"""

  /** The one reply `m` gets, if it passes a river. */
  def reply(m: Msg): Option[String] = m.kind match {
    case Pass(r) => Some(replyJson(r, m.id, m.fnr, m.amount))
    case _ => None
  }

  /** `@id` of a reply rendered by [[replyJson]]; null if absent. */
  def replyId(reply: String): String = {
    val tag = "\"@id\":\""
    val at = reply.indexOf(tag)
    if (at < 0) null
    else {
      val end = reply.indexOf('"', at + tag.length)
      if (end < 0) null else reply.substring(at + tag.length, end)
    }
  }
}
