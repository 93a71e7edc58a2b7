package graft.messages

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property tests for the predicate compiler — the upgrade the reference's
  * test suite lacks (SURVEY §5): for randomized JSON messages, the compiled
  * Catalyst predicates must agree with a direct Scala evaluation of the
  * documented semantics. Generators are driven with fixed seeds (no
  * scalatestplus bridge in the offline cache) and each round evaluates a
  * whole generated batch in one Spark job.
  */
class ValidationPropertySpec extends AnyFunSuite {

  sealed trait JVal { def render: String }
  case object JNull extends JVal { def render = "null" }
  case class JStr(s: String) extends JVal { def render = "\"" + s + "\"" }
  case class JNum(n: Int) extends JVal { def render = n.toString }
  case class JBool(b: Boolean) extends JVal { def render = b.toString }

  private val key = "k"
  private val genVal: Gen[Option[JVal]] = Gen.oneOf(
    Gen.const(None), // key absent
    Gen.const(Some(JNull)),
    Gen.oneOf("a", "b", "3", "").map(s => Some(JStr(s))),
    Gen.chooseNum(-5, 5).map(n => Some(JNum(n))),
    Gen.oneOf(true, false).map(b => Some(JBool(b))))

  private def render(v: Option[JVal]): String =
    v.map(x => s"""{"$key":${x.render},"other":1}""").getOrElse("""{"other":1}""")

  private def sample(seed: Long): List[Option[JVal]] =
    Gen.listOfN(40, genVal)(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail("generator produced no sample"))

  /** Evaluate a rule over many messages in ONE Spark job. */
  private def evalBatch(rule: Validation.Rule, msgs: Seq[String]): Seq[Boolean] = {
    val spark = TestSpark.spark
    import spark.implicits._
    msgs.zipWithIndex.toDF("value", "i")
      .select(col("i"), coalesce(rule(try_parse_json(col("value"))), lit(false)).as("r"))
      .orderBy(col("i")).collect().map(_.getBoolean(1)).toSeq
  }

  private def checkAgainst(rule: Validation.Rule, expected: Option[JVal] => Boolean): Unit =
    (1 to 4).foreach { round =>
      val vs = sample(42L + round)
      val got = evalBatch(rule, vs.map(render))
      val want = vs.map(expected)
      assert(got == want, s"round $round, values $vs")
    }

  test("requireKey passes iff present and non-null") {
    checkAgainst(Validation.requireKey(key), v => v.exists(_ != JNull))
  }

  test("forbid passes iff absent or null") {
    checkAgainst(Validation.forbid(key), v => !v.exists(_ != JNull))
  }

  test("requireValue(string) passes iff string-typed equal") {
    checkAgainst(Validation.requireValue(key, "a"), _.contains(JStr("a")))
    checkAgainst(Validation.requireValue(key, "3"), _.contains(JStr("3")))
  }

  test("requireValue(number) passes iff numeric equal — never for string digits") {
    checkAgainst(Validation.requireValue(key, 3.0), _.contains(JNum(3)))
  }

  test("requireAny passes iff string in set") {
    checkAgainst(Validation.requireAny(key, Seq("a", "3")),
      v => v.contains(JStr("a")) || v.contains(JStr("3")))
  }

  test("forbidValue passes unless exact typed match") {
    checkAgainst(Validation.forbidValue(key, "a"), v => !v.contains(JStr("a")))
    checkAgainst(Validation.forbidValue(key, value = true), v => !v.contains(JBool(true)))
  }

  test("interestedIn always passes") {
    checkAgainst(Validation.interestedIn(key), _ => true)
  }

  test("fast (struct) and variant river paths agree on every generated message x rule set") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rules = Seq(
      Validation.requireKey(key),
      Validation.requireValue(key, "a"),
      Validation.requireValue(key, 3.0),
      Validation.requireAny(key, Seq("a", "b")),
      Validation.forbid("never"),
      Validation.forbidValue(key, value = true),
      Validation.interestedIn("maybe"))
    (1 to 3).foreach { round =>
      val msgs = sample(7L * round).map(render) ++
        Seq("""[1]""", """3""", """not json""", """"s"""",
          s"""{'$key':'a'}""", // single quotes: strict-RFC-rejected on BOTH paths
          s"""{"$key":"a","_graft_corrupt":"spoof"}""") // corrupt-col data-key collision
      val df = msgs.zipWithIndex.toDF("value", "idx")
      def route(r: River) = {
        val routed = r.attach(df, col("value"))
        (routed, routed.all.select(col("idx"), col("status"),
            to_json(col("problems")).as("p"), routed.packetAs(key, "string").as("kv"))
          .orderBy(col("idx")).collect()
          .map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getString(3))).toSeq)
      }
      val (fr, fast) = route(River().validate(rules: _*))
      val (sr, slow) = route(River()
        .precondition(Validation.predicate("t", _ => lit(true))).validate(rules: _*))
      assert(fr.structMsg && !sr.structMsg)
      assert(fast == slow, s"round $round")
    }
  }

  test("each river routed off a shared parse equals its own attach, on both paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    // rivers with different key sets: rA and rL are subsets of the union
    // (their rows fall back to their own parse where the union parse
    // rejects), rU declares the whole union, rV and rD take the variant path
    import Validation._
    val rA = River().validate(requireKey("a"), requireValue("k", "a"))
    val rX = River().precondition(requireKey("a")).validate(interestedIn("x"))
    val rL = River().validate(requireKey("@løsning"), forbid("k"))
    val rU = River().validate(interestedIn("a"), interestedIn("k"), interestedIn("x"),
      requireKey("@løsning"))
    val rV = River().validate(requireKey("k"), predicate("t", _ => lit(true)))
    val rD = River().validate(requireKey("@løsning.Inntekt"), requireKey("a"))
    val fastOnly = Seq(rA, rX, rL, rU)
    assert(fastOnly.forall(_.fastKeys.isDefined) && Seq(rV, rD).forall(_.fastKeys.isEmpty))

    val genObj: Gen[Option[String]] = Gen.oneOf(genVal.map(_.map(_.render)),
      Gen.chooseNum(0, 9).map(n => Some(s"""{"Inntekt":{"beløp":$n}}""")),
      Gen.const(Some("""{"k":1}""")))
    val genMsg: Gen[String] = for {
      a <- genVal; k <- genVal; x <- genObj; l <- genObj
    } yield Seq("a" -> a.map(_.render), "k" -> k.map(_.render), "x" -> x, "@løsning" -> l)
      .collect { case (key, Some(v)) => s""""$key":$v""" }.mkString("{", ",", "}")
    val duplicate = """{"a":1,"x":{"k":1,"k":2}}""" // only rX and rU declare x
    val adversarial = Seq(duplicate,
      """{"a":1,"k":"a","_graft_corrupt":"spoof"}""",
      "[1]", "3", "\"s\"", "null", """{"a":1,"k":""", """{'a':1}""",
      """{"@løsning":{"Inntekt":{"beløp":1}},"a":1}""", null)
    (1 to 2).foreach { round =>
      val generated = Gen.listOfN(40, genMsg)(Gen.Parameters.default, Seed(31L * round))
        .getOrElse(fail("generator produced no sample"))
      val df = (generated ++ adversarial).zipWithIndex.toDF("value", "idx").repartition(3)
      def rows(r: Routed) = r.all
        .select(col("idx"), col("status"), to_json(col("problems")), to_json(col("msg")))
        .orderBy(col("idx")).collect()
        .map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getString(3))).toSeq
      Seq(fastOnly, fastOnly ++ Seq(rV, rD)).foreach { rivers =>
        val shared = River.SharedParse(rivers, "value")
        val parsed = shared(df).persist()
        try rivers.zipWithIndex.foreach { case (river, i) =>
          val own = river.attach(df, col("value"))
          val routed = river.route(parsed, shared)
          val tag = s"round $round, river $i of ${rivers.size}"
          assert(routed.all.columns.toSeq == own.all.columns.toSeq, tag)
          assert(routed.structMsg == own.structMsg, tag)
          assert(rows(routed) == rows(own), tag)
        } finally { parsed.unpersist(); () }
      }
      // the duplicate row is one the union parse rejects and rA's own
      // parse accepts: the fallback is what keeps rA's status
      val dup = generated.size
      def statusAt(r: River) = rows(r.attach(df, col("value"))).find(_._1 == dup).get._2
      assert(statusAt(rX) == "unparseable" && statusAt(rA) != "unparseable")
    }
  }

  test("nested requireArrayElements agrees with direct evaluation and across paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    // arrays of objects with optional "bar": nested requireKey("bar") passes
    // iff EVERY element carries a non-null bar (empty array passes)
    val genElem: Gen[Option[JVal]] = Gen.oneOf(
      Gen.const(None), Gen.const(Some(JNull)),
      Gen.oneOf("x", "y").map(s => Some(JStr(s))))
    val genArr: Gen[List[Option[JVal]]] = Gen.chooseNum(0, 4)
      .flatMap(n => Gen.listOfN(n, genElem))
    def renderArr(elems: List[Option[JVal]]): String =
      elems.map(e => e.map(v => s"""{"bar":${v.render}}""").getOrElse("{}"))
        .mkString("""{"foo":[""", ",", "]}")
    val rule = Validation.requireArrayElements("foo", Validation.requireKey("bar"))
    (1 to 3).foreach { round =>
      val arrs = Gen.listOfN(30, genArr)(Gen.Parameters.default, Seed(99L + round))
        .getOrElse(fail("generator produced no sample"))
      val msgs = arrs.map(renderArr)
      val want = arrs.map(_.forall(e => e.exists(_ != JNull)))
      assert(evalBatch(rule, msgs) == want, s"round $round")
      // and the composed problem text appears for each failing element, on
      // both compilation paths
      val df = msgs.zipWithIndex.toDF("value", "i")
      def problems(r: River) = r.attach(df, col("value"))
        .all.select(col("i"), col("problems.message")).orderBy(col("i"))
        .collect().map(_.getSeq[String](1).toSeq).toSeq
      val fast = problems(River().validate(rule))
      val variant = problems(River().validate(rule,
        Validation.predicate("always true", _ => lit(true))))
      assert(fast == variant, s"round $round path divergence")
      arrs.zip(fast).foreach { case (elems, probs) =>
        val expected = elems.zipWithIndex.collect {
          case (e, i) if !e.exists(_ != JNull) =>
            val reason = if (e.isEmpty) "Missing required key bar" else "Required key bar is null"
            s"Array element #$i at foo did not pass validation: %s $reason"
        }
        assert(probs == expected, s"round $round elems $elems")
      }
    }
  }

  test("infix `can` is the optional form: missing/null passes, present value must validate") {
    import Validation._
    // can be("a"): absent or JSON-null fine; present must be the string "a"
    checkAgainst(key can be("a"), {
      case None | Some(JNull) => true
      case Some(JStr("a"))    => true
      case _                  => false
    })
    // can exist: always passes (registers the key, validates nothing)
    checkAgainst(key can exist, _ => true)
  }

  test("infix must/should compile the same predicate, differ only in severity tag") {
    import Validation._
    val msgs = sample(7L).map(render)
    assert(evalBatch(key must be("a"), msgs) == evalBatch(key should be("a"), msgs))
    assert(evalBatch(key must exist, msgs) == evalBatch(key should exist, msgs))
    assert((key must exist).severe && !(key should exist).severe)
    assert(!(key can exist).severe)
  }

  test("demand/reject aliases agree with their require/forbid twins") {
    val msgs = sample(99L).map(render)
    assert(evalBatch(Validation.demandKey(key), msgs) ==
      evalBatch(Validation.requireKey(key), msgs))
    assert(evalBatch(Validation.rejectValue(key, "a"), msgs) ==
      evalBatch(Validation.forbidValue(key, "a"), msgs))
    assert(evalBatch(Validation.rejectKey(key), msgs) ==
      evalBatch(Validation.forbid(key), msgs))
  }
}
