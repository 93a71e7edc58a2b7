package graft.messages

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative validation DSL — the reference's "WHERE clause"
  * (JsonMessage.kt require/demand/forbid/reject/interestedIn families,
  * MessageValidation.kt infix DSL; SURVEY §2.2).
  *
  * Each rule compiles to a Catalyst predicate over a parsed VARIANT message
  * column, so an entire river's rule set becomes one codegen'd projection —
  * replacing the reference's interpret-per-message Jackson closures with a
  * plan Catalyst optimizes once. JSON type discrimination (string "3" is NOT
  * number 3, JsonMessage.kt:645-650 / JsonMessageTest.kt:732-742) uses
  * `schema_of_variant`, which preserves the original JSON type.
  */
object Validation {

  /** A compiled rule: named predicate + failure message. Severity is decided
    * by the stage it runs in (precondition => severe, validate => error),
    * mirroring River.kt:52-65.
    *
    * `passes` evaluates against the whole parsed message; `onValue`, when
    * defined (every rule kind except the msg-level `predicate` escape
    * hatch), evaluates against just the key's VARIANT value — which lets
    * River compile a fully-declared river to the schema-pruned from_json
    * fast path where each declared key is its own struct field.
    */
  final case class Rule(key: String, description: String,
      passes: Column => Column, onValue: Option[Column => Column] = None,
      /** Infix-DSL severity tag (MessageValidation.kt:67-72): `must` marks
        * the rule severe so [[graft.messages.River.rules]] routes it to the
        * precondition stage; explicit precondition()/validate() calls ignore
        * it (stage is the call site there, as in the deprecated demand* API).
        */
      severe: Boolean = false,
      /** Values this rule declares for the key (requireValue/Any/All...) —
        * the statically-known metric tag values the reference's
        * message_counter emits per event_name/behov (River.kt:75-140).
        */
      values: Seq[String] = Nil,
      /** Value-dependent failure message over the key's raw variant value —
        * the reference distinguishes e.g. "Missing required key k" from
        * "Required key k is null" (JsonMessage.kt:749-750). Plain
        * when/otherwise columns (no higher-order functions), so the problems
        * projection stays codegen'd; evaluated only under the rule's failed
        * branch. None = the static [[description]].
        */
      messageOn: Option[Column => Column] = None,
      /** Multi-entry failure messages (array of strings) over the key's raw
        * variant value — one problem PER failing array element, like the
        * reference's per-index requireArray element reports
        * (JsonMessage.kt:663-670). Uses higher-order functions, which are
        * CodegenFallback: only rivers that declare such a rule pay the
        * interpreted problems projection. Takes precedence over
        * [[messageOn]].
        */
      problemsOn: Option[Column => Column] = None) {
    def apply(msg: Column): Column = passes(msg)
  }

  /** Untyped value at `key`: SQL NULL when the path is missing; variant-null
    * when the JSON value is null. Both count as "not present" for requireKey
    * (JsonMessage.kt:747-752).
    */
  private def vraw(msg: Column, key: String): Column =
    try_variant_get(msg, JsonPaths.variantPath(key), "variant")

  /** Key-scoped rule: the predicate sees only the key's variant value. */
  private def keyRule(key: String, desc: String)(f: Column => Column): Rule =
    Rule(key, desc, m => f(vraw(m, key)), Some(f))

  private def present(v: Column): Column =
    // NOTE is_variant_null(SQL NULL) = false, so the isNotNull guard is
    // load-bearing. The left operand is always evaluated, which keeps the
    // parse under it visible to codegen subexpression elimination.
    v.isNotNull && !is_variant_null(v)

  /** JSON type of the variant value as a DDL string (e.g. "STRING",
    * "BIGINT", "DOUBLE", "BOOLEAN", "ARRAY<...>"); null when missing.
    */
  private def typeOf(v: Column): Column = schema_of_variant(v)

  private def asString(v: Column): Column = try_variant_get(v, "$", "string")

  private def isStringType(v: Column): Column = typeOf(v) === "STRING"

  private def isNumericType(v: Column): Column = {
    val t = typeOf(v)
    t.isin("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE") ||
      t.startsWith("DECIMAL")
  }

  private def isBooleanType(v: Column): Column = typeOf(v) === "BOOLEAN"

  private def isIntegralType(v: Column): Column =
    typeOf(v).isin("TINYINT", "SMALLINT", "INT", "BIGINT")

  private def isArrayType(v: Column): Column = typeOf(v).startsWith("ARRAY")

  private def asStringArray(v: Column): Column = try_variant_get(v, "$", "array<string>")

  // ------------------------------------------------------------- rule kinds
  // Failure messages reproduce the reference's EXACT strings (including the
  // "does not contains" typo, JsonMessage.kt:691) so onError consumers
  // migrating from the reference see identical diagnostics. $values renders
  // like a Kotlin List ("[a, b]").

  private def listFmt(values: Seq[String]): String = values.mkString("[", ", ", "]")

  /** "Missing required key k" when the key is absent, `other` otherwise —
    * the two-message shape every require* rule shares (JsonMessage.kt:633ff).
    */
  private def missingOr(key: String, other: String)(v: Column): Column =
    when(v.isNull, lit(s"Missing required key $key")).otherwise(lit(other))

  private def keyRuleM(key: String, desc: String, failMsg: Column => Column)(
      f: Column => Column): Rule =
    Rule(key, desc, m => f(vraw(m, key)), Some(f), messageOn = Some(failMsg))

  /** requireKey (JsonMessage.kt:747-752): fail when missing or null, with
    * the reference's DISTINCT messages for the two cases.
    */
  def requireKey(key: String): Rule =
    keyRuleM(key, s"Missing required key $key",
      missingOr(key, s"Required key $key is null"))(present)

  /** requireValue for strings (JsonMessage.kt:638-643): present, string-typed,
    * equal.
    */
  def requireValue(key: String, value: String): Rule =
    keyRuleM(key, s"Required $key is not string $value",
      missingOr(key, s"Required $key is not string $value"))(
      v => isStringType(v) && asString(v) === lit(value)).copy(values = Seq(value))

  /** requireValue for booleans (JsonMessage.kt:632-637). */
  def requireValue(key: String, value: Boolean): Rule =
    keyRuleM(key, s"Required $key is not boolean $value",
      missingOr(key, s"Required $key is not boolean $value"))(
      v => isBooleanType(v) && try_variant_get(v, "$", "boolean") === lit(value))

  /** requireValue for numbers (JsonMessage.kt:645-650): numeric JSON type
    * required — the string "3" does not equal the number 3; 3 == 3.0 does.
    */
  def requireValue(key: String, value: Double): Rule =
    keyRuleM(key, s"Required $key is not number $value",
      missingOr(key, s"Required $key is not number $value"))(
      v => isNumericType(v) && try_variant_get(v, "$", "double") === lit(value))

  /** requireValue for INTEGER literals — Kotlin's `Number.equals` is
    * type-strict (JsonMessage.kt:648 `node.numberValue() != value`):
    * `requireValue("foo", 3)` matches JSON 3 but NOT JSON 3.0, because
    * Jackson yields Double(3.0) and Integer(3) never equals it. The message
    * renders the Int ("number 3", not "number 3.0"), like the reference.
    * An exact Int parameter also keeps existing `requireValue(k, 3)` call
    * sites resolving here rather than widening to the Double overload.
    */
  def requireValue(key: String, value: Int): Rule =
    keyRuleM(key, s"Required $key is not number $value",
      missingOr(key, s"Required $key is not number $value"))(
      v => isIntegralType(v) && try_variant_get(v, "$", "long") === lit(value.toLong))

  /** requireAny (JsonMessage.kt:652-657): string value in the allowed set. */
  def requireAny(key: String, values: Seq[String]): Rule =
    keyRuleM(key, s"Required $key must be one of ${listFmt(values)}",
      missingOr(key, s"Required $key must be one of ${listFmt(values)}"))(
      v => isStringType(v) && asString(v).isin(values: _*)).copy(values = values)

  /** requireArray (JsonMessage.kt:659-662). */
  def requireArray(key: String): Rule =
    keyRuleM(key, s"Required $key is not an array",
      missingOr(key, s"Required $key is not an array"))(isArrayType)

  /** requireArray with per-element PREDICATE validation: every element, read
    * as a variant, must satisfy `elem`. Failure reports ONE problem PER
    * failing element with its index, like the reference's "Array element #i
    * at k did not pass validation" (JsonMessageTest.kt:777-796). `elem` is
    * one predicate, not a nested rule set, so there is no nested problem
    * text here — for the reference's composed element-failure messages use
    * the nested-RULES overload below.
    */
  def requireArrayElements(key: String, elem: Column => Column): Rule = {
    val failures = (v: Column) =>
      when(v.isNull, array(lit(s"Missing required key $key")))
        .when(!coalesce(isArrayType(v), lit(false)),
          array(lit(s"Required $key is not an array")))
        .otherwise(filter(
          transform(try_variant_get(v, "$", "array<variant>"),
            (e: Column, i: Column) =>
              when(coalesce(elem(e), lit(false)), lit(null).cast("string"))
                .otherwise(concat(lit("Array element #"), i.cast("string"),
                  lit(s" at $key did not pass validation")))),
          (m: Column) => m.isNotNull))
    keyRule(key, s"Required all elements of $key to validate")(
      v => isArrayType(v) && forall(try_variant_get(v, "$", "array<variant>"), elem))
      .copy(problemsOn = Some(failures))
  }

  /** requireArray with NESTED RULES per element (JsonMessage.kt:663-670):
    * each element is re-validated as its own message against `rules`, and a
    * failing element contributes one problem PER failing rule, composed the
    * reference's way — `MessageProblems.error(melding, other)` appends each
    * nested error to the element prefix with a space
    * (MessageProblems.kt:12-14). The reference's prefix string ends in a
    * literal "%s" that the composing overload never String.format's — a
    * quirk reproduced verbatim, so migrating onError consumers see
    * byte-identical diagnostics, e.g.:
    *
    *   "Array element #0 at foo did not pass validation: %s Missing required key bar"
    *
    * Nested severe rules have no analogue (the reference's nested
    * JsonMessage composes only `errors`); nested rules here contribute
    * error-composed text regardless of their severe tag.
    */
  def requireArrayElements(key: String, first: Rule, rest: Rule*): Rule = {
    val rules = first +: rest
    val elems = (v: Column) => try_variant_get(v, "$", "array<variant>")
    val elemPasses = (e: Column) =>
      rules.map(r => coalesce(r.passes(e), lit(false))).reduce(_ && _)
    val emptyStr = array().cast("array<string>")
    val failures = (v: Column) =>
      when(v.isNull, array(lit(s"Missing required key $key")))
        .when(!coalesce(isArrayType(v), lit(false)),
          array(lit(s"Required $key is not an array")))
        .otherwise(flatten(transform(elems(v), (e: Column, i: Column) => {
          val prefix = concat(lit("Array element #"), i.cast("string"),
            lit(s" at $key did not pass validation: %s "))
          concat(rules.map { r =>
            val failedMsgs = r.problemsOn match {
              // a nested rule with multi-entry problems (e.g. a nested
              // requireArrayElements) composes EACH of its entries
              case Some(msgs) => transform(msgs(vraw(e, r.key)),
                (m: Column) => concat(prefix, m))
              case None => array(concat(prefix,
                r.messageOn.fold(lit(r.description))(f => f(vraw(e, r.key)))))
            }
            when(!coalesce(r.passes(e), lit(false)), failedMsgs).otherwise(emptyStr)
          }: _*)
        })))
    keyRule(key, s"Required all elements of $key to validate")(
      v => isArrayType(v) && forall(elems(v), elemPasses))
      .copy(problemsOn = Some(failures))
  }

  /** requireAll (JsonMessage.kt:687-694): array value must contain every
    * requested element.
    */
  def requireAll(key: String, values: Seq[String]): Rule =
    keyRuleM(key, s"Required $key does not contains ${listFmt(values)}",
      missingOr(key, s"Required $key does not contains ${listFmt(values)}"))(
      v => isArrayType(v) && size(array_except(lit(values.toArray), asStringArray(v))) === 0)
      .copy(values = values)

  /** requireContains (JsonMessage.kt:674-676) — sugar for requireAll(k, [v]). */
  def requireContains(key: String, value: String): Rule = requireAll(key, Seq(value))

  /** requireAllOrAny (JsonMessage.kt:678-685) — despite the name, passes when
    * the array intersects the requested values.
    */
  def requireAllOrAny(key: String, values: Seq[String]): Rule =
    keyRuleM(key, s"Required array $key does not contain one of ${listFmt(values)}",
      missingOr(key, s"Required array $key does not contain one of ${listFmt(values)}"))(
      v => isArrayType(v) && arrays_overlap(lit(values.toArray), asStringArray(v)))
      .copy(values = values)

  /** require(key, parser) (JsonMessage.kt:700-709): present and the parser
    * (a Converters.try* column function over the string value) succeeds.
    * The reference appends the parser exception's own message; a column
    * parser signals failure by null, so there is no exception text here.
    */
  def requireParsed(key: String, parser: Column => Column): Rule =
    keyRuleM(key, s"Required $key did not match the predicate",
      missingOr(key, s"Required $key did not match the predicate"))(
      v => present(v) && parser(asString(v)).isNotNull)

  /** forbid (JsonMessage.kt:754-757): fail when present and non-null. */
  def forbid(key: String): Rule =
    keyRule(key, s"Forbidden key $key exists")(v => !present(v))

  /** forbidValue for strings (JsonMessage.kt:715-725): fail only when
    * present, correctly typed, and equal. (The reference's message really
    * does read "Required key ... with value ...", JsonMessage.kt:717.)
    */
  def forbidValue(key: String, value: String): Rule =
    keyRule(key, s"Required key $key with value $value")(
      v => !coalesce(isStringType(v) && asString(v) === lit(value), lit(false)))

  def forbidValue(key: String, value: Boolean): Rule =
    keyRule(key, s"Required key $key with value $value")(
      v => !coalesce(isBooleanType(v) &&
        try_variant_get(v, "$", "boolean") === lit(value), lit(false)))

  /** forbidValues (JsonMessage.kt:727-731). */
  def forbidValues(key: String, values: Seq[String]): Rule =
    keyRule(key, s"Required $key is one of ${listFmt(values)}")(
      v => !coalesce(isStringType(v) && asString(v).isin(values: _*), lit(false)))

  /** interestedIn (JsonMessage.kt:733-735): no check — registers the key for
    * nullable projection.
    */
  def interestedIn(key: String): Rule =
    keyRule(key, s"Interested in $key")(_ => lit(true))

  /** interestedIn with parser (JsonMessage.kt:737-745): error only when the
    * value is present and the parser fails.
    */
  def interestedInParsed(key: String, parser: Column => Column): Rule =
    keyRule(key, s"Optional $key did not match the predicate")(
      v => !present(v) || parser(asString(v)).isNotNull)

  /** Custom predicate over one key's variant value — the key-scoped form of
    * the reference's custom validation closures (JsonMessage.kt:171-176).
    * Declares the key (readable via packet) and stays eligible for the
    * schema-pruned fast path.
    */
  def predicateOn(key: String, description: String)(p: Column => Column): Rule =
    keyRule(key, description)(p)

  /** Arbitrary predicate over the whole variant message — escape hatch for
    * cross-key checks. Forces the river onto the whole-document variant
    * path (the planner cannot prune what it cannot see).
    */
  def predicate(description: String, p: Column => Column): Rule =
    Rule("", description, p)

  // ---------------------------------------------- deprecated demand/reject
  // The reference's demand*/reject* surface (JsonMessage.kt:177-626,
  // deprecated there in favor of precondition{}): identical predicates whose
  // severe semantics come from running them in the precondition stage
  // (River.precondition), exactly like the reference's replacement guidance.

  def demandKey(key: String): Rule = requireKey(key)
  def demandValue(key: String, value: String): Rule = requireValue(key, value)
  def demandValue(key: String, value: Double): Rule = requireValue(key, value)
  def demandValue(key: String, value: Int): Rule = requireValue(key, value)
  def demandValue(key: String, value: Boolean): Rule = requireValue(key, value)
  def demandAll(key: String, values: Seq[String]): Rule = requireAll(key, values)
  def demandAny(key: String, values: Seq[String]): Rule = requireAny(key, values)
  def demandAllOrAny(key: String, values: Seq[String]): Rule = requireAllOrAny(key, values)
  def demand(key: String, parser: Column => Column): Rule = requireParsed(key, parser)
  def rejectKey(key: String): Rule = forbid(key)
  def rejectValue(key: String, value: String): Rule = forbidValue(key, value)
  def rejectValue(key: String, value: Boolean): Rule = forbidValue(key, value)
  def rejectValues(key: String, values: Seq[String]): Rule = forbidValues(key, values)

  // ----------------------------------------------------- infix DSL (newer)
  // MessageValidation.kt:10-37,54-78 — `"key" must exist`, `"key" should
  // be("x")`, `"key" can exist`. Severity is routed FROM THE VERB, not the
  // call site: `must` tags the rule severe (precondition stage), `should`
  // leaves it error (validation stage), `can` is should(optional) — passes
  // when the key is missing/null, validates the value when present. One
  // mixed block goes through [[River.rules]], which splits by the tag.

  sealed trait Combinator { def toRule(key: String): Rule }

  /** exist = !isMissingOrNull (MessageValidation.kt:10-12). The DSL has its
    * OWN failure strings — key-prefixed Norwegian messages composed by
    * ValidationSpec.validate ("$key: ${message}", MessageValidation.kt:
    * 89-92) and asserted verbatim by MessageValidationTest.kt:43-147 —
    * distinct from the require-family messages.
    */
  case object exist extends Combinator {
    def toRule(key: String): Rule = {
      val msg = s"$key: Feltet finnes ikke"
      requireKey(key).copy(description = msg, messageOn = Some(_ => lit(msg)))
    }
  }

  /** Jackson asString() coercion (MessageValidation.kt:13-15): scalars
    * stringify ("3", "true"), JSON null reads "null", a missing key and
    * container nodes read "". Non-integral numbers go through the DOUBLE
    * rendering — Jackson parses 3.10 as DoubleNode(3.1) and stringifies
    * "3.1", where Spark's variant keeps DECIMAL(3,2) and would print
    * "3.10". Shared by every coercing DSL combinator so the edges cannot
    * diverge.
    */
  private def coerceAsString(v: Column): Column =
    when(v.isNull, lit(""))
      .when(is_variant_null(v), lit("null"))
      .when(typeOf(v).startsWith("ARRAY") || typeOf(v).startsWith("OBJECT"), lit(""))
      .when(isIntegralType(v), coalesce(asString(v), lit("")))
      .when(isNumericType(v),
        coalesce(try_variant_get(v, "$", "double").cast("string"), lit("")))
      .otherwise(coalesce(asString(v), lit("")))

  /** be(v) compares `node.asString() == v` (MessageValidation.kt:13-15) — a
    * COERCING comparison, unlike requireValue's type-strict one: number 3
    * matches be("3"), true matches be("true").
    */
  final case class be(value: String) extends Combinator {
    def toRule(key: String): Rule = {
      val msg = s"$key: Feltet har ikke forventet verdi $value"
      val pass = (v: Column) => coerceAsString(v) === lit(value)
      Rule(key, msg, m => pass(vraw(m, key)), Some(pass),
        values = Seq(value), messageOn = Some(_ => lit(msg)))
    }
  }

  /** graft extension (no reference analogue): set membership in the DSL's
    * message style, with be()'s coercing comparison per element.
    */
  final case class beIn(values: String*) extends Combinator {
    def toRule(key: String): Rule = {
      val msg = s"$key: Feltet har ikke forventet verdi ${listFmt(values)}"
      val pass = (v: Column) => coerceAsString(v).isin(values: _*)
      Rule(key, msg, m => pass(vraw(m, key)), Some(pass),
        values = values, messageOn = Some(_ => lit(msg)))
    }
  }

  implicit final class KeyOps(private val key: String) extends AnyVal {
    /** severe: MessageProblems::severe strategy (MessageValidation.kt:70-71). */
    def must(c: Combinator): Rule   = c.toRule(key).copy(severe = true)
    /** error: MessageProblems::error strategy (MessageValidation.kt:67-68). */
    def should(c: Combinator): Rule = c.toRule(key)
    /** should(optional): ValueValidation.optional (MessageValidation.kt:33-36,
      * 73-74) — missing/null is fine, a present value must validate.
      */
    def can(c: Combinator): Rule = {
      val r = c.toRule(key)
      // every current Combinator is key-scoped (onValue defined); a future
      // message-level one must fail loudly at DSL-construction time, not
      // with a bare NoSuchElementException from .get
      val onValue = r.onValue.getOrElse(throw new IllegalArgumentException(
        s"'$key' can ...: combinator produced a message-level rule " +
          "(no value predicate); `can` needs a key-scoped combinator"))
      val opt = (v: Column) => !present(v) || coalesce(onValue(v), lit(false))
      // failure only happens on a PRESENT invalid value, so the inner rule's
      // message applies as-is (its missing branch can never fire)
      Rule(key, s"Optional: ${r.description}", m => opt(vraw(m, key)), Some(opt),
        values = r.values, messageOn = r.messageOn, problemsOn = r.problemsOn)
    }
  }

  // --------------------------------------------------------------- compile

  /** Problem array from already-materialized per-rule pass flags (false =
    * failed; flags are null-coalesced upstream). Built as concat of
    * 0/1-element arrays, NOT array_compact — array_compact rewrites to the
    * higher-order filter(λ), a CodegenFallback that kicks the whole
    * projection out of whole-stage codegen.
    *
    * `valueOf` reads a rule's key value from the MATERIALIZED msg column
    * (not a re-parse) for the value-dependent messages; it is consulted
    * only under a failed rule's branch. Rules with [[Rule.problemsOn]]
    * contribute one problem per entry (higher-order functions — only their
    * rivers lose the codegen'd problems projection).
    */
  // --------------------------------------------------------------- reports

  /** MessageProblems.toString analogue (MessageProblems.kt:33-36): severe
    * problems as "S: ..." lines, then error problems as "E: ..." lines,
    * newline-joined (empty string when there are no problems). Takes the
    * routed `problems` column (array<struct<severity,message>>).
    *
    * Higher-order transforms (CodegenFallback) — render on the dead-letter
    * branch, never the per-message hot path.
    */
  def report(problems: Column): Column = {
    def lines(sev: String, prefix: String) = transform(
      filter(problems, p => p.getField("severity") === sev),
      p => concat(lit(prefix), p.getField("message")))
    array_join(concat(lines("severe", "S: "), lines("error", "E: ")), "\n")
  }

  /** MessageProblems.toExtendedReport analogue (MessageProblems.kt:23-31,
    * 38-49): "No errors in message\n" when clean, otherwise the counted
    * "Severe errors"/"Errors" sections followed by the original message
    * echo, byte-identical to the reference's StringBuffer construction
    * (including the tab after the header line that precedes the first
    * section's leading newline).
    */
  def extendedReport(problems: Column, originalMessage: Column): Column = {
    def msgs(sev: String) = transform(
      filter(problems, p => p.getField("severity") === sev),
      p => p.getField("message"))
    def section(label: String, m: Column) =
      when(size(m) === 0, lit(""))
        .otherwise(concat(lit(s"\n$label: "), size(m).cast("string"),
          array_join(transform(m, x => concat(lit("\n\t"), x)), "")))
    when(coalesce(size(problems), lit(0)) === 0, lit("No errors in message\n"))
      .otherwise(concat(lit("Message has errors:\n\t"),
        section("Severe errors", msgs("severe")), section("Errors", msgs("error")),
        lit("\n"), lit("Original message: "), originalMessage, lit("\n")))
  }

  def problemsFromFlags(severity: String, rules: Seq[Rule], flag: Int => Column,
      valueOf: Rule => Column): Column = {
    val empty = array().cast("array<struct<severity:string,message:string>>")
    if (rules.isEmpty) empty
    else concat(rules.zipWithIndex.map { case (r, i) =>
      val failed = r.problemsOn match {
        case Some(msgs) =>
          transform(msgs(valueOf(r)), m =>
            struct(lit(severity).as("severity"), m.as("message")))
        case None =>
          val msg = r.messageOn.fold(lit(r.description))(f => f(valueOf(r)))
          array(struct(lit(severity).as("severity"), msg.as("message")))
      }
      when(!flag(i), failed).otherwise(empty)
    }: _*)
  }

  /** The severe problem carried by an unparseable message, from `parsed`,
    * the raw payload's whole-document try_parse_json (path-independent, so
    * both river compilation modes agree): non-object JSON gets the
    * reference's exact string (JsonMessage.kt:103); malformed text gets the
    * Jackson-failure message minus the parser's own detail text, which
    * Spark's parse does not surface (JsonMessage.kt:101 appends
    * `err.message`).
    */
  def unparseableProblems(parsed: Column): Column = {
    val msg = when(parsed.isNotNull && !schema_of_variant(parsed).startsWith("OBJECT"),
      lit("Incomplete json. Should be able to cast as ObjectNode."))
      .otherwise(lit("Invalid JSON per Jackson library"))
    array(struct(lit("severe").as("severity"), msg.as("message")))
  }
}
