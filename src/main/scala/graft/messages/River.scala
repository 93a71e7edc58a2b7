package graft.messages

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import Validation.Rule

/** The river: a declarative filtered sub-stream over a JSON message stream
  * (reference: River.kt:17-65; SURVEY §2.6).
  *
  * The reference's per-message pipeline
  *   parse --severe--> onSevere
  *     preconditions --any error--> onPreconditionError
  *       validations --any error--> onError
  *         onPacket
  * becomes a single projection computing (msg, status, problems) in one pass
  * — a 4-way split of one DataFrame, whole-stage-codegen'd, instead of four
  * interpreted callback layers. Works identically on batch DataFrames and
  * Structured Streaming DataFrames (same expression layer both ways).
  */
final case class River(
    preconditions: Seq[Rule] = Nil,
    validations: Seq[Rule] = Nil) {

  def precondition(rules: Rule*): River = copy(preconditions = preconditions ++ rules)
  def validate(rules: Rule*): River     = copy(validations = validations ++ rules)

  /** One mixed infix-DSL block (MessageValidation.kt:54-78): severity is
    * routed from the verb, not the call site — `must` rules (severe) land
    * in the precondition stage, `should`/`can` rules in the validation
    * stage. `river.rules("a" must exist, "b" should be("x"))` ≡
    * `river.precondition("a" must exist).validate("b" should be("x"))`.
    */
  def rules(rs: Rule*): River = copy(
    preconditions = preconditions ++ rs.filter(_.severe),
    validations = validations ++ rs.filterNot(_.severe))

  /** All keys this river declared — the reference's "recognized keys"
    * (JsonMessage.kt:110,759-761); only these may be read via Packet.
    */
  def declaredKeys: Set[String] =
    (preconditions ++ validations).map(_.key).filter(_.nonEmpty).toSet

  /** The sorted keys of the schema-pruned fast path, when this river takes
    * it: every rule key-scoped (`onValue`) on flat keys. None = the
    * whole-document variant path.
    */
  private[messages] def fastKeys: Option[Seq[String]] = {
    val keys = declaredKeys.toSeq.sorted
    val fast = keys.nonEmpty && (preconditions ++ validations).forall(_.onValue.isDefined) &&
      keys.forall(k => !k.contains(".") && !k.contains("`") && k != River.CorruptCol)
    if (fast) Some(keys) else None
  }

  /** Attach to a DataFrame whose `jsonCol` holds raw JSON message strings.
    * Adds columns: `msg`, `status`, `problems`.
    *
    * status: unparseable | precondition_failed | validation_failed | passed.
    * Tombstones (null values) are dropped, KafkaRapid.kt:162-163.
    *
    * Two halves: the PARSE half turns the raw JSON into a parsed message
    * expression, and the ROUTE half computes the rule flags, status and
    * problems over it. Here the parse expressions go inline into the
    * river's own projection; [[route]] runs the same route half over a
    * parse that several rivers share ([[River.SharedParse]], the fanout's
    * read-once form).
    *
    * Two compilation modes, one semantics (same truth tables, same Routed
    * surface):
    *  - FAST PATH, when every rule is key-scoped (`onValue`) on flat keys:
    *    the message parses via schema-pruned from_json into
    *    struct<key: variant, ...> — Jackson skips undeclared fields, reads
    *    are struct-field accesses, malformed/non-object roots surface in a
    *    corrupt-record column. Measured ~2x over whole-document variant
    *    parse on the envelope suite.
    *  - VARIANT PATH otherwise (msg-level `predicate` rules, dotted keys):
    *    whole-document try_parse_json + per-key variant gets.
    */
  def attach(df: DataFrame, jsonCol: Column): Routed = {
    val raw = col(River.RawCol)
    // Stage 0 — materialize the raw JSON once, fenced: the tombstone Filter
    // would otherwise inline jsonCol (often a full to_json envelope build,
    // ~10 us/row) and evaluate it a second time alongside the parse input.
    val input = df
      .withColumn(River.RawCol, graft.functions.OptimizerFence(jsonCol))
      .filter(raw.isNotNull) // tombstone filter
    fastKeys match {
      case Some(keys) =>
        routeFast(input, River.fromJson(raw, keys), try_parse_json(raw), Seq(River.RawCol))
      case None =>
        routeVariant(input, try_parse_json(raw), Seq(River.RawCol))
    }
  }

  /** The route half of [[attach]] over `parsed`, the output of `shared`
    * (which must have been built over a river set holding this river):
    * the same `Routed` as `attach` on the raw frame, read off the shared
    * parse columns, which leave with the routed frame's internal columns.
    *
    * A fast-path river reads its keys out of the shared union-key parse.
    * A row that parse accepted parses identically under any subset of its
    * keys. A row it rejected is parsed again with this river's own pruned
    * schema: another river's key can make the union parse reject a row
    * this river's parse accepts (a nested duplicate key under that key,
    * which variant conversion refuses), and the row keeps its own status.
    * A river whose keys are the union's reads the union parse as is.
    */
  def route(parsed: DataFrame, shared: River.SharedParse): Routed = {
    require(shared.rivers.contains(this), "route: the shared parse was built without this river")
    val variant = col(River.VariantCol).getField(River.DocField)
    val internal = Seq(River.JsonCol, River.VariantCol)
    fastKeys match {
      case Some(keys) =>
        val union = col(River.JsonCol)
        val own =
          if (keys == shared.keys) union
          else when(!River.rejected(union), struct(keys.map(k => union.getField(k).as(k)) :+
              lit(null).cast("string").as(River.CorruptCol): _*))
            .otherwise(River.fromJson(col(shared.raw), keys))
        routeFast(parsed, own, variant, internal)
      case None =>
        routeVariant(parsed, variant, internal)
    }
  }

  /** The fast-path route half over `parsed`, a from_json struct of this
    * river's keys plus the corrupt-record field. `variant` parses the raw
    * JSON whole; it is read only for unparseable rows.
    */
  private def routeFast(input: DataFrame, parsed: Column, variant: Column,
      internal: Seq[String]): Routed = {
    val corrupt = River.CorruptCol
    // malformed JSON and non-object roots (scalars/arrays) land in the
    // corrupt-record field — the reference's "message must be a JSON
    // object" severe (JsonMessage.kt:97-105). A DATA key named like the
    // corrupt column cannot spoof it: JacksonParser only writes that field
    // on a parse failure (locked by the path-equivalence property test).
    val bad = River.rejected(parsed)
    // the exposed msg struct carries ONLY the declared keys — the corrupt
    // field (which holds the full raw text of malformed payloads) must not
    // leak into downstream sinks via msg.* / to_json(msg)
    stage(input, parsed.dropFields(corrupt), bad,
      r => r.onValue.get(parsed.getField(r.key)), structMsg = true,
      // problem messages read the MATERIALIZED msg struct attribute (stage 2
      // runs after the fenced parse projection), not a re-parse
      valueOf = r => col("msg").getField(r.key), variant, internal)
  }

  /** The variant-path route half over `msg`, the whole parsed document. */
  private def routeVariant(input: DataFrame, msg: Column, internal: Seq[String]): Routed = {
    // Reference: a message must be a JSON *object* (JsonMessage.kt:97-105);
    // scalars/arrays are severe.
    val isObject = schema_of_variant(msg).startsWith("OBJECT")
    stage(input, msg, msg.isNull || !isObject, r => r(msg), structMsg = false,
      valueOf = r => try_variant_get(col("msg"), JsonPaths.variantPath(r.key), "variant"),
      msg, internal)
  }

  /** Shared routing stages over a parsed message expression and a per-rule
    * flag builder; `internal` names the input's columns the routed frame
    * drops.
    */
  private def stage(input: DataFrame, msg: Column, bad: Column,
      flag: Rule => Column, structMsg: Boolean, valueOf: Rule => Column,
      variant: Column, internal: Seq[String]): Routed = {
    // Stage 1 — ONE projection holding the parse and every rule predicate
    // as a boolean flag, each wrapped in OptimizerFence. The fence (a
    // non-deterministic identity, zero runtime cost) serves two purposes
    // here: CollapseProject refuses to inline non-deterministic fields into
    // consumers, so this projection stays physically materialized (without
    // it, column pruning + collapse re-inlined every rule tree — each with
    // its own copy of the parse — into the status expression, inside
    // CaseWhen branches where codegen subexpression elimination cannot
    // reach; measured ~1.3 s/rule on the sf0.1 envelope suite). Within this
    // projection the fences sit at field ROOTS, so the deterministic rule
    // trees below them still CSE: the parse and each shared variant read
    // evaluate once per row.
    val preFlags = preconditions.zipWithIndex.map { case (r, i) =>
      s"_p$i" -> graft.functions.OptimizerFence(coalesce(flag(r), lit(false)))
    }
    val valFlags = validations.zipWithIndex.map { case (r, i) =>
      s"_v$i" -> graft.functions.OptimizerFence(coalesce(flag(r), lit(false)))
    }
    val flagCols =
      ("_bad" -> graft.functions.OptimizerFence(bad)) +: (preFlags ++ valFlags)
    val flagged = input.withColumns(Map(("msg" -> msg) +: flagCols: _*))
    // Stage 2 — status/problems as cheap boolean/literal combinations over
    // the flag ATTRIBUTES (no variant reads here). status keeps its own
    // fence: PushPredicateThroughNonJoin pushes any filter through a
    // Project whose fields are all deterministic, which would duplicate the
    // routing when-chain into every downstream filter (measured 3-6x); the
    // fence pins it so filters read the computed column.
    val anyPre = preFlags.map { case (n, _) => !col(n) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val anyVal = valFlags.map { case (n, _) => !col(n) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val out = flagged
      .withColumn("status", graft.functions.OptimizerFence(
        when(col("_bad"), lit("unparseable"))
          .when(anyPre, lit("precondition_failed"))
          .when(anyVal, lit("validation_failed"))
          .otherwise(lit("passed"))))
      .withColumn("problems",
        when(col("status") === "precondition_failed",
          Validation.problemsFromFlags("severe", preconditions, i => col(s"_p$i"), valueOf))
          .when(col("status") === "validation_failed",
            Validation.problemsFromFlags("error", validations, i => col(s"_v$i"), valueOf))
          // unparseable rows carry their severe parse problem (JsonMessage
          // .kt:97-105) — a dead letter must never render as "No errors"
          .when(col("status") === "unparseable", Validation.unparseableProblems(variant))
          .otherwise(array().cast("array<struct<severity:string,message:string>>")))
      .drop(flagCols.map(_._1) ++ internal: _*)
    Routed(out, declaredKeys, structMsg, declaredValues)
  }

  /** Statically-declared tag values per key (requireValue/Any/All... rules)
    * — the label sets the reference's message_counter emits per message
    * (River.kt:75-140). Known at river-declaration time, so [[Routed
    * .observed]] can compile each into a conditional counter.
    */
  def declaredValues: Map[String, Seq[String]] =
    (preconditions ++ validations)
      .filter(r => r.key.nonEmpty && r.values.nonEmpty)
      .groupBy(_.key)
      .view.mapValues(_.flatMap(_.values).distinct).toMap
}

object River {
  /** Internal column names (dropped / not part of the routed surface). */
  private[messages] val RawCol = "_graft_raw"
  private[messages] val CorruptCol = "_graft_corrupt"
  private[messages] val JsonCol = "_graft_json"
  private[messages] val VariantCol = "_graft_variant"
  private[messages] val DocField = "doc"

  /** The fast path's parse: schema-pruned from_json of `raw` into a struct
    * of `keys` (each a variant) plus the corrupt-record field.
    */
  private[messages] def fromJson(raw: Column, keys: Seq[String]): Column = {
    val ddl = (keys.map(k => s"`$k` variant") :+ s"`$CorruptCol` string")
      .mkString("struct<", ", ", ">")
    // Jackson's leniencies are explicitly OFF so both compilation modes
    // accept the same strict-RFC JSON the variant parser does. Remaining
    // documented divergence: duplicate object keys (Jackson is last-wins —
    // matching the REFERENCE's Jackson behavior — while the variant parser
    // rejects them as unparseable).
    from_json(raw, org.apache.spark.sql.types.DataType.fromDDL(ddl), Map(
      "columnNameOfCorruptRecord" -> CorruptCol,
      "mode" -> "PERMISSIVE",
      "allowSingleQuotes" -> "false",
      "allowNonNumericNumbers" -> "false"))
  }

  /** True where a [[fromJson]] parse rejected its row. */
  private[messages] def rejected(parsed: Column): Column =
    parsed.isNull || parsed.getField(CorruptCol).isNotNull

  /** The parse half of [[River.attach]], shared by `rivers`: each message
    * is parsed once for all of them, and [[River.route]] routes each river
    * off the result. `raw` names the column holding the raw JSON.
    *
    * [[apply]] drops the tombstones and adds
    *  - one from_json over the sorted union of every fast-path river's
    *    declared keys (Jackson still skips every other field), when some
    *    river takes the fast path;
    *  - one whole-document try_parse_json when some river takes the variant
    *    path. Otherwise the same parse runs only on the rows the union parse
    *    rejected, for an unparseable row's problem text: every row a
    *    river's own parse rejects, the union parse rejects too.
    *
    * Persisting that frame (as the fanout does per trigger) parses each
    * message once for every river instead of once per river.
    */
  final case class SharedParse(rivers: Seq[River], raw: String) {
    require(rivers.nonEmpty, "a shared parse needs at least one river")
    private[messages] val keys: Seq[String] = rivers.flatMap(_.fastKeys).flatten.distinct.sorted
    private val variant = rivers.exists(_.fastKeys.isEmpty)

    def apply(df: DataFrame): DataFrame = {
      val json = col(raw)
      val input = df.filter(json.isNotNull) // tombstone filter
      val parsed = if (keys.isEmpty) input else input.withColumn(JsonCol, fromJson(json, keys))
      val doc = if (variant) try_parse_json(json)
        else when(rejected(col(JsonCol)), try_parse_json(json))
      // the document sits in a one-field struct: the in-memory columnar
      // cache sizes a top-level variant column's first buffer at batch
      // size x 2 KB (20 MB per cached partition at the default 10,000
      // rows, allocated on every persist), a struct column's at 200 KB
      parsed.withColumn(VariantCol, struct(doc.as(DocField)))
    }
  }
}

/** The 4-way routed result. Mirrors the listener fanout onSevere /
  * onPreconditionError / onError / onPacket (River.kt:52-65) as lazily
  * filtered branches over one computed projection.
  */
final case class Routed(all: DataFrame, declared: Set[String],
    structMsg: Boolean = false,
    tagValues: Map[String, Seq[String]] = Map.empty) {

  def passed: DataFrame             = all.filter(col("status") === "passed")
  def preconditionFailed: DataFrame = all.filter(col("status") === "precondition_failed")
  def validationFailed: DataFrame   = all.filter(col("status") === "validation_failed")
  def unparseable: DataFrame        = all.filter(col("status") === "unparseable")

  /** Declare-before-read enforcement (JsonMessage.kt:759-771): reading an
    * undeclared key raises at plan-build time, preserving the reference's
    * safety property with zero runtime cost. The accessor compiles to a
    * struct-field read on the fast path and a variant path get otherwise —
    * caller code is identical either way.
    */
  def packet(key: String): Column = {
    require(declared.contains(key),
      s"Key '$key' was not declared in any precondition/validation of this river")
    if (structMsg) col("msg").getField(key)
    else try_variant_get(col("msg"), JsonPaths.variantPath(key), "variant")
  }

  /** Typed read of a declared key. */
  def packetAs(key: String, ddl: String): Column = {
    require(declared.contains(key),
      s"Key '$key' was not declared in any precondition/validation of this river")
    if (structMsg) try_variant_get(col("msg").getField(key), "$", ddl)
    else try_variant_get(col("msg"), JsonPaths.variantPath(key), ddl)
  }

  /** Per-message diagnostic trace — the Spark-native analogue of the
    * reference's MDC record context (MDC.kt:6-17; recordDiganostics,
    * KafkaRapid.kt:160-174,209-217): a struct of the source's record
    * coordinates (topic/partition/offset/key — the KafkaRapid.stream
    * metadata columns when present, null otherwise) plus the envelope's
    * @id/@event_name read from the raw payload. Executors share no
    * per-record logging context, so the trace travels WITH the data:
    * computed on demand, so the raw-JSON path reads cost only on the rows
    * actually traced (dead letters, reply enrichment), not per message.
    */
  def trace(rawCol: Column): Column = {
    def meta(name: String, tpe: String) =
      (if (all.columns.contains(name)) col(name).cast(tpe)
       else lit(null).cast(tpe)).as(name)
    struct(
      meta("topic", "string"), meta("partition", "int"), meta("offset", "bigint"),
      meta("key", "string"),
      get_json_object(rawCol, "$['@id']").as("id"),
      get_json_object(rawCol, "$['@event_name']").as("event_name"))
  }

  /** Dead-letter projection: everything that did NOT pass, with its raw
    * payload, accumulated problems, and originating [[trace]] — what the
    * reference's onError / onSevere consumers receive (River.kt:67-72),
    * correlatable to the source record like the reference's MDC'd error
    * logs. Write it to any sink (parquet dead-letter table, side topic).
    */
  def deadLetters(rawCol: Column): DataFrame =
    all.filter(col("status") =!= "passed")
      .select(rawCol.as("raw"), col("status"),
        to_json(col("problems")).as("problems_json"),
        // the reference's human-readable renderings (MessageProblems.kt:23-49)
        // alongside the structured problems: toString's "S:"/"E:" lines and
        // toExtendedReport's counted sections + original-message echo
        Validation.report(col("problems")).as("problems_report"),
        Validation.extendedReport(col("problems"), rawCol).as("problems_extended_report"),
        trace(rawCol).as("trace"))

  /** Per-river metrics (reference message_counter / on_packet timer tags,
    * River.kt:75-140): named observation over the routed stream counting
    * each routing outcome, PLUS one tagged counter per statically-declared
    * label value — `event_name_<e>` for each declared @event_name value,
    * `behov_<b>` for each declared @behov element, `losning_<k>` for each
    * declared @løsning.<k> key — mirroring the reference's message_counter
    * event_name/behov/løsninger labels. The tag values come from the
    * river's own requireValue/requireAny/requireAll declarations, so each
    * is a codegen'd conditional count: streaming-safe (observe carries no
    * state, unlike a groupBy) and zero-shuffle. Works on batch (read via
    * Observation) and streaming (StreamingQueryProgress.observedMetrics).
    */
  def observed(name: String = "river"): DataFrame =
    all.observe(name, metricExprs.head, metricExprs.tail: _*)

  /** Batch-friendly variant: read the same metrics via `obs.get`. */
  def observed(obs: Observation): DataFrame =
    all.observe(obs, metricExprs.head, metricExprs.tail: _*)

  private def metricExprs: Seq[Column] = {
    val passed = col("status") === "passed"
    // on_packet counters tag only successfully-routed messages, like the
    // reference incrementing inside onPacket (River.kt:75-96)
    val eventTags = tagValues.getOrElse("@event_name", Nil).map(e =>
      count(when(passed && packetAs("@event_name", "string") === e, 1))
        .as(s"event_name_$e"))
    val behovTags = tagValues.getOrElse("@behov", Nil).map(b =>
      count(when(passed && array_contains(
        coalesce(packetAs("@behov", "array<string>"),
          array().cast("array<string>")), b), 1))
        .as(s"behov_$b"))
    val losningTags = declared.filter(_.startsWith("@løsning.")).toSeq.sorted.map(k =>
      count(when(passed && packet(k).isNotNull && !is_variant_null(packet(k)), 1))
        .as(s"losning_${k.stripPrefix("@løsning.")}"))
    // the reference's participating_services tag (River.kt:136,211-214,
    // RiverTest's three tag cases) joins arbitrary service names into the
    // label — unbounded metric cardinality at corpus scale. The bounded
    // Spark-native form is a present/none counter pair over every parsed
    // outcome (the reference tags severe/error outcomes too), available
    // when the river declares the key (declare-before-read applies to
    // metrics like any other access).
    val svcTags = if (declared.contains("system_participating_services")) {
      val v = packet("system_participating_services")
      val parsed = col("status") =!= "unparseable"
      val present = v.isNotNull && !is_variant_null(v) &&
        size(coalesce(try_variant_get(v, "$", "array<variant>"),
          array().cast("array<variant>"))) > 0
      Seq(
        count(when(parsed && present, 1)).as("participating_services_present"),
        count(when(parsed && !present, 1)).as("participating_services_none"))
    } else Nil
    Seq(
      count(lit(1)).as("messages"),
      count(when(passed, 1)).as("passed"),
      count(when(col("status") === "precondition_failed", 1)).as("precondition_failed"),
      count(when(col("status") === "validation_failed", 1)).as("validation_failed"),
      count(when(col("status") === "unparseable", 1)).as("unparseable")) ++
      eventTags ++ behovTags ++ losningTags ++ svcTags
  }
}
