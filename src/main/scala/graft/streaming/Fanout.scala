package graft.streaming

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExpressionWithRandomSeed}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreePattern.EXPRESSION_WITH_RANDOM_SEED
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

import graft.messages.{River, Routed}

/** Read-once listener fanout — the reference consumes each record ONCE and
  * notifies every registered listener in-process (RapidsConnection.kt:44-55;
  * MessageListener loop, KafkaRapid.kt:130-174). The naive Structured
  * Streaming translation runs one streaming query per river, which on Kafka
  * means R subscriptions, R topic scans, and R checkpoints per application —
  * R× source cost at a 100 TB topic.
  *
  * This is the single-scan form: ONE streaming query per rapid. Its
  * foreachBatch persists the micro-batch, routes every registered river's
  * 4-way split off the in-memory rows, hands each river's replies to the
  * sink, then unpersists — so the source is scanned once per micro-batch no
  * matter how many rivers are registered (SURVEY §4 item 2). Each river
  * re-parses its own schema-pruned projection off the cached rows: CPU over
  * memory-resident rows, not another source scan, and each river keeps its
  * own fast-path parse exactly as in the per-query mode.
  *
  * The river plans are built and analyzed ONCE per query, not per trigger.
  * The first trigger for a (registration list, batch schema, session)
  * compiles the unioned reply plan over placeholder leaves ([[Slot]]) into
  * an analyzed template; every trigger then binds its persisted batch into
  * each slot and hands the sink a frame over the bound plan, which Spark
  * only optimizes and plans. Otherwise a foreachBatch body pays the build
  * and analysis of about ten Dataset constructions per river on every
  * trigger — the cost that set the rapid's reply latency. Structured Streaming queries
  * analyze their plan once the same way; a foreachBatch body is outside
  * that machinery, so the fanout does it itself.
  *
  * Error semantics come free: any river's flow throwing inside foreachBatch
  * fails THE query, which is the reference's one-dead-listener-stops-the-app
  * contract (RapidIntegrationTest.kt:126-141) without cross-query
  * propagation machinery.
  *
  * Metric granularity trade-off: per-river ROUTING COUNTS survive (each
  * branch carries an Observation, [[routeBatchObserved]]), but batch TIMING
  * is whole-rapid — the rivers execute as one fused action, so
  * [[Timers]]-style on_packet_seconds covers the batch, not one river.
  * Apps needing per-river wall-clock keep the per-river-query mode.
  */
object Fanout {

  /** One registered river and its reply flow. `name` labels the river's
    * metrics (the reference's per-listener counter tags).
    *
    * `flow` is a plan builder: it runs once per query (per batch schema),
    * over a placeholder of the micro-batch, and its plan then serves every
    * trigger. So a flow must build its reply from its routed input alone:
    * an action inside a flow (collect, count, an `Observation` of its own)
    * is unsupported, and values a flow computes in Scala when it runs are
    * fixed for the query's life — per-trigger values belong in expressions
    * such as `current_timestamp()`, which each trigger evaluates anew.
    * Every random expression (`uuid()`, `rand()`, `randn()`, `shuffle()`,
    * ...) draws a fresh seed on every trigger, explicit seeds included, as
    * Structured Streaming reseeds them for every micro-batch: a trigger
    * never repeats the previous one's `@id`s. Analysis-time confs are
    * fixed at query start, as for any streaming query definition.
    */
  final case class Registration(river: River, flow: Routed => DataFrame,
      name: String = "river")

  /** Route one micro-batch (columns: key, value, plus any source metadata)
    * through every registration off a single persisted scan, handing the
    * sink ONE unioned (key, value) reply frame: a single Spark job shares
    * the persisted batch across every river's plan, and — on Kafka — ONE
    * producer write per trigger instead of R sequential writes. The persist
    * is scoped to the batch: released before the micro-batch commits, so
    * state never accumulates across triggers. Any river's branch failing
    * fails the one action, downing the query. No-op when no rivers are
    * registered. This is the production hot path: no per-river metric
    * machinery — use [[routeBatchObserved]] for that.
    */
  def routeBatchUnioned(batch: DataFrame, regs: Seq[Registration])(
      sink: DataFrame => Unit): Unit = {
    route(batch, regs, observe = false)(sink)
    ()
  }

  /** [[routeBatchUnioned]] + per-river routing metrics — the reference's
    * per-listener message_counter survives the single-scan mode: each
    * river's branch carries an `observe` node (a row-pass-through over its
    * routed split), so the ONE unioned action fires every river's counters
    * with zero extra Spark jobs. Each trigger attaches fresh observations
    * to the same compiled plan. Returns (registration name -> this batch's
    * metric row: messages / passed / precondition_failed /
    * validation_failed / unparseable + the river's declared tag counters);
    * empty when there were no registrations (no action ran, and the sink
    * was never invoked).
    */
  def routeBatchObserved(batch: DataFrame, regs: Seq[Registration])(
      sink: DataFrame => Unit): Seq[(String, Map[String, Any])] =
    route(batch, regs, observe = true)(sink)

  private def route(batch: DataFrame, regs: Seq[Registration], observe: Boolean)(
      sink: DataFrame => Unit): Seq[(String, Map[String, Any])] =
    if (regs.isEmpty) Nil
    else {
      val template = compiled(batch, regs, observe)
      batch.persist()
      try {
        val observations = template.metrics.map(_ => new Observation())
        sink(template.bind(batch, observations))
        // safe to block: the sink's action completed, so every branch's
        // observation is resolved
        regs.map(_.name).zip(observations.map(_.get))
      } finally { batch.unpersist(); () }
    }

  /** The placeholder a template's river plans are built over: a leaf with
    * the batch's schema that [[Template.bind]] replaces. The analyzer gives
    * every union branch after the first its own copy (relation dedup,
    * through `newInstance`), so binding replaces every Slot, not one
    * instance.
    */
  private final case class Slot(output: Seq[Attribute])
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  }

  /** The analyzed unioned reply plan of one (registration list, batch
    * schema, session), over [[Slot]] leaves. `metrics` holds, per
    * registration, the name and dataframe id of its observe node (empty
    * when not observed). Holds no batch, and only a weak reference to the
    * session.
    */
  private final class Template(val session: WeakReference[SparkSession],
      val schema: StructType, val observe: Boolean, plan: LogicalPlan,
      val metrics: Seq[(String, Long)]) {

    /** The reply frame of one batch: every slot becomes the batch's
      * analyzed plan under a projection keeping the slot's attribute ids,
      * each observe node takes its observation's name, registered fresh
      * for this action, and every random expression of the template gets
      * a new seed (they were seeded once, when the template was built).
      * The result is resolved by construction, so it is not analyzed
      * again.
      */
    def bind(batch: DataFrame, observations: Seq[Observation]): DataFrame = {
      val source = batch.queryExecution.analyzed
      val names = metrics.map(_._1).zip(observations.map(_.name)).toMap
      // reseeded before the batch goes in: the batch plan must stay as
      // persisted to be read from the cache
      val seeded = plan.transformAllExpressionsWithPruning(
          _.containsPattern(EXPRESSION_WITH_RANDOM_SEED)) {
        case e: ExpressionWithRandomSeed => e.withNewSeed(seeds.nextLong())
      }
      // up, not down: a slot's replacement holds the batch plan, which has
      // no slot to visit
      val bound = seeded.transformUp {
        case Slot(output) =>
          Project(output.zip(source.output).map { case (slot, in) =>
            Alias(in, slot.name)(exprId = slot.exprId)
          }, source)
        case c: CollectMetrics if names.contains(c.name) => c.copy(name = names(c.name))
      }
      metrics.zip(observations).foreach { case ((_, id), o) =>
        Bridge.registerObservation(batch.sparkSession, o, id)
      }
      Bridge.ofAnalyzed(batch.sparkSession, bound)
    }
  }

  /** Templates per registration list. Weak keys: a stopped query's
    * registrations leave with it, and each template holds its session
    * weakly, so neither stays reachable through this cache.
    */
  private val templates = new java.util.WeakHashMap[Seq[Registration], List[Template]]()

  private val seeds = new java.util.Random()

  private def compiled(batch: DataFrame, regs: Seq[Registration], observe: Boolean): Template = {
    val session = batch.sparkSession
    val schema = batch.schema
    def live = templates.synchronized(Option(templates.get(regs)).getOrElse(Nil))
      .filter(_.session.get != null)
    live.find(t => (t.session.get eq session) && t.schema == schema && t.observe == observe)
      .getOrElse {
        val t = compile(session, schema, regs, observe)
        templates.synchronized { templates.put(regs, t :: live); () }
        t
      }
  }

  private def compile(session: SparkSession, schema: StructType, regs: Seq[Registration],
      observe: Boolean): Template = {
    val slot = Bridge.ofAnalyzed(session, Slot(DataTypeUtils.toAttributes(schema)))
    val tag = java.util.UUID.randomUUID()
    val names = regs.indices.map(i => s"fanout-$tag-$i")
    val replies = regs.zip(names).map { case (r, metric) =>
      val routed = r.river.attach(slot, col("value"))
      // the flow reads THROUGH the observe node so the union's single
      // action executes it; metrics describe the routed stream, and the
      // flow's own filters (e.g. .passed) sit above the observation
      val in = if (observe) routed.copy(all = routed.observed(metric)) else routed
      rejectStateful(r.flow(in), r.name)
        .select(col("key").cast("string").as("key"), col("value").cast("string").as("value"))
    }
    val plan = replies.reduce(_.unionAll(_)).queryExecution.analyzed
    val ids = plan.collect { case c: CollectMetrics => c.name -> c.dataframeId }.toMap
    val metrics = if (!observe) Nil else regs.zip(names).map { case (r, metric) =>
      require(ids.contains(metric),
        s"fanout river '${r.name}' must build its replies from its routed input " +
          "(its routing metrics observe that input)")
      metric -> ids(metric)
    }
    new Template(new WeakReference(session), schema, observe, plan, metrics)
  }

  /** Approximate per-river cost attribution for the fused fanout action.
    * The one action cannot be timed per river (the paradigm trade-off of
    * single-scan mode), so each batch's measured wall clock is apportioned
    * by a two-tier work model over the per-branch observations: every
    * routed row costs one unit (parse + route), every PASSED row one more
    * (it continues through the flow) — so a river passing more traffic
    * attracts proportionally more of the batch wall. Weights aside, the
    * invariant is exact by construction: the per-river "est_busy_nanos"
    * entries of a batch sum to its wall clock (±1 ns rounding per river),
    * so /metrics shows a defensible, conserved seconds estimate. A batch
    * with no observed work splits evenly (idle overhead lands somewhere
    * rather than vanishing).
    */
  def attributeCost(metrics: Seq[(String, Map[String, Any])], wallNanos: Long)
      : Seq[(String, Map[String, Any])] = {
    def cnt(m: Map[String, Any], k: String): Long =
      m.get(k) match { case Some(l: Long) => l; case _ => 0L }
    val weights = metrics.map { case (_, m) => cnt(m, "messages") + cnt(m, "passed") }
    val total = weights.sum
    metrics.zip(weights).map { case ((name, m), w) =>
      val share =
        if (total > 0) wallNanos.toDouble * w / total
        else if (metrics.nonEmpty) wallNanos.toDouble / metrics.size
        else 0.0
      name -> (m + ("est_busy_nanos" -> share.round))
    }
  }

  /** Inside foreachBatch a flow runs as a per-batch BATCH job: keyed state
    * (flatMapGroupsWithState) and watermarked dedup restart EMPTY every
    * trigger — they would run without error and silently forget everything
    * between batches. Stateful rivers must keep their own streaming query
    * (MemoryRapid.registerStateful / a dedicated KafkaRapid.stream query);
    * this guard turns the silent state reset into a loud error.
    *
    * Scope: only STREAMING-INTENT operators are flagged. Plain aggregation
    * or dropDuplicates in a flow is legitimate per-batch semantics (one
    * reply per key per batch) and cannot be distinguished from cross-batch
    * intent, so it is allowed — the APIs that only make sense with
    * continuous keyed state are the ones rejected.
    */
  private def rejectStateful(replies: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, FlatMapGroupsWithState}
    replies.queryExecution.logical.collectFirst {
      case _: FlatMapGroupsWithState => "flatMapGroupsWithState/mapGroupsWithState"
      case _: EventTimeWatermark     => "withWatermark (watermarked dedup/aggregation)"
    }.foreach { op =>
      throw new IllegalStateException(
        s"fanout river '$name' uses $op, whose keyed state restarts EMPTY " +
          "on every micro-batch inside foreachBatch — the operator would run " +
          "without error and silently forget all cross-batch state. Register " +
          "stateful rivers with their own streaming query " +
          "(MemoryRapid.registerStateful) instead of the shared fanout scan.")
    }
    replies
  }
}
