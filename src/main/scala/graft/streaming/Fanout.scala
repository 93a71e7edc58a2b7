package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{NarrowDependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, QueryExecution, RDDScanExec,
  SparkPlan, SQLExecutionRDD, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
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
  * This is the single-scan form, and the only way a stateless river runs:
  * ONE streaming query per rapid, on Kafka ([[KafkaRapid.run]]) and in
  * memory ([[MemoryRapid]]) alike. Its foreachBatch parses the micro-batch
  * ONCE for every registered river ([[River.SharedParse]]: the raw JSON
  * with tombstones dropped, one from_json over the union of the fast-path
  * rivers' declared keys, one try_parse_json when some river takes the
  * variant path), persists that parse, routes every river's 4-way split
  * off it ([[River.route]]), hands each river's replies to the sink, then
  * unpersists — so the source is scanned, and each message parsed, once
  * per micro-batch no matter how many rivers are registered (SURVEY §4
  * item 2). A river re-parses a message with its own schema only where the
  * union parse rejected it, so every river keeps exactly the statuses
  * [[River.attach]] gives it on a stream of its own.
  *
  * The plans are built ONCE per query, not per trigger. The first trigger
  * for a (registration list, batch schema, session) builds the shared parse
  * and the unioned reply plan over placeholder leaves ([[Slot]]) into an
  * analyzed template, then optimizes, plans and code-generates the reply
  * plan once into an RDD DAG whose leaf reads whatever input the trigger
  * binds to it ([[Leaf]]; one DAG per input partition count). Every trigger
  * then binds its batch into the parse, persists it, binds the persisted
  * parse's RDD to the leaf and hands the sink a frame over the DAG, so the
  * trigger's only driver work is planning that one leaf, and it runs one
  * job. Otherwise a foreachBatch body pays the build, analysis,
  * optimization, planning and code generation of every river's plan on
  * every trigger — the fixed cost that sets the rapid's reply latency.
  * Structured Streaming queries analyze their plan once the same way; a
  * foreachBatch body is outside that machinery, so the fanout does it
  * itself. Per-trigger values stay runtime inputs ([[TriggerInputs]]), and
  * a reply plan with a shuffle, a broadcast or a subquery is planned per
  * trigger instead: a reused shuffle would serve an earlier trigger's map
  * output.
  *
  * When the input has at least as many partitions as the cluster has
  * cores, a trigger's job runs one task per input partition: each task
  * runs every river's branch over its partition in turn ([[Fused]]), as
  * the reference hands each record to every listener in one loop, so the
  * rapid's Kafka sink writes from one producer task per input partition.
  * Over fewer partitions, or when a branch reads several input partitions
  * per partition of its own (a `coalesce`), the job runs a task per branch
  * partition, so the branches of one input partition run side by side. A
  * fused task runs its partition's rivers one after another, so one
  * oversized input partition holds every river's work for it on one core.
  *
  * Error semantics come free: any river's flow throwing inside foreachBatch
  * fails THE query, which is the reference's one-dead-listener-stops-the-app
  * contract (RapidIntegrationTest.kt:126-141) without cross-query
  * propagation machinery.
  *
  * Metric granularity trade-off: per-river ROUTING COUNTS survive (each
  * branch carries an observe node, [[routeBatchObserved]]), but batch TIMING
  * is whole-rapid — the rivers execute as one fused action, so
  * [[Timers]]-style on_packet_seconds covers the batch, not one river. The
  * per-river figure is `est_busy_nanos`, each river's apportioned share of
  * the batch wall ([[attributeCost]]).
  */
object Fanout {

  /** One registered river and its reply flow. `name` labels the river's
    * metrics (the reference's per-listener counter tags).
    *
    * `flow` is a plan builder: it runs once per query (per batch schema),
    * over a placeholder of the micro-batch, and its plan — analyzed,
    * optimized and compiled once — then serves every trigger, in one job
    * of one task per input partition that runs every river's flow over
    * that partition (over fewer input partitions than cores, or when a
    * flow reads across partitions, a task per flow partition). So a flow
    * must build its reply from its routed input alone: an action inside a
    * flow (collect, count, an `Observation` of its own) is unsupported, and
    * values a flow computes in Scala when it runs are fixed for the query's
    * life. Per-trigger values belong in expressions, which the compiled
    * plan reads as runtime inputs of each trigger ([[TriggerInputs]]):
    * `current_timestamp()`, `now()`, `current_date()`, `localtimestamp()`
    * and `current_time()` give the trigger's time, and every random
    * expression (`uuid()`, `rand()`, `randn()`, `shuffle()`, ...) draws from
    * the trigger's seed, explicit seeds included, as Structured Streaming
    * reseeds them for every micro-batch: a trigger never repeats the
    * previous one's `@id`s. A flow whose plan needs a shuffle (an
    * aggregation, a join, `distinct`) or holds a subquery is planned anew on
    * every trigger, so a trigger never reads another's map output; only the
    * analysis is shared. SQL confs are fixed at query start, as for any
    * streaming query definition.
    */
  final case class Registration(river: River, flow: Routed => DataFrame,
      name: String = "river")

  /** Route one micro-batch (columns: key, value, plus any source metadata)
    * through every registration off a single persisted parse, handing the
    * sink ONE unioned (key, value) reply frame, valid during the sink call
    * (it reads the trigger's persisted parse): a single Spark job shares
    * the persisted parse across every river's plan, and — on Kafka — ONE
    * producer write per trigger instead of R sequential writes. The frame
    * promises no row order: a fused trigger's replies come partition by
    * partition, each partition's in registration order, an unfused one's
    * river by river. The persist
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
    * with zero extra Spark jobs. The counters are the accumulators of the
    * compiled plan's observe nodes, reset before each trigger's job, so a
    * trigger reads its own counts. Returns (registration name -> this batch's
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
      val t = template(batch, regs, observe)
      val parsed = t.parse(batch)
      parsed.persist()
      try regs.map(_.name).zip(t.run(parsed, sink))
      finally { parsed.unpersist(); () }
    }

  /** The physical plan a trigger's reply frame runs: the reply plan, with
    * the persisted parse's plan in place of every leaf that reads it. Valid
    * inside the sink call only.
    */
  private[streaming] def executedPlan(replies: DataFrame): SparkPlan = {
    val dag = replies.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
    val r = dag.flatMap(d => Option(running.get(d))).getOrElse(throw new IllegalArgumentException(
      "not the reply frame of a fanout trigger in its sink call"))
    r.reply.transformUp { case s: RDDScanExec if s.rdd.isInstanceOf[Leaf] => r.parse }
  }

  /** The plans of a trigger in flight: its reply plan and the plan of the
    * persisted parse bound into it.
    */
  private final case class Running(reply: SparkPlan, parse: SparkPlan)

  /** The triggers in flight, by the DAG their sink's frame reads. */
  private val running = new ConcurrentHashMap[RDD[InternalRow], Running]()

  /** The placeholder a template's plans are built over: a leaf with the
    * schema of the frame [[Template]] binds in its place. The analyzer gives
    * every union branch after the first its own copy (relation dedup,
    * through `newInstance`), so binding replaces every Slot, not one
    * instance.
    */
  private final case class Slot(output: Seq[Attribute])
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  }

  /** `plan` with every slot replaced by `source` under a projection keeping
    * the slot's attribute ids. Up, not down: a slot's replacement holds
    * the source plan, which has no slot to visit.
    */
  private def fill(plan: LogicalPlan, source: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case Slot(output) =>
        Project(output.zip(source.output).map { case (slot, in) =>
          Alias(in, slot.name)(exprId = slot.exprId)
        }, source)
    }

  private final case class LeafPartition(index: Int) extends Partition

  /** The leaf of a compiled reply DAG, in place of every [[Slot]]: partition
    * i reads partition i of whatever input the trigger binds. It declares
    * no dependencies, so the input's lineage must hold no shuffle
    * ([[Template.run]] checks). The
    * binding is part of the RDD, so a job's tasks carry the input it was
    * submitted with. When every branch of the reply union reaches the leaf
    * one-to-one and the input fills the cores, one task per input partition
    * reads partition i once for each branch ([[Fused]]).
    */
  private final class Leaf(sc: SparkContext, partitions: Int) extends RDD[InternalRow](sc, Nil) {
    @volatile private var input: RDD[InternalRow] = _
    @volatile private var inputPartitions: Array[Partition] = _

    def bind(rdd: RDD[InternalRow]): Unit = {
      inputPartitions = rdd.partitions
      require(inputPartitions.length == partitions,
        s"a reply DAG of $partitions partitions bound to ${inputPartitions.length}")
      input = rdd
    }

    def unbind(): Unit = { input = null; inputPartitions = null }

    override protected def getPartitions: Array[Partition] =
      Array.tabulate[Partition](partitions)(LeafPartition(_))

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val in = input
      if (in == null) throw new IllegalStateException(
        "a fanout reply frame ran outside its trigger: the frame is valid during the sink call only")
      in.iterator(inputPartitions(split.index), context)
    }
  }

  private final case class FusedPartition(index: Int, branches: Seq[Partition]) extends Partition

  /** The branches of a reply union in one task per input partition:
    * partition i iterates partition i of the first branch, then of the
    * second, and so on, lazily. Sound only when every branch reaches the
    * [[Leaf]] through one-to-one dependencies alone, so that branch k's
    * partition i reads input partition i ([[Template]] checks), and worth
    * it only when the input partitions fill the cores: `UnionRDD` runs
    * each branch's partitions as tasks of their own.
    */
  private final class Fused(sc: SparkContext, branches: Seq[RDD[InternalRow]])
      extends RDD[InternalRow](sc, branches.map(new OneToOneDependency(_))) {

    override protected def getPartitions: Array[Partition] =
      Array.tabulate[Partition](branches.head.getNumPartitions)(i =>
        FusedPartition(i, branches.map(_.partitions(i))))

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      branches.iterator.zip(split.asInstanceOf[FusedPartition].branches.iterator)
        .flatMap { case (branch, p) => branch.iterator(p, context) }
  }

  /** One compiled reply DAG: `dag` is the template's plan, planned and
    * code-generated once over `leaf`, for one input partition count.
    * Whoever binds the leaf holds this object's lock until the job ran.
    */
  private final class Compiled(val leaf: Leaf, val plan: SparkPlan, val dag: RDD[InternalRow]) {
    val metrics: Seq[CollectMetricsExec] = plan.collect { case c: CollectMetricsExec => c }
  }

  /** The analyzed plans of one (registration list, batch schema, session):
    * `parsePlan`, the rivers' shared parse ([[River.SharedParse]]) over a
    * batch [[Slot]], and `plan`, the unioned reply plan over [[Slot]]s of
    * that parse's output, its random and current-time expressions reading
    * the trigger ([[TriggerInputs]]). `metrics` holds, per registration,
    * the name of its observe node (empty when not observed). Holds no
    * batch between triggers.
    */
  private final class Template(val session: SparkSession, val schema: StructType,
      val observe: Boolean, parsePlan: LogicalPlan, plan: LogicalPlan, metrics: Seq[String]) {

    /** The shared parse of one batch, to persist for the trigger. */
    def parse(batch: DataFrame): DataFrame =
      Bridge.ofAnalyzed(batch.sparkSession,
        fill(parsePlan, batch.queryExecution.analyzed))

    /** Compiled DAGs by input partition count, until the plan proves to
      * need planning per trigger.
      */
    private val dags = mutable.Map.empty[Int, Compiled]
    private var perTrigger = false

    private def compiled(partitions: Int): Option[Compiled] = synchronized {
      if (perTrigger) None
      else dags.get(partitions).orElse {
        val c = compile(partitions)
        c match {
          case Some(d) => dags(partitions) = d
          case None => perTrigger = true
        }
        c
      }
    }

    /** `plan` over a [[Leaf]], planned and code-generated, unless it holds
      * an exchange, a subquery or adaptive execution: a reused shuffle
      * would serve an earlier trigger's map output.
      */
    private def compile(partitions: Int): Option[Compiled] = {
      val leaf = new Leaf(session.sparkContext, partitions)
      val qe = Bridge.ofAnalyzed(session, plan.transformUp {
        case Slot(output) => Bridge.rddPlan(session, output, leaf)
      }).queryExecution
      val executed = qe.executedPlan
      val shuffles = executed.exists {
        case _: Exchange | _: AdaptiveSparkPlanExec => true
        case p => p.subqueries.nonEmpty
      }
      if (shuffles) None else Some(new Compiled(leaf, executed, dag(qe, leaf)))
    }

    /** The RDD of `qe`'s executed plan. A union whose every branch reads
      * the leaf one-to-one runs as one task per input partition ([[Fused]])
      * when the input has at least as many partitions as the cluster has
      * cores (`defaultParallelism`): a fused task runs its partition's
      * branches one after another, so over fewer partitions the union's
      * task per branch partition keeps more cores busy. A branch over a
      * `CoalescedRDD`, say, reads several input partitions per task and is
      * never fused. Either way the RDD is wrapped as `toRdd` wraps it, so
      * the tasks run under the session's SQL confs; an unfused union is
      * `sparkContext.union` of the branches, the rows `UnionExec` builds.
      */
    private def dag(qe: QueryExecution, leaf: Leaf): RDD[InternalRow] = {
      val sc = session.sparkContext
      def oneToOne(rdd: RDD[_]): Boolean = (rdd eq leaf) || rdd.dependencies.nonEmpty &&
        rdd.dependencies.forall {
          case d: OneToOneDependency[_] => oneToOne(d.rdd)
          case _ => false
        }
      qe.executedPlan match {
        case u: UnionExec =>
          val branches = u.children.map(_.execute())
          val fuse = leaf.getNumPartitions >= sc.defaultParallelism && branches.forall(oneToOne)
          new SQLExecutionRDD(if (fuse) new Fused(sc, branches) else sc.union(branches),
            qe.sparkSession.sessionState.conf)
        case _ => qe.toRdd
      }
    }

    /** Hand the sink the replies of one trigger over its persisted `parsed`
      * batch, and return each registration's routing metrics (empty maps
      * when not observed). A compiled DAG runs with the parse bound to its
      * leaf; a plan with a shuffle, or a parse whose lineage holds one, is
      * bound and planned anew.
      */
    def run(parsed: DataFrame, sink: DataFrame => Unit): Seq[Map[String, Any]] = {
      val input = parsed.queryExecution
      // a leaf declares no dependencies, so the scheduler would never run a
      // shuffle in the input's lineage (a batch repartitioned upstream)
      def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
        case d: NarrowDependency[_] => narrow(d.rdd)
        case _ => false
      }
      TriggerInputs.around(session.sparkContext) {
        (if (narrow(input.toRdd)) compiled(input.toRdd.getNumPartitions) else None) match {
          case Some(c) => c.synchronized {
            c.leaf.bind(input.toRdd)
            try {
              c.metrics.foreach(_.resetMetrics())
              replies(c.plan, c.dag, input.executedPlan, sink)
            } finally c.leaf.unbind()
          }
          case None =>
            val qe = Bridge.ofAnalyzed(session, fill(plan, input.analyzed)).queryExecution
            replies(qe.executedPlan, qe.toRdd, input.executedPlan, sink)
        }
      }
    }

    private def replies(reply: SparkPlan, dag: RDD[InternalRow], parse: SparkPlan,
        sink: DataFrame => Unit): Seq[Map[String, Any]] = {
      running.put(dag, Running(reply, parse))
      try sink(Bridge.ofAnalyzed(session, Bridge.rddPlan(session, reply.output, dag)))
      finally running.remove(dag)
      lazy val rows = CollectMetricsExec.collect(reply)
      metrics.map { name => val r = rows(name); r.getValuesMap[Any](r.schema.fieldNames.toSeq) }
    }
  }

  /** Templates per registration list. Weak keys: a stopped query's
    * registrations leave with it, and their templates, compiled DAGs and
    * sessions with them.
    */
  private val templates = new java.util.WeakHashMap[Seq[Registration], List[Template]]()

  private def template(batch: DataFrame, regs: Seq[Registration], observe: Boolean): Template = {
    val session = batch.sparkSession
    val schema = batch.schema
    def live = templates.synchronized(Option(templates.get(regs)).getOrElse(Nil))
      .filter(!_.session.sparkContext.isStopped)
    live.find(t => (t.session eq session) && t.schema == schema && t.observe == observe)
      .getOrElse {
        val t = compile(session, schema, regs, observe)
        templates.synchronized { templates.put(regs, t :: live); () }
        t
      }
  }

  private def compile(session: SparkSession, schema: StructType, regs: Seq[Registration],
      observe: Boolean): Template = {
    def slot(schema: StructType) = Bridge.ofAnalyzed(session, Slot(DataTypeUtils.toAttributes(schema)))
    val shared = River.SharedParse(regs.map(_.river), "value")
    val parse = shared(slot(schema))
    val parsed = slot(parse.schema)
    val tag = java.util.UUID.randomUUID()
    val names = regs.indices.map(i => s"fanout-$tag-$i")
    val replies = regs.zip(names).map { case (r, metric) =>
      val routed = r.river.route(parsed, shared)
      // the flow reads THROUGH the observe node so the union's single
      // action executes it; metrics describe the routed stream, and the
      // flow's own filters (e.g. .passed) sit above the observation
      val in = if (observe) routed.copy(all = routed.observed(metric)) else routed
      rejectStateful(r.flow(in), r.name)
        .select(col("key").cast("string").as("key"), col("value").cast("string").as("value"))
    }
    val plan = TriggerInputs.rewrite(replies.reduce(_.unionAll(_)).queryExecution.analyzed)
    val observed = plan.collect { case c: CollectMetrics => c.name }.toSet
    val metrics = if (!observe) Nil else regs.zip(names).map { case (r, metric) =>
      require(observed.contains(metric),
        s"fanout river '${r.name}' must build its replies from its routed input " +
          "(its routing metrics observe that input)")
      metric
    }
    new Template(session, schema, observe, parse.queryExecution.analyzed, plan, metrics)
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
