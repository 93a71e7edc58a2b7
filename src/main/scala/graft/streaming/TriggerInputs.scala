package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimestamp,
  Expression, ExpressionWithRandomSeed, LeafExpression, LocalTimestamp, Nondeterministic, Now,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, DateType, TimeType, TimestampNTZType, TimestampType}

/** The per-trigger values of a fanout reply plan, passed as RUNTIME inputs.
  *
  * [[Fanout]] compiles a reply plan once and runs it on every trigger, so
  * nothing trigger-specific may be frozen into it. Spark freezes two kinds
  * of value into a plan: codegen writes the seed of `uuid()`, `rand()` and
  * the other random functions into the generated source, and the optimizer
  * (ComputeCurrentTime) folds `current_timestamp()`, `now()`,
  * `current_date()`, `localtimestamp()` and `current_time()` into literals.
  * [[rewrite]] replaces those expressions with [[TriggerSeeded]] and
  * [[TriggerTime]], which read the trigger's seed and instant from Spark
  * job-local properties that [[around]] sets for the jobs a trigger submits.
  * A task without them fails loudly rather than reuse a stale value.
  */
private[streaming] object TriggerInputs {

  private val SeedKey = "graft.trigger.seed"
  private val MicrosKey = "graft.trigger.micros"

  private val seeds = new java.util.Random()

  /** Run `body` with a fresh seed and the current instant as the job-local
    * inputs of every job it submits from this thread.
    */
  def around[A](sc: SparkContext)(body: => A): A = {
    val inputs = Seq(SeedKey -> seeds.nextLong().toString,
      MicrosKey -> DateTimeUtils.instantToMicros(java.time.Instant.now()).toString)
    val before = inputs.map { case (k, _) => k -> sc.getLocalProperty(k) }
    inputs.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** `plan` with every random and current-time expression reading its value
    * from the trigger. Each random expression gets a salt of its own, so two
    * of them never draw the same sequence within a trigger.
    */
  def rewrite(plan: LogicalPlan): LogicalPlan = plan.transform { case node =>
    // up: a rewritten random expression keeps the original as its child,
    // which must not be visited again
    node.transformExpressionsUp {
      case e: ExpressionWithRandomSeed => TriggerSeeded(e, seeds.nextLong())
      case CurrentTimestamp() | Now() => TriggerTime(TimestampType, None)
      case d: CurrentDate => TriggerTime(DateType, d.timeZoneId)
      case l: LocalTimestamp => TriggerTime(TimestampNTZType, l.timeZoneId)
      case t: CurrentTime => TriggerTime(t.dataType, t.timeZoneId)
    }
  }

  private def read(key: String): Long = {
    val value = Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty(key)))
    value.getOrElse(throw new IllegalStateException(
      s"job-local property $key is not set: a compiled fanout reply plan ran outside " +
        "its trigger (Fanout hands the sink a frame that is valid only during the sink call)"))
      .toLong
  }

  def seed(): Long = read(SeedKey)
  def micros(): Long = read(MicrosKey)
}

/** `child`, a random expression, drawing from the trigger's seed mixed with
  * `salt` instead of the seed it was analyzed with. Evaluated through the
  * interpreter: the generated source then holds no seed and is the same on
  * every trigger.
  */
private[streaming] case class TriggerSeeded(child: Expression, salt: Long) extends UnaryExpression
    with Nondeterministic with CodegenFallback {

  @transient private var live: Expression = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    val seed = TriggerInputs.seed() ^ salt
    // every seed below, not only the child's: the optimizer may have
    // replaced the child (uniform() becomes arithmetic over rand())
    live = child.transformUp { case e: ExpressionWithRandomSeed => e.withNewSeed(seed) }
    live.foreach {
      case n: Nondeterministic => n.initialize(partitionIndex)
      case _ =>
    }
  }

  override protected def evalInternal(input: InternalRow): Any = live.eval(input)

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "trigger_seeded"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The trigger's instant as `dataType`: TIMESTAMP for `current_timestamp()`
  * and `now()`, DATE, TIMESTAMP_NTZ and TIME in `zone` for `current_date()`,
  * `localtimestamp()` and `current_time()`, as ComputeCurrentTime would fold
  * them. Read once per task (tasks deserialize their own expressions).
  */
private[streaming] case class TriggerTime(dataType: DataType, zone: Option[String]) extends LeafExpression
    with CodegenFallback {

  @transient private lazy val value: Any = {
    val micros = TriggerInputs.micros()
    lazy val zoneId = DateTimeUtils.getZoneId(zone.get)
    dataType match {
      case TimestampType => micros
      case DateType => DateTimeUtils.microsToDays(micros, zoneId)
      case TimestampNTZType => DateTimeUtils.localDateTimeToMicros(
        LocalDateTime.ofInstant(DateTimeUtils.microsToInstant(micros), zoneId))
      case t: TimeType => DateTimeUtils.truncateTimeToPrecision(
        DateTimeUtils.instantToNanosOfDay(DateTimeUtils.microsToInstant(micros), zoneId),
        t.precision)
    }
  }

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def prettyName: String = "trigger_time"
}
