package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side tracing: Spark jobs, stages and tasks (with the span that
  * submitted them), driver planning phases and streaming progress, recorded
  * between [[attach]] and [[detach]].
  *
  * A job's parent span is read from the [[Probe.ParentProp]] local property
  * that the benchmark's wrappers set on the submitting thread.
  */
final class Probe(spark: SparkSession, cores: Int) {
  import Probe._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobEnds = mutable.Map.empty[Int, Double]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(ParentProp))).getOrElse("")
      jobs += JobRec(e.jobId, e.time.toDouble, parent, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobEnds(e.jobId) = e.time.toDouble }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
      val i = e.stageInfo
      val end = i.completionTime.map(_.toDouble).getOrElse(0.0)
      stages += StageRec(i.stageId, i.attemptNumber(), i.submissionTime.map(_.toDouble).getOrElse(end), end)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks += (if (m == null)
        TaskRec(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble, 0, 0, 0, 0, 0, !i.successful)
      else TaskRec(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, !i.successful))
    }
  }

  /** Adds the planning phases of one executed query. */
  private[perfbench] def phasesOf(qe: QueryExecution): Unit = phases.synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs.toDouble }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress; () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    active = Some(this)
  }

  /** Waits until every event posted so far has been delivered, then stops
    * listening.
    */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    active = None
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def progresses: Seq[StreamingQueryProgress] = progress.synchronized(progress.toVector)

  private def stageToJob: Map[Int, JobRec] = jobs.synchronized {
    jobs.reverseIterator.flatMap(j => j.stageIds.map(_ -> j)).toMap
  }

  /** Job and stage spans, parented to the span that submitted each job
    * (`root` when none did).
    */
  def spans(root: String): Seq[Span] = {
    val s2j = stageToJob
    val js = jobs.synchronized(jobs.toVector.map(j =>
      Span(s"job-${j.id}", "job", if (j.parent.isEmpty) root else j.parent, j.start,
        jobEnds.getOrElse(j.id, j.start))))
    val ss = stages.synchronized(stages.toVector.flatMap(s =>
      s2j.get(s.id).map(j => Span(s"stage-${s.id}.${s.attempt}", "stage", s"job-${j.id}", s.submit, s.end))))
    js ++ ss
  }

  /** Scheduler and executor totals over everything recorded, for a window
    * `wallMs` long.
    */
  def totals(wallMs: Double): Map[String, Double] = {
    val js = jobs.synchronized(jobs.toVector)
    val ss = stages.synchronized(stages.toVector)
    val ts = tasks.synchronized(tasks.toVector)
    val submitted = ss.map(_.id).toSet
    val ph = phases.synchronized(phases.toMap.withDefaultValue(0.0))
    val runMs = ts.map(_.runMs.toDouble).sum
    val busyMs = Stats.unionLength(ts.map(t => (t.launch, t.finish)))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.stages_skipped" -> js.flatMap(_.stageIds).distinct.count(id => !submitted(id)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.tasks_failed" -> ts.count(_.failed).toDouble,
      "spark.analysis_ms" -> ph("analysis"),
      "spark.optimization_ms" -> ph("optimization"),
      "spark.planning_ms" -> ph("planning"),
      "spark.executor_run_s" -> runMs / 1000,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs.toDouble).sum / 1e9,
      "spark.driver_only_s" -> math.max(0.0, wallMs - busyMs) / 1000,
      "spark.executor_busy_ratio" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite.toDouble).sum / Mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead.toDouble).sum / Mb,
      "spark.spill_mb" -> ts.map(_.spill.toDouble).sum / Mb)
  }

  /** Jobs, executor CPU seconds and driver-only seconds of the work that
    * span `id` (covering `start` to `end`) submitted.
    */
  def under(id: String, start: Double, end: Double): (Int, Double, Double) = {
    val js = jobs.synchronized(jobs.filter(_.parent == id).toVector)
    val stageIds = js.flatMap(_.stageIds).toSet
    val ts = tasks.synchronized(tasks.filter(t => stageIds(t.stageId)).toVector)
    val busy = Stats.unionLength(ts.map(t => (math.max(t.launch, start), math.min(t.finish, end))))
    (js.size, ts.map(_.cpuNs.toDouble).sum / 1e9, math.max(0.0, end - start - busy) / 1000)
  }

  /** Executor CPU seconds of every task recorded so far. */
  def cpuSeconds: Double = tasks.synchronized(tasks.map(_.cpuNs.toDouble).sum) / 1e9
}

object Probe {
  /** Local property naming the span that submits the next jobs. */
  val ParentProp = "perfbench.parent"

  @volatile private var active: Option[Probe] = None

  /** Hands each executed query's planning phases to the attached probe.
    * Registered once per session, before any streaming query starts: a
    * streaming query clones the session, and with it only the listeners
    * registered so far.
    */
  object PhaseForwarder extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      active.foreach(_.phasesOf(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val Mb = 1024.0 * 1024.0

  private final case class JobRec(id: Int, start: Double, parent: String, stageIds: Seq[Int])
  private final case class StageRec(id: Int, attempt: Int, submit: Double, end: Double)
  private final case class TaskRec(stageId: Int, launch: Double, finish: Double, runMs: Long,
      cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)

  /** Runs `body` with its jobs attributed to span `id`. */
  def under[A](spark: SparkSession, id: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ParentProp)
    sc.setLocalProperty(ParentProp, id)
    try body finally sc.setLocalProperty(ParentProp, prev)
  }
}
