package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Something that can wrap a call into a layer in a named span. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

/** Untraced: spans cost nothing and record nothing. */
object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** Tracing from outside graft: a span per call into a layer's public
  * function, tagged on the Spark side with a job group named after the
  * span, plus this benchmark's own SparkListener, QueryExecutionListener
  * and StreamingQueryListener. Everything stays in memory until the run
  * ends.
  *
  * Attribution: a job belongs to the span its job group names. Jobs under
  * another group (a streaming query runs its micro-batches on its own
  * thread and group) belong to the innermost span open when they were
  * submitted; so do query executions, which the listener bus reports
  * without a thread.
  *
  * The listeners keep only events that fall inside a top-level span, by
  * the event's own time, and drop the rest before any other work: an
  * operation run outside a span (the untraced half of a traced run) pays
  * no plan walk and no bookkeeping, so the traced and untraced halves
  * differ by the full cost of tracing.
  */
final class Tracer(spark: SparkSession, workload: String) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.length + 1, name, stack.headOption.map(_.id).getOrElse(0), workload,
      System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    if (stack.isEmpty) windows.synchronized(windows += s)
    stack = s :: stack
    sc.setJobGroup(Group + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Group + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // ------------------------------------------------------ event capture

  /** top-level spans, in start order */
  private val windows = mutable.ArrayBuffer.empty[Span]

  /** Whether epoch-ms `t` falls inside a top-level span (open or closed);
    * recent spans first, since events trail their span by little.
    */
  private def inSpan(t: Long): Boolean = windows.synchronized {
    var i = windows.length - 1
    while (i >= 0 && !(windows(i).startMs <= t && t <= windows(i).endMs)) i -= 1
    i >= 0
  }

  private val lock = new Object
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagesRun = mutable.Set.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  @volatile private var jobsEnded = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (inSpan(e.time)) lock.synchronized {
      jobGroup(e.jobId) = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (jobGroup.contains(e.jobId)) jobsEnded += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) stagesRun += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (stageJob.contains(e.stageId)) record(e)
    }
  }

  private def record(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += (if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0)
    else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (inSpan(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)) lock.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private[perfbench] def onQuery(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty && inSpan(phases.map(_.endTimeMs).max))
      lock.synchronized(qes += QeRec(funcName, phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum,
        newScanRows(qe)))
  }

  /** Scan nodes seen so far -> rows already counted. A cached plan's scan
    * shows up again in every query that reads the cache; only its growth
    * counts.
    */
  private val scanSeen = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()

  private def newScanRows(qe: QueryExecution): Long = lock.synchronized {
    ScanRows(qe.executedPlan).map { case (node, rows) =>
      val before = Option(scanSeen.put(node, rows)).map(_.longValue).getOrElse(0L)
      math.max(0L, rows - before)
    }.sum
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    Tracer.current = this
  }

  /** Wait until the listener buses have delivered the events of every job
    * started so far. Call before reading span metrics.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def pending = lock.synchronized(jobGroup.size - jobsEnded)
    while (pending > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(300) // query-execution events trail the job-end event
  }

  def stop(): Unit = {
    settle()
    Tracer.current = null
    spark.streams.removeListener(streamListener)
    sc.removeSparkListener(sparkListener)
  }

  def progressEvents: Seq[StreamingQueryListener.QueryProgressEvent] = lock.synchronized(progress.toVector)

  /** jobs the listener kept */
  def jobsRecorded: Int = lock.synchronized(jobGroup.size)

  // ------------------------------------------------------ span metrics

  /** Innermost span open at `t` (epoch ms), or 0. */
  private def spanAt(t: Long): Int =
    spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => -depth(s)).headOption.map(_.id).getOrElse(0)

  private def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(spans(s.parent - 1))

  private def jobSpan: Map[Int, Int] = lock.synchronized {
    jobGroup.map { case (job, g) =>
      val direct = Option(g).filter(_.startsWith(Group)).map(_.stripPrefix(Group).toInt)
      job -> direct.getOrElse(spanAt(jobStart(job)))
    }.toMap
  }

  private def children: Map[Int, Seq[Int]] = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id).toSeq }

  private def subtree(id: Int): Set[Int] = Set(id) ++ children.getOrElse(id, Nil).flatMap(subtree)

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Inclusive Spark metrics of a span: its own jobs and its descendants'. */
  def metrics(s: Span): SpanMetrics = lock.synchronized {
    val ids = subtree(s.id)
    val spanOfJob = jobSpan
    val jobs = spanOfJob.filter { case (_, sp) => ids(sp) }.keySet
    val stages = stageJob.filter { case (st, j) => jobs(j) && stagesRun(st) }.keySet
    val ts = tasks.filter(t => stages(t.stage)).toVector
    val myQes = qes.filter(q => ids(spanAt(q.endMs)))
    // driver self time: span wall minus the part of it covered by tasks
    val covered = union(ts.map(t => (math.max(t.launch, s.startMs), math.min(t.finish, s.endMs))).filter(iv => iv._2 > iv._1))
    // straggler ratio inside the stage with the most task time
    val skew = ts.groupBy(_.stage).values.toSeq.sortBy(-_.map(_.runMs).sum).headOption.map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.getOrElse(0.0)
    SpanMetrics(
      wallMs = s.wallMs,
      jobs = jobs.size,
      stages = stages.size,
      tasks = ts.size,
      taskMs = ts.map(_.runMs).sum,
      cpuMs = ts.map(_.cpuNs).sum / 1e6,
      gcMs = ts.map(_.gcMs).sum,
      planMs = myQes.map(_.planMs).sum,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      rowsRead = myQes.map(_.scanRows).sum,
      driverSelfMs = math.max(0.0, s.wallMs - covered),
      taskSkew = skew,
      queries = myQes.groupBy(_.funcName).map { case (k, v) => k -> v.size })
  }

  /** Every span with its metrics, for the span file. */
  def dump(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val m = metrics(s)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> s.workload,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "metrics" -> m.asMap)
  }
}

object Tracer {
  val Group = "perfbench-span-"

  /** The tracer QueryExecutionListener instances report to; null when
    * no traced run is active.
    */
  @volatile private[perfbench] var current: Tracer = null

  final case class Span(id: Int, name: String, parent: Int, workload: String, startMs: Long, startNs: Long) {
    @volatile var endMs: Long = Long.MaxValue
    @volatile var endNs: Long = 0L
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long)

  /** One query execution: its action, when planning ended, planning ms
    * (every phase of its QueryPlanningTracker) and rows its file scans
    * produced.
    */
  final case class QeRec(funcName: String, endMs: Long, planMs: Long, scanRows: Long)

  final case class SpanMetrics(wallMs: Double, jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      cpuMs: Double, gcMs: Long, planMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
      rowsRead: Long, driverSelfMs: Double, taskSkew: Double, queries: Map[String, Int]) {
    def asMap: Map[String, Any] = Map(
      "wall_ms" -> wallMs, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "plan_ms" -> planMs, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "rows_read" -> rowsRead, "driver_self_ms" -> driverSelfMs,
      "task_skew" -> taskSkew, "queries" -> queries)
  }

  /** Total length of the union of [start, end) intervals. */
  def union(ivs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** Rows produced by the file scans of an executed plan, adaptive stages
  * and subqueries included. A parquet scan produces every row of the row
  * groups it could not skip, so this counts rows read, before filters.
  */
object ScanRows extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** (scan node, rows it has produced), cached plans included */
  def apply(plan: SparkPlan): Seq[(AnyRef, Long)] =
    collectWithSubqueries(plan) {
      case s: DataSourceScanExec => Seq(s -> s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case c: InMemoryTableScanExec => apply(c.relation.cachedPlan)
    }.flatten
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session gets one, including the child sessions graft's CC loop plans
  * on; each forwards to the active [[Tracer]].
  */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.current).foreach(_.onQuery(funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Tracer.current).foreach(_.onQuery(funcName, qe))
}
