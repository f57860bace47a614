package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * fractions; `parent` is 0 for a root span. Spans of one query share `query`.
  */
final case class Span(id: Long, parent: Long, query: Long, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty)

/** Records the per-layer view of a traced run from outside the engine.
  *
  * Attribution uses two thread-local job properties that the harness sets
  * around each call into the program: [[Recorder.QueryKey]] (the query id)
  * and [[Recorder.PhaseKey]] (`build` while the query function constructs
  * its DataFrame, `execute` during the noop write). Every job carries them,
  * and every job names its SQL execution, so the planning phases and the
  * final plan that the [[QueryExecutionListener]] reports land on the same
  * query and phase as the job's stages and tasks.
  */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Recorder._

  final class Job(val id: Int, val query: Long, val phase: String,
                  val site: String, val execution: Long, val start: Long) {
    @volatile var end: Long = -1L
  }
  final class Stage(val id: Int, val job: Int) {
    var name = ""
    var submitted, completed, firstLaunch = -1L
    var tasks, emptyTasks = 0
    var runMs, cpuNs, gcMs, durationMs, inputB, shuffleReadB,
        shuffleWriteB, spillB = 0L
  }
  final class Execution(val id: Long, var query: Long, var phase: String) {
    @volatile var start, end = -1L
    @volatile var site = ""
    var durationNs = 0L
    /** planning phase -> (start, end) epoch ms */
    var phases: Map[String, (Long, Long)] = Map.empty
    var graftRulesNs = 0L
    var shape: Map[String, Int] = Map.empty
  }

  private val nextSpan = new AtomicLong(1)
  def spanId(): Long = nextSpan.getAndIncrement()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val executions = new ConcurrentHashMap[Long, Execution]()
  /** (query id, "build" | "write") -> the harness span of that phase. */
  val phaseSpans = new ConcurrentHashMap[(Long, String), Long]()
  /** RDD blocks stored while recording: rdd id -> bytes written. */
  val cachedRdds = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val query = prop(QueryKey).map(_.toLong).getOrElse(0L)
    val execution = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val phase = prop(PhaseKey).getOrElse("none")
    // a job inside a SQL execution (AQE submits its stages from pool
    // threads) takes the call site of the action that started the execution
    val site = Option(executions.get(execution)).map(_.site).filter(_.nonEmpty)
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.flatMap(s => graftFile(s.details)))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, query, phase, site, execution, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    if (execution >= 0) {
      val x = this.execution(execution)
      if (x.query == 0L) { x.query = query; x.phase = phase }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def stage(id: Int): Stage =
    stages.computeIfAbsent(id, i => new Stage(i, stageJob.getOrDefault(i, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.name = e.stageInfo.name
      s.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completed = e.stageInfo.completionTime.getOrElse(-1L) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      val launch = e.taskInfo.launchTime
      if (s.firstLaunch < 0 || launch < s.firstLaunch) s.firstLaunch = launch
      s.durationMs += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) s.emptyTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      b.blockId.asRDDId.foreach { r =>
        cachedRdds.merge(r.rddId, b.memSize + b.diskSize, (x, y) => x + y)
      }
  }

  // The query-execution listener gets the QueryExecution but not its
  // execution id; the SQL execution end event carries the id. Spark posts
  // both from the same queue thread for the same end event, one right after
  // the other, so each end event is paired with the QueryExecution reported
  // next to it, in whichever order they come. Their durations must agree.
  private var pendingQe: Option[(QueryExecution, Long)] = None
  private var pendingEnd: Option[Execution] = None

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = pendingEnd match {
    case Some(x) if agree(x, durationNs) =>
      attach(x, qe, durationNs); pendingEnd = None
    case _ => pendingQe = Some((qe, durationNs))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = {
    pendingQe = None; pendingEnd = None
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val x = execution(s.executionId)
      x.start = s.time
      x.site = graftFile(s.details).getOrElse("")
    case end: SparkListenerSQLExecutionEnd =>
      val x = execution(end.executionId)
      x.end = end.time
      pendingQe match {
        case Some((qe, d)) if agree(x, d) => attach(x, qe, d); pendingQe = None
        case _ => pendingEnd = Some(x)
      }
    case _ =>
  }

  private def agree(x: Execution, durationNs: Long): Boolean =
    x.start >= 0 && math.abs(durationNs / 1e6 - (x.end - x.start)) <= 5

  private def attach(x: Execution, qe: QueryExecution, durationNs: Long): Unit = {
    x.durationNs = durationNs
    x.phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    x.graftRulesNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    x.shape = try planShape(qe.executedPlan) catch { case _: Throwable => Map.empty }
  }

  private def execution(id: Long): Execution =
    executions.computeIfAbsent(id, i => new Execution(i, 0L, "none"))

  def planShape(plan: SparkPlan): Map[String, Int] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "grouped_topk" -> nodes.count(_.isInstanceOf[graft.plans.GroupedTopKExec]),
      "cached_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  /** True once every job and every SQL execution seen has ended. */
  def quiet: Boolean =
    jobs.values.asScala.forall(_.end >= 0) &&
      executions.values.asScala.forall(x => x.end >= 0 || x.start < 0)

  def clearCacheCounters(): Unit = cachedRdds.clear()
}

object Recorder {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  private val GraftFrame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** The program file a job was launched from: the innermost `graft.` frame
    * of a long-form call site ("Dedup" for a count in Dedup.scala). */
  def graftFile(callSite: String): Option[String] =
    GraftFrame.findFirstMatchIn(callSite).map(_.group(1))

  val Families: Seq[String] = Seq("Dedup", "Similarity", "Curation", "Graph",
    "Scale", "Multimodal", "TextAnalysis", "Temporal")
}
