package perfbench

import scala.collection.mutable
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  QueryExecution, SparkPlan, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Operator-level facts read from executed physical plans (their SQL
  * metrics), summed over every plan an op ran. */
final case class PlanStats(
    exchanges: Long = 0, broadcasts: Long = 0,
    aggMs: Long = 0, sortMs: Long = 0,
    scanRows: Long = 0, scanBytes: Long = 0, scanFiles: Long = 0,
    scanMs: Long = 0, writeRows: Long = 0, writeBytes: Long = 0,
    writeFiles: Long = 0, nativeNodes: Long = 0, fallbackNodes: Long = 0,
    kernelCodegenStages: Set[Int] = Set.empty) {
  def +(o: PlanStats): PlanStats = PlanStats(
    exchanges + o.exchanges, broadcasts + o.broadcasts,
    aggMs + o.aggMs, sortMs + o.sortMs, scanRows + o.scanRows,
    scanBytes + o.scanBytes, scanFiles + o.scanFiles, scanMs + o.scanMs,
    writeRows + o.writeRows, writeBytes + o.writeBytes,
    writeFiles + o.writeFiles, nativeNodes + o.nativeNodes,
    fallbackNodes + o.fallbackNodes,
    kernelCodegenStages ++ o.kernelCodegenStages)
}

object PlanStats extends AdaptiveSparkPlanHelper {

  /** A graft native expression or aggregate: a Catalyst node defined
    * by the program itself rather than by Spark. */
  def isNative(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.")

  private def natives(p: SparkPlan): Seq[Expression] =
    p.expressions.flatMap(_.collect { case e if isNative(e) => e })

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Nodes of one codegen stage: the stage's subtree down to its
    * input adapters. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageNodes)
  }

  def of(plan: SparkPlan): PlanStats = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    nodes.foldLeft(PlanStats()) { (s, p) =>
      val nat = natives(p)
      val base = s.copy(nativeNodes = s.nativeNodes + nat.size,
        fallbackNodes = s.fallbackNodes +
          nat.count(_.isInstanceOf[CodegenFallback]))
      p match {
        case _: ShuffleExchangeLike => base.copy(exchanges = base.exchanges + 1)
        case _: BroadcastExchangeLike =>
          base.copy(broadcasts = base.broadcasts + 1)
        case a: BaseAggregateExec =>
          base.copy(aggMs = base.aggMs + metric(a, "aggTime"))
        case so: SortExec => base.copy(sortMs = base.sortMs + metric(so, "sortTime"))
        case f: FileSourceScanExec => base.copy(
          scanRows = base.scanRows + metric(f, "numOutputRows"),
          scanBytes = base.scanBytes + metric(f, "filesSize"),
          scanFiles = base.scanFiles + metric(f, "numFiles"),
          scanMs = base.scanMs + metric(f, "scanTime"))
        case w: DataWritingCommandExec => base.copy(
          writeRows = base.writeRows + metric(w, "numOutputRows"),
          writeBytes = base.writeBytes + metric(w, "numOutputBytes"),
          writeFiles = base.writeFiles + metric(w, "numFiles"))
        case w: WholeStageCodegenExec
            if stageNodes(w.child).exists(natives(_).nonEmpty) =>
          base.copy(kernelCodegenStages =
            base.kernelCodegenStages + w.codegenStageId)
        case _ => base
      }
    }
  }
}

/** Task totals of a set of stages. */
final class TaskTotals {
  var tasks = 0L; var failures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L; var peakExecMem = 0L
  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; failures += o.failures; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteNs += o.shuffleWriteNs
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

final class StageRec(val id: Int, val job: Int) {
  val totals = new TaskTotals
  var submitted = Double.NaN
  var completed = Double.NaN
  var scopes: Set[String] = Set.empty
  def interval: Option[Interval] =
    if (submitted.isNaN || completed.isNaN) None
    else Some(Interval(submitted, completed))
}

final class JobRec(val id: Int, val group: String, val start: Double,
                   val stageIds: Seq[Int]) {
  var end = Double.NaN
  def interval: Interval = Interval(start, if (end.isNaN) start else end)
}

/** What the listener saw for one job group (one span of the trace). */
final case class GroupView(jobs: Seq[JobRec], stages: Seq[StageRec],
                           totals: TaskTotals, writeSpans: Seq[Interval])

/** Spark listener that keeps job, stage and task metrics keyed by job
  * group, plus the plans of every Dataset action, read through
  * Spark's public listener interfaces. Events are delivered on the
  * listener bus thread; [[drain]] makes everything posted so far
  * visible to the harness thread. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlStart = mutable.Map.empty[Long, (Option[String], Double, Boolean)]
  private val writes = mutable.Map.empty[String, Vector[Interval]]
  private var actionPlans = PlanStats()
  @volatile var recording = true

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (recording) {
      val s = PlanStats.of(qe.executedPlan)
      SparkProbe.this.synchronized { actionPlans = actionPlans + s }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)

  /** Plan stats of the Dataset actions delivered since the last call. */
  def takeActionPlans(): PlanStats = synchronized {
    val s = actionPlans
    actionPlans = PlanStats()
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, group, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) {
        val id = e.stageInfo.stageId
        val s = stages.getOrElseUpdate(id, new StageRec(id, stageJob(id)))
        e.stageInfo.submissionTime.foreach(t => s.submitted = t.toDouble)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        e.stageInfo.submissionTime.foreach(t => s.submitted = t.toDouble)
        e.stageInfo.completionTime.foreach(t => s.completed = t.toDouble)
        s.scopes = e.stageInfo.rddInfos.flatMap(BenchAccess.scopeName).toSet
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val t = s.totals
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        val info = e.taskInfo
        val schedDelay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        t.waitMs += schedDelay + m.executorDeserializeTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.diskBytesSpilled
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if recording =>
      val isWrite = s.sparkPlanInfo.nodeName.startsWith("Execute ") &&
        Seq("Insert", "Write", "SaveInto", "AsSelect")
          .exists(s.sparkPlanInfo.nodeName.contains)
      synchronized { sqlStart(s.executionId) = (s.jobGroupId, s.time.toDouble, isWrite) }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(end.executionId).foreach {
        case (Some(g), t0, true) =>
          writes(g) = writes.getOrElse(g, Vector.empty) :+
            Interval(t0, end.time.toDouble)
        case _ =>
      }
    }
    case _ =>
  }

  /** Everything recorded for `group`; the records are then dropped. */
  def take(group: String): GroupView = synchronized {
    val js = jobs.values.filter(_.group == group).toSeq.sortBy(_.id)
    val ids = js.map(_.id).toSet
    val ss = stages.values.filter(s => stageJob.get(s.id).exists(ids))
      .toSeq.sortBy(_.id)
    val totals = new TaskTotals
    ss.foreach(s => totals.add(s.totals))
    val ws = writes.remove(group).getOrElse(Vector.empty)
    js.foreach(j => jobs.remove(j.id))
    ss.foreach(s => stages.remove(s.id))
    GroupView(js, ss, totals, ws)
  }
}
