package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark's own layers, gathered only through
  * Spark's public listeners on the benchmark's session:
  *  - `QueryExecutionListener`: planning-phase times (`qe.tracker`) and
  *    the executed plan's exchanges and in-memory scans;
  *  - `SparkListener`: jobs (with their job group), stages, task metrics,
  *    AQE plan updates and RDD block writes (cache builds);
  *  - `StreamingQueryListener`: micro-batch progress.
  * Jobs and plan executions also become spans. All times are wall-clock
  * milliseconds as Spark reports them. */
final class Probe(spark: SparkSession, tracer: Tracer) {
  import Probe._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val stages = new ConcurrentLinkedQueue[(Long, Boolean)] // (completion ms, failed)
  val aqeUpdates = new ConcurrentLinkedQueue[Long]
  val blockPuts = new ConcurrentLinkedQueue[(Long, Int)] // (ms, rdd id)
  val execs = new ConcurrentLinkedQueue[ExecRec]
  val progress = new ConcurrentLinkedQueue[ProgressRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse(""),
        ok = true))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j =>
        jobs.put(e.jobId, j.copy(endMs = e.time, ok = e.jobResult == JobSucceeded)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add((e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
        e.stageInfo.failureReason.isDefined))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add(TaskRec(
        finishMs = if (i.finishTime > 0) i.finishTime else System.currentTimeMillis(),
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        deserMs = m.map(_.executorDeserializeTime).getOrElse(0L),
        shWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        fetchWaitMs = m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        input = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        failed = e.reason != org.apache.spark.Success,
        retry = i.attemptNumber > 0))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blockPuts.add((System.currentTimeMillis(), b.blockId.asRDDId.get.rddId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates.add(System.currentTimeMillis())
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, failed = true)
  }

  private def record(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) =
      ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    val (ex, scans) = try planShape(qe.executedPlan) catch { case _: Throwable => (0, 0) }
    execs.add(ExecRec(System.currentTimeMillis(), funcName,
      phase("analysis"), phase("optimization"), phase("planning"), ex, scans, failed))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      progress.add(ProgressRec(p.batchId, start, start + d.getOrElse("triggerExecution", 0L), d,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.numRowsRemoved).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spark-layer metrics over the window [lo, hi] (span clock). */
  def layers(lo: Long, hi: Long, cores: Int): VectorMap[String, Double] = {
    drain()
    val wlo = tracer.toWallMs(lo)
    val whi = tracer.toWallMs(hi)
    def in(ms: Long) = ms >= wlo && ms <= whi
    val js = jobs.values().asScala.toVector.filter(j => j.endMs >= wlo && j.startMs <= whi)
    val ts = tasks.asScala.toVector.filter(t => in(t.finishMs))
    val es = execs.asScala.toVector.filter(e => in(e.atMs))
    val builds = blockPuts.asScala.filter(b => in(b._1)).map(_._2).toSet.size
    val scans = es.map(_.scans).sum
    val windowMs = (hi - lo) / 1e6
    val busyMs = Tracer.covered(js.map(j => (j.startMs, math.max(j.endMs, j.startMs))), wlo, whi)
    def ph(f: ExecRec => (Long, Long)) = es.map(e => f(e)._2 - f(e)._1).sum.toDouble
    val runMs = ts.map(_.runMs).sum.toDouble
    VectorMap(
      "plan.analysis_ms" -> ph(_.analysis),
      "plan.optimization_ms" -> ph(_.optimization),
      "plan.planning_ms" -> ph(_.planning),
      "plan.aqe_replans" -> aqeUpdates.asScala.count(in).toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> stages.asScala.count(s => in(s._1)).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.driver_gap_ms" -> math.max(0.0, windowMs - busyMs),
      "sched.job_busy_ms" -> busyMs.toDouble,
      "exec.run_ms" -> runMs,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.deser_ms" -> ts.map(_.deserMs).sum.toDouble,
      "exec.busy_frac" -> (if (windowMs > 0) runMs / (windowMs * cores) else 0.0),
      "shuffle.exchanges" -> es.map(_.exchanges).sum.toDouble,
      "shuffle.write_mb" -> ts.map(_.shWrite).sum / MB,
      "shuffle.read_mb" -> ts.map(_.shRead).sum / MB,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spill.mb" -> ts.map(_.spill).sum / MB,
      "sources.input_mb" -> ts.map(_.input).sum / MB,
      "cache.scans" -> scans.toDouble,
      "cache.builds" -> builds.toDouble,
      "cache.reuse_ratio" -> (if (scans > 0) math.max(0, scans - builds).toDouble / scans else 0.0),
      "tasks.failed" -> ts.count(_.failed).toDouble,
      "tasks.retried" -> ts.count(_.retry).toDouble)
  }

  /** Micro-batch progress whose trigger started inside [lo, hi]. */
  def progressIn(lo: Long, hi: Long): Vector[ProgressRec] = {
    drain()
    val wlo = tracer.toWallMs(lo)
    val whi = tracer.toWallMs(hi)
    progress.asScala.toVector.filter(p => p.startMs >= wlo && p.startMs <= whi).sortBy(_.batchId)
  }

  /** Jobs, plan phases and micro-batches as spans. A job's parent is the
    * bench span whose trace id is its job group (batch queries), else the
    * micro-batch it ran in. */
  def emitSpans(roots: Map[String, Long]): Unit = {
    drain()
    val mb = progress.asScala.toVector.map { p =>
      p.batchId -> tracer.add(s"mb:${p.batchId}", "streaming.trigger", 0L,
        tracer.fromWallMs(p.startMs), tracer.fromWallMs(p.endMs),
        Map("input_rows" -> p.inputRows, "state_rows" -> p.stateRows))
    }.toMap
    jobs.values().asScala.foreach { j =>
      val parent = roots.getOrElse(j.group,
        scala.util.Try(j.batchId.toLong).toOption.flatMap(mb.get).getOrElse(0L))
      val trace = if (roots.contains(j.group)) j.group
        else if (j.batchId.nonEmpty) s"mb:${j.batchId}" else "job"
      tracer.add(trace, "sched.job", parent, tracer.fromWallMs(j.startMs),
        tracer.fromWallMs(math.max(j.endMs, j.startMs)), Map("job" -> j.jobId, "ok" -> j.ok))
    }
    execs.asScala.foreach { e =>
      Seq("plan.analysis" -> e.analysis, "plan.optimization" -> e.optimization,
          "plan.planning" -> e.planning).foreach { case (n, (s, t)) =>
        if (t > 0) tracer.add("plan", n, 0L, tracer.fromWallMs(s), tracer.fromWallMs(t),
          Map("func" -> e.func))
      }
    }
  }
}

object Probe {
  val MB: Double = 1024.0 * 1024.0

  final case class JobRec(jobId: Int, startMs: Long, endMs: Long, group: String,
      batchId: String, ok: Boolean)
  final case class TaskRec(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      deserMs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long,
      input: Long, failed: Boolean, retry: Boolean)
  final case class ExecRec(atMs: Long, func: String, analysis: (Long, Long),
      optimization: (Long, Long), planning: (Long, Long), exchanges: Int, scans: Int,
      failed: Boolean)
  final case class ProgressRec(batchId: Long, startMs: Long, endMs: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long,
      stateUpdated: Long, stateRemoved: Long, stateBytes: Long, stateCommitMs: Long)

  /** (shuffle exchanges, in-memory scans) in an executed plan, looking
    * through AQE wrappers, query stages and subqueries; reused exchanges
    * count once. */
  def planShape(root: SparkPlan): (Int, Int) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var ex = 0
    var scans = 0
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: ReusedExchangeExec => ()
        case _ =>
          if (p.isInstanceOf[ShuffleExchangeLike]) ex += 1
          if (p.isInstanceOf[InMemoryTableScanExec]) scans += 1
          p.children.foreach(visit)
          p.subqueries.foreach(visit)
      }
    }
    visit(root)
    (ex, scans)
  }
}
