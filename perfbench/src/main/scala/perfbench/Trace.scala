package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed window at a layer boundary. Times are epoch milliseconds,
  * fractional for the benchmark's own spans, whole for Spark jobs. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

/** The spans of one run, kept in memory and written out at the end. */
final class Spans {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]

  /** Epoch milliseconds on the monotonic clock. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def add(parent: Int, kind: String, name: String, start: Double,
      end: Double): Int = synchronized {
    buf += Span(buf.size, parent, kind, name, start, end)
    buf.size - 1
  }

  /** Reserve an id for a span whose end is not known yet. */
  def open(parent: Int, kind: String, name: String, start: Double): Int =
    add(parent, kind, name, start, Double.NaN)

  def close(id: Int, end: Double): Unit = synchronized {
    buf(id) = buf(id).copy(end = end)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per span kind: each span's duration minus the part of it
    * its children cover. */
  def selfTimeByKind: Seq[(String, Double, Int)] = {
    val spans = all.filterNot(_.end.isNaN)
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.kind -> ((s.end - s.start) - Stats.unionLength(kids, s.start, s.end))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      (k, xs.map(_._2).sum / 1000.0, xs.size)
    }
  }

  def toJsonLines: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
      f""""name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }.mkString("", "\n", "\n")
}

/** Counters for one phase of one op (fit, predict, build or action) in a
  * traced cycle. Written from the listener bus thread, read by the client
  * thread after the bus is drained. */
final class PhaseAcc(val kind: String, val spanId: Int) {
  var start = 0.0
  var end = 0.0
  var jobs, stages, stagesRetried, tasks, tasksFailed = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var blockWrites, blockBytes = 0L
  var sqlExecutions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenFallbacks = 0L
  val taskIntervals = ArrayBuffer.empty[(Double, Double)]
  // streaming progress, one entry per micro-batch
  val batchMs = ArrayBuffer.empty[Double]
  var inputRows, addBatchMs, queryPlanningMs, walCommitMs, offsetsMs,
    stateCommitMs = 0L
  /** Last reported state size per streaming query run. */
  val stateRows = scala.collection.mutable.Map.empty[String, Long]
  val stateMem = scala.collection.mutable.Map.empty[String, Long]

  def wallS: Double = (end - start) / 1000.0
  def idleS: Double = Stats.idle(taskIntervals.toSeq, start, end) / 1000.0
}

/** Counts the whole-stage codegen fallbacks Spark logs: a generated
  * method over the JVM's 64 KB limit (the compiled tree scorers reach it
  * at three depth-8 trees or a few dozen depth-5 ones) or over the
  * huge-method limit runs the plan interpreted instead. Spark reports
  * this only in its log. */
object CodegenFallbacks {
  private val count = new AtomicLong
  private val loggerName =
    "org.apache.spark.sql.execution.WholeStageCodegenExec"

  def value: Long = count.get

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getAppender("perfbench-codegen") != null) return
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("Whole-stage codegen disabled")) count.incrementAndGet()
    }
    app.start()
    cfg.addAppender(app)
    // INFO is needed for the huge-method case; additivity off keeps those
    // messages off the console
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }
}

/** Spark listener for the traced cycles: attributes every job, stage,
  * task, block write and streaming progress event to the phase that was
  * open when it started, and records one span per job. */
final class LayerListener(spans: Spans) extends SparkListener
    with QueryExecutionListener {
  @volatile var current: PhaseAcc = null
  private val stagePhase = new ConcurrentHashMap[Int, PhaseAcc]
  private val jobOpen = new ConcurrentHashMap[Int, (PhaseAcc, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = current
    if (a != null) a.synchronized {
      a.jobs += 1
      e.stageIds.foreach(stagePhase.put(_, a))
      jobOpen.put(e.jobId, (a, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (a, t0) =>
      spans.add(a.spanId, "job", s"job${e.jobId}", t0.toDouble,
        e.time.toDouble)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stagePhase.get(e.stageInfo.stageId)).foreach { a =>
      a.synchronized {
        if (e.stageInfo.attemptNumber() == 0) a.stages += 1
        else a.stagesRetried += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stagePhase.get(e.stageId)).foreach { a =>
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) a.tasksFailed += 1
        a.taskIntervals += ((e.taskInfo.launchTime.toDouble,
          e.taskInfo.finishTime.toDouble))
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val a = current
    val b = e.blockUpdatedInfo
    if (a != null && b.blockId.isRDD && b.storageLevel.isValid) a.synchronized {
      a.blockWrites += 1
      a.blockBytes += b.memSize + b.diskSize
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val a = current
      if (a != null) a.synchronized {
        val pr = p.progress
        def d(k: String): Long =
          Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        a.batchMs += d("triggerExecution").toDouble
        a.inputRows += pr.numInputRows
        a.addBatchMs += d("addBatch")
        a.queryPlanningMs += d("queryPlanning")
        a.walCommitMs += d("walCommit")
        a.offsetsMs += d("latestOffset") + d("commitOffsets") + d("getBatch")
        a.stateCommitMs += pr.stateOperators.map(_.commitTimeMs).sum
        a.stateRows(pr.runId.toString) = pr.stateOperators.map(_.numRowsTotal).sum
        a.stateMem(pr.runId.toString) =
          pr.stateOperators.map(_.memoryUsedBytes).sum
      }
    case _ =>
  }

  private def onExecution(qe: QueryExecution): Unit = {
    val a = current
    if (a != null) a.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      a.sqlExecutions += 1
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onExecution(qe)
}

/** Per-layer metrics of one traced cycle, from its phases. */
object LayerMetrics {
  /** Name and unit of every per-layer metric, in report order. */
  val units: Seq[(String, String)] = Seq(
    "ml.fit.jobs" -> "count", "ml.fit.stages" -> "count",
    "ml.fit.tasks" -> "count", "ml.fit.idle_s" -> "s",
    "ml.fit.jobs_per_tree" -> "count", "ml.fit.task_s" -> "s",
    "ml.predict.wall_s" -> "s", "ml.predict.task_s" -> "s",
    "ml.predict.rows_per_s" -> "1/s",
    "ml.holdout_accuracy" -> "ratio", "ml.holdout_r2" -> "ratio",
    "codegen.fallbacks" -> "count",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "operators.action_s" -> "s", "operators.action_jobs" -> "count",
    "storage.block_writes" -> "count", "storage.block_bytes" -> "bytes",
    "catalyst.executions" -> "count", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.idle_s" -> "s",
    "scheduler.tasks_failed" -> "count",
    "scheduler.stages_retried" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "executor.task_s" -> "s", "executor.cpu_s" -> "s",
    "executor.gc_s" -> "s", "executor.util" -> "ratio",
    "streaming.batches" -> "count", "streaming.input_rows" -> "count",
    "streaming.batch_ms.p50" -> "ms", "streaming.batch_ms.p90" -> "ms",
    "streaming.events_per_s" -> "1/s",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "trace.overhead" -> "ratio")

  /** Metrics of one cycle. `wallS` is the cycle's wall, `trees` the trees
    * its fits grew, `predictRows` the rows its predictions scored, and
    * `quality` the model quality figures its ops reported (0 where the
    * workload has none). */
  def of(phases: Seq[PhaseAcc], wallS: Double, start: Double, end: Double,
      cores: Int, trees: Int, predictRows: Long,
      quality: Map[String, Double]): Map[String, Double] = {
    def sum(ps: Seq[PhaseAcc])(f: PhaseAcc => Double): Double =
      ps.map(f).sum
    val fit = phases.filter(_.kind == "fit")
    val pred = phases.filter(_.kind == "predict")
    val build = phases.filter(_.kind == "build")
    val action = phases.filter(_.kind == "action")
    val allTasks = phases.flatMap(_.taskIntervals)
    val taskS = sum(phases)(_.taskMs / 1000.0)
    val batches = phases.flatMap(_.batchMs)
    val predWall = sum(pred)(_.wallS)
    val inputRows = sum(phases)(_.inputRows.toDouble)
    def pct(p: Double) =
      if (batches.isEmpty) 0.0 else Stats.percentile(batches, p).value
    Map(
      "ml.fit.jobs" -> sum(fit)(_.jobs.toDouble),
      "ml.fit.stages" -> sum(fit)(_.stages.toDouble),
      "ml.fit.tasks" -> sum(fit)(_.tasks.toDouble),
      "ml.fit.idle_s" -> sum(fit)(_.idleS),
      "ml.fit.jobs_per_tree" ->
        (if (trees > 0) sum(fit)(_.jobs.toDouble) / trees else 0.0),
      "ml.fit.task_s" -> sum(fit)(_.taskMs / 1000.0),
      "ml.predict.wall_s" -> predWall,
      "ml.predict.task_s" -> sum(pred)(_.taskMs / 1000.0),
      "ml.predict.rows_per_s" ->
        (if (predWall > 0) predictRows / predWall else 0.0),
      "ml.holdout_accuracy" -> quality.getOrElse("ml.holdout_accuracy", 0.0),
      "ml.holdout_r2" -> quality.getOrElse("ml.holdout_r2", 0.0),
      "codegen.fallbacks" -> sum(phases)(_.codegenFallbacks.toDouble),
      "operators.build_s" -> sum(build)(_.wallS),
      "operators.build_jobs" -> sum(build)(_.jobs.toDouble),
      "operators.action_s" -> sum(action)(_.wallS),
      "operators.action_jobs" -> sum(action)(_.jobs.toDouble),
      "storage.block_writes" -> sum(phases)(_.blockWrites.toDouble),
      "storage.block_bytes" -> sum(phases)(_.blockBytes.toDouble),
      "catalyst.executions" -> sum(phases)(_.sqlExecutions.toDouble),
      "catalyst.analysis_s" -> sum(phases)(_.analysisMs / 1000.0),
      "catalyst.optimization_s" -> sum(phases)(_.optimizationMs / 1000.0),
      "catalyst.planning_s" -> sum(phases)(_.planningMs / 1000.0),
      "scheduler.jobs" -> sum(phases)(_.jobs.toDouble),
      "scheduler.stages" -> sum(phases)(_.stages.toDouble),
      "scheduler.tasks" -> sum(phases)(_.tasks.toDouble),
      "scheduler.idle_s" -> Stats.idle(allTasks, start, end) / 1000.0,
      "scheduler.tasks_failed" -> sum(phases)(_.tasksFailed.toDouble),
      "scheduler.stages_retried" -> sum(phases)(_.stagesRetried.toDouble),
      "shuffle.write_bytes" -> sum(phases)(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> sum(phases)(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_s" -> sum(phases)(_.fetchWaitMs / 1000.0),
      "shuffle.spill_bytes" -> sum(phases)(_.spillBytes.toDouble),
      "executor.task_s" -> taskS,
      "executor.cpu_s" -> sum(phases)(_.cpuNs / 1e9),
      "executor.gc_s" -> sum(phases)(_.gcMs / 1000.0),
      "executor.util" -> taskS / (wallS * cores),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.input_rows" -> inputRows,
      "streaming.batch_ms.p50" -> pct(50),
      "streaming.batch_ms.p90" -> pct(90),
      "streaming.events_per_s" ->
        (if (batches.nonEmpty) inputRows / wallS else 0.0),
      "streaming.add_batch_ms" -> sum(phases)(_.addBatchMs.toDouble),
      "streaming.query_planning_ms" ->
        sum(phases)(_.queryPlanningMs.toDouble),
      "streaming.wal_commit_ms" -> sum(phases)(_.walCommitMs.toDouble),
      "streaming.offsets_ms" -> sum(phases)(_.offsetsMs.toDouble),
      "streaming.state_commit_ms" -> sum(phases)(_.stateCommitMs.toDouble),
      "streaming.state_rows" -> sum(phases)(_.stateRows.values.sum.toDouble),
      "streaming.state_mem_bytes" ->
        sum(phases)(_.stateMem.values.sum.toDouble))
  }
}
