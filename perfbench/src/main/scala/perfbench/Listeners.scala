package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor and shuffle totals from Spark's own task metrics. */
final class TaskListener extends SparkListener {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def metrics: Seq[(String, Double, String)] = synchronized(Seq(
    ("exec.jobs", jobs.toDouble, "count"),
    ("exec.stages", stages.toDouble, "count"),
    ("exec.tasks", tasks.toDouble, "count"),
    ("exec.task_time_s", runNs / 1e9, "s"),
    ("exec.cpu_time_s", cpuNs / 1e9, "s"),
    ("exec.gc_ms", gcMs.toDouble, "ms"),
    ("shuffle.read_bytes", shuffleRead.toDouble, "bytes"),
    ("shuffle.write_bytes", shuffleWrite.toDouble, "bytes"),
    ("shuffle.spill_bytes", spill.toDouble, "bytes")
  ))
}

/** Catalyst phase times and per-kernel row rates from every successful
  * query execution.
  */
final class PhaseListener extends QueryExecutionListener {
  val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  /** Per kernel (expression class of the `graft.functions` package):
    * rows into the operator that hosts it, and that operator's time.
    */
  val kernelRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val kernelMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phaseMs.contains(phase)) phaseMs(phase) += s.durationMs
    }
    kernels(qe.executedPlan, None)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def kernelNames(p: SparkPlan): Set[String] =
    p.expressions.flatMap(_.collect { case e => e }).flatMap { e =>
      (Iterator(e: Any) ++ e.productIterator).collect { case x if x != null => x.getClass.getName }
        .filter(_.startsWith("graft.functions."))
        .map(_.stripPrefix("graft.functions.").takeWhile(_ != '$'))
    }.toSet

  private def metric(p: SparkPlan, name: String): Option[Long] = p.metrics.get(name).map(_.value)

  /** Rows entering `p`: the nearest node at or below its first child that
    * counts its output rows.
    */
  private def rowsIn(p: SparkPlan): Long = {
    def down(n: SparkPlan): Option[Long] = n match {
      case a: InputAdapter => down(a.child)
      case q: QueryStageExec => down(q.plan)
      case other => metric(other, "numOutputRows").orElse(other.children.headOption.flatMap(down))
    }
    p.children.headOption.flatMap(down).orElse(metric(p, "numOutputRows")).getOrElse(0L)
  }

  private def kernels(p: SparkPlan, stage: Option[WholeStageCodegenExec]): Unit = p match {
    case a: AdaptiveSparkPlanExec => kernels(a.executedPlan, stage)
    case q: QueryStageExec => kernels(q.plan, None)
    case w: WholeStageCodegenExec => kernels(w.child, Some(w))
    case other =>
      val names = kernelNames(other)
      if (names.nonEmpty) {
        val ms = stage.flatMap(metric(_, "pipelineTime"))
          .orElse(other.metrics.collectFirst { case (k, m) if k.endsWith("Time") => m.value })
          .getOrElse(0L)
        val rows = rowsIn(other)
        names.foreach { n => kernelRows(n) += rows; kernelMs(n) += ms }
      }
      val nextStage = other match { case _: InputAdapter => None; case _ => stage }
      other.children.foreach(kernels(_, nextStage))
      other.subqueries.foreach(kernels(_, None))
  }

  def catalystMetrics: Seq[(String, Double, String)] = synchronized(Seq(
    ("catalyst.analysis_ms", phaseMs("analysis").toDouble, "ms"),
    ("catalyst.optimization_ms", phaseMs("optimization").toDouble, "ms"),
    ("catalyst.planning_ms", phaseMs("planning").toDouble, "ms")
  ))

  def kernelRates: Map[String, Double] = synchronized(
    kernelRows.keys.map { k =>
      k -> (if (kernelMs(k) > 0) kernelRows(k) / (kernelMs(k) / 1000.0) else 0.0)
    }.toMap
  )
}

/** Named observations (`Dataset.observe`) reported by query executions,
  * in arrival order.
  */
final class ObservationListener(name: String) extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.get(name).foreach(r => rows.synchronized(rows += r))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Observations reported since the last call. */
  def take(): Seq[org.apache.spark.sql.Row] = rows.synchronized {
    val r = rows.toSeq
    rows.clear()
    r
  }
}

/** Every micro-batch progress report of every streaming query. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized(buf += e.progress)

  def snapshot: Seq[StreamingQueryProgress] = buf.synchronized(buf.toSeq)
}

/** The traced run's listeners, attached and detached together. */
final class Probes(spark: SparkSession) {
  val tasks = new TaskListener
  val phases = new PhaseListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
  }

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)
}
