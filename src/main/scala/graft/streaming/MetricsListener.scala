package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Structured-streaming observability: a `StreamingQueryListener` that
  * captures per-micro-batch health metrics — input volume, processing
  * rate, event-time watermark, and state-store footprint — into a bounded
  * in-memory buffer, queryable as a DataFrame.
  *
  * This is the signal an operator watches at scale: rate vs. admission
  * (falling behind?), watermark lag (late data horizon moving?), state
  * rows (leak or unbounded key space?). The buffer is bounded (`keep`
  * batches, FIFO) so the listener itself cannot leak.
  *
  * "Why is this micro-batch slow" is answered by `durationMs` (the
  * engine's phase map: latestOffset, getBatch, queryPlanning, addBatch,
  * walCommit, commitOffsets, triggerExecution) and by the per-operator
  * state commit cost in `stateOps`: a batch pays the commit once per state
  * partition, so fixed per-partition cost shows up there, not in addBatch.
  */
class MetricsListener(keep: Int = 1000) extends StreamingQueryListener {
  import MetricsListener.{BatchMetrics, CommitMetrics, StateOpMetrics}

  private val buf = mutable.Queue.empty[BatchMetrics]

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val state = Option(p.stateOperators).toSeq.flatten
    def longs(jm: java.util.Map[String, java.lang.Long]): Map[String, Long] =
      jm.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val m = BatchMetrics(
      queryName = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      inputRows = p.numInputRows,
      processedRowsPerSec = p.processedRowsPerSecond,
      batchDurationMs = p.batchDuration,
      watermark = Option(p.eventTime.get("watermark")).getOrElse(""),
      stateRows = state.map(_.numRowsTotal).sum,
      stateBytes = state.map(_.memoryUsedBytes).sum,
      durationMs = longs(p.durationMs),
      stateOps = state.map(o => StateOpMetrics(
        operatorName = o.operatorName,
        commitTimeMs = o.commitTimeMs,
        numShufflePartitions = o.numShufflePartitions,
        commitMetrics = longs(o.customMetrics).filter { case (k, _) => CommitMetrics(k) }))
    )
    buf.synchronized {
      buf.enqueue(m)
      while (buf.size > keep) buf.dequeue()
    }
  }

  def snapshot: Seq[BatchMetrics] = buf.synchronized(buf.toSeq)

  /** Captured metrics as a DataFrame (driver-side buffer — bounded). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot.toDF()
  }
}

object MetricsListener {

  final case class BatchMetrics(
      queryName: String,
      batchId: Long,
      inputRows: Long,
      processedRowsPerSec: Double,
      batchDurationMs: Long,
      watermark: String,
      stateRows: Long,
      stateBytes: Long,
      durationMs: Map[String, Long],
      stateOps: Seq[StateOpMetrics]
  )

  /** One stateful operator's commit cost in one batch. `commitMetrics`
    * holds the RocksDB provider's commit breakdown ([[CommitMetrics]]);
    * it is empty for the HDFS-backed provider. */
  final case class StateOpMetrics(
      operatorName: String,
      commitTimeMs: Long,
      numShufflePartitions: Long,
      commitMetrics: Map[String, Long]
  )

  /** RocksDB commit phases: memtable flush, local checkpoint, and the
    * upload to the checkpoint dir (file sync, of which saving the snapshot
    * zip is a part). */
  val CommitMetrics: Set[String] = Set(
    "rocksdbCommitFlushLatency",
    "rocksdbCommitCheckpointLatency",
    "rocksdbCommitFileSyncLatencyMs",
    "rocksdbSaveZipFilesLatencyMs"
  )

  /** Attach a fresh listener to the session; caller owns removal. */
  def attach(spark: SparkSession, keep: Int = 1000): MetricsListener = {
    val l = new MetricsListener(keep)
    spark.streams.addListener(l)
    l
  }
}
