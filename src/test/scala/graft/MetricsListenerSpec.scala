package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MetricsListener

class MetricsListenerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("captures input volume, watermark, and state footprint per batch") {
    implicit val ctx = spark.sqlContext
    val listener = MetricsListener.attach(spark, keep = 50)
    val input = MemoryStream[(Long, Long)]
    val agg = input.toDF().toDF("user", "ts")
      .withColumn("event_time", timestamp_millis($"ts"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window($"event_time", "10 minutes"), $"user")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("ml_out")
      .outputMode("update").start()
    try {
      input.addData(Seq((1L, 3600000L), (2L, 3660000L)))
      q.processAllAvailable()
      input.addData(Seq((1L, 7200000L)))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    // listener events are async — poll briefly
    val deadline = System.nanoTime() + 30_000_000_000L
    while (listener.snapshot.count(_.inputRows > 0) < 2 && System.nanoTime() < deadline)
      Thread.sleep(100)
    val rows = listener.snapshot.filter(_.queryName == "ml_out")
    assert(rows.count(_.inputRows > 0) >= 2)
    assert(rows.map(_.inputRows).sum == 3)
    assert(rows.exists(_.stateRows > 0), "stateful agg must report state rows")
    assert(rows.exists(_.watermark.nonEmpty), "watermark must surface after batch 1")
    val df = listener.toDF(spark)
    assert(df.columns.contains("processedRowsPerSec") && df.count() == rows.size)
  }

  test("records the batch phase map and per-operator RocksDB commit cost") {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val ctx = rocks.sqlContext
    val listener = MetricsListener.attach(rocks, keep = 50)
    val input = MemoryStream[(String, Int)]
    val q = input.toDF().toDF("user", "score").groupBy($"user").agg(sum($"score"))
      .writeStream.format("memory").queryName("ml_rocks").outputMode("update").start()
    try {
      input.addData(Seq("a" -> 1, "b" -> 2))
      q.processAllAvailable()
      input.addData(Seq("a" -> 3))
      q.processAllAvailable()
    } finally {
      q.stop()
      rocks.streams.removeListener(listener)
    }
    val deadline = System.nanoTime() + 30_000_000_000L
    while (listener.snapshot.count(_.inputRows > 0) < 2 && System.nanoTime() < deadline)
      Thread.sleep(100)
    val rows = listener.snapshot.filter(r => r.queryName == "ml_rocks" && r.inputRows > 0)
    assert(rows.size == 2)
    for (r <- rows) {
      val phases = Set("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      assert(phases.subsetOf(r.durationMs.keySet), s"phases missing from ${r.durationMs}")
      assert(r.durationMs.values.forall(_ >= 0))
      val Seq(op) = r.stateOps
      assert(op.numShufflePartitions == rocks.conf.get("spark.sql.shuffle.partitions").toLong)
      assert(op.commitTimeMs >= 0)
      assert(op.commitMetrics.keySet == MetricsListener.CommitMetrics, s"got ${op.commitMetrics}")
    }
    val df = listener.toDF(rocks)
    assert(df.select("stateOps.commitMetrics").count() == listener.snapshot.size)
  }
}
