package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LeaderBoardStream

/** Restart-from-checkpoint: the durable-state contract the reference gets
  * from Dataflow's managed pipeline state (SURVEY §3.3). A stopped query
  * restarted with the same checkpointLocation must resume from committed
  * offsets with its aggregation state intact — totals accumulate across the
  * restart, not from zero.
  */
class CheckpointRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Stop/restart with one checkpoint; returns the checkpoint dir. */
  private def userTotalsSurviveRestart(spark: SparkSession, tag: String): String = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val checkpoint = Files.createTempDirectory("ckpt").toString
    val input = MemoryStream[(String, Int)]
    def start(sinkName: String) = LeaderBoardStream
      .calculateUserScores(input.toDF().toDF("user", "score"))
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint)
      .outputMode("complete")
      .start()

    val q1 = start(s"${tag}_run1")
    try {
      input.addData(Seq("a" -> 5, "b" -> 3))
      q1.processAllAvailable()
      val run1 = spark.table(s"${tag}_run1").as[(String, Long)].collect().toMap
      assert(run1 == Map("a" -> 5L, "b" -> 3L))
    } finally q1.stop()

    // Data added while the query is DOWN must be picked up on restart.
    input.addData(Seq("a" -> 7, "c" -> 2))
    val q2 = start(s"${tag}_run2")
    try {
      q2.processAllAvailable()
      val run2 = spark.table(s"${tag}_run2").as[(String, Long)].collect().toMap
      // state restored: a accumulates 5+7, b survives untouched, c is new
      assert(run2 == Map("a" -> 12L, "b" -> 3L, "c" -> 2L))
    } finally q2.stop()
    checkpoint
  }

  test("running user totals survive a stop/restart with the same checkpoint") {
    userTotalsSurviveRestart(spark, "ckpt")
  }

  test("running user totals survive a stop/restart on RocksDB state, GraftSession's provider") {
    // the restarted run is a new query run id, so its state store loads
    // from the snapshot zips the first run wrote through FileContext
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val checkpoint = userTotalsSurviveRestart(rocks, "ckpt_rocks")
    val files = Files.walk(java.nio.file.Paths.get(checkpoint, "state"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    val zips = files.filter(_.endsWith(".zip"))
    assert(zips.nonEmpty, s"no RocksDB snapshot zips under $checkpoint/state")
    // uploaded through the checksummed file layer: every zip has its .crc
    assert(zips.forall(z => files.contains(s".$z.crc")), s"zips without .crc: $files")
  }

  test("upsert replay across a crash between sink write and checkpoint commit: no dupes, no loss") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val checkpoint = Files.createTempDirectory("ckpt_upsert").toString
    val table = Files.createTempDirectory("upsert_table").toString
    val input = MemoryStream[(String, Int, Int)]
    // Crash INJECTED AFTER the upsert write, BEFORE the batch commits to
    // the checkpoint — the exactly-once danger window: on restart the
    // engine replays the batch against a table that already absorbed it,
    // and only the sink's keyed idempotence prevents duplicates.
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = input
      .toDF()
      .toDF("user", "version", "value")
      .withColumn("bucket", pmod(hash(col("user")), lit(4)))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.UpsertSink.upsert(batch, table, "user", "bucket", "version")
        if (crashArmed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
      .start()

    def tableState(): Map[String, (Int, Int)] =
      spark.read.parquet(table)
        .select(col("user"), col("version"), col("value"))
        .as[(String, Int, Int)]
        .collect()
        .map { case (u, ver, v) => u -> (ver, v) }
        .toMap

    val q1 = start()
    input.addData(Seq(("a", 1, 10), ("b", 1, 20), ("c", 1, 30)))
    q1.processAllAvailable()
    assert(tableState() == Map("a" -> ((1, 10)), "b" -> ((1, 20)), "c" -> ((1, 30))))

    // Arm the crash, feed an update batch: the write lands, the commit doesn't.
    crashArmed.set(true)
    input.addData(Seq(("a", 2, 11), ("d", 1, 40)))
    intercept[Exception] { q1.processAllAvailable() }
    intercept[Exception] { q1.awaitTermination() } // query died with the injected error
    // The sink DID absorb the batch before the "crash" — the replay below
    // re-applies the same rows on top of this state.
    assert(tableState() == Map(
      "a" -> ((2, 11)), "b" -> ((1, 20)), "c" -> ((1, 30)), "d" -> ((1, 40))))

    // Restart: the uncommitted batch replays (crash disarmed), then new data.
    val q2 = start()
    try {
      input.addData(Seq(("b", 2, 21)))
      q2.processAllAvailable()
      val fin = tableState()
      // no loss: every key at its latest version; no dupes: one row per key
      assert(fin == Map(
        "a" -> ((2, 11)), "b" -> ((2, 21)), "c" -> ((1, 30)), "d" -> ((1, 40))))
      val rows = spark.read.parquet(table).count()
      assert(rows == fin.size, s"duplicate rows after replay: $rows vs ${fin.size} keys")
    } finally q2.stop()
  }
}
