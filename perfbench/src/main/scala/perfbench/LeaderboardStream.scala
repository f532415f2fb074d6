package perfbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.apps.LeaderBoardApp
import graft.generator.{Injector, InjectorConfig}
import graft.ops.Parse

/** `leaderboard_stream`: `LeaderBoardApp.start` — the team branch
  * (watermarked hourly windows) and the user branch (global running
  * totals), both on RocksDB state — fed from a MemoryStream.
  *
  *  - Cold: start both branches on a fresh context and drain a backlog.
  *  - Open loop, for `--seconds`: one generator thread adds a fixed number
  *    of events every tick, on a fixed schedule that never waits for the
  *    engine, and records when each tick was due. An event's latency is the
  *    emission time of its result (trigger start plus `triggerExecution` of
  *    the later of the two branches) minus its due time. The warm figure is
  *    the slower branch's median micro-batch `triggerExecution` in the loop.
  *  - Traced runs only: backlogs offered at once and timed until both
  *    branches emitted them, on 4 cores and at `local[1]`.
  *
  * Event time runs about 2000 times faster than wall time, so hourly
  * windows close and the watermark evicts state during the run; 1 in 600
  * events is 5–10 minutes late, as in the reference injector. The roster of
  * 1000 teams keeps more than 10^4 keys in the user branch's state.
  */
object LeaderboardStream {
  /** Offered rate of the open loop — half the reference injector's rate,
    * far enough below the 4-core capacity that the backlog stays flat.
    */
  val RatePerS = 1000
  val TickMs = 50L
  val TriggerMs = 100L
  val Backlog = 20000
  val Drains = 2
  val HourMs = 3600000L

  def injector(seed: Long): InjectorConfig =
    InjectorConfig(seed = seed + 7, numTeams = 1000, meanGapMillis = 2000L)

  final class Running(spark: SparkSession, dir: File, listener: ProgressListener) {
    private implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    val input: MemoryStream[String] = MemoryStream[String]
    val queries: Seq[StreamingQuery] = LeaderBoardApp.start(
      Parse.parseGameEvents(input.toDF())
        .select(col("user"), col("team"), col("score"), col("timestamp"), col("event_time")),
      dir.getAbsolutePath,
      triggerMillis = TriggerMs)
    val names: Seq[String] = queries.map(_.name)

    def add(lines: Seq[String]): Long = input.addData(lines).asInstanceOf[LongOffset].offset

    /** Progress reports of one branch, in batch order. */
    def progress(name: String): Seq[StreamingQueryProgress] =
      listener.snapshot.filter(_.name == name).sortBy(_.batchId)

    /** Wall-clock ms at which `name` emitted the batch holding `offset`. */
    def emittedAt(name: String, offset: Long): Option[Long] =
      progress(name).find(p => Running.endOffset(p) >= offset && Running.startOffset(p) < offset)
        .map(Running.emission)

    /** Waits until both branches have emitted `offset`; returns the later
      * emission time.
      */
    def await(offset: Long, timeoutS: Double = 120): Long = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (true) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        val at = names.map(emittedAt(_, offset))
        if (at.forall(_.isDefined)) return at.flatten.max
        if (System.nanoTime() > deadline) throw new RuntimeException(s"offset $offset not emitted in $timeoutS s")
        Thread.sleep(5)
      }
      -1L
    }

    def stop(): Unit = queries.foreach { q => q.stop(); q.awaitTermination(30000) }
  }

  object Running {
    private def offset(json: String): Long = Option(json).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
    def startOffset(p: StreamingQueryProgress): Long = p.sources.headOption.map(s => offset(s.startOffset)).getOrElse(-1L)
    def endOffset(p: StreamingQueryProgress): Long = p.sources.headOption.map(s => offset(s.endOffset)).getOrElse(-1L)
    def emission(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
  }

  /** Drains one backlog; seconds from offering it to its emission. */
  private def drain(r: Running, lines: Seq[String]): Double = {
    val t0 = System.currentTimeMillis()
    val off = r.add(lines)
    val s = (r.await(off) - t0) / 1000.0
    Thread.sleep(3 * TriggerMs) // let the no-data batch that advances the watermark run
    s
  }

  def run(o: Options, ledger: Ledger, tracer: Tracer): Outcome = {
    val ticks = math.max(1, (o.seconds * 1000 / TickMs).toInt)
    val perTick = (RatePerS * TickMs / 1000).toInt
    val total = Backlog + ticks * perTick + (if (tracer.on) Drains * Backlog else 0)
    var spark: SparkSession = null
    var gen: Vector[graft.generator.InjectedLine] = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = tracer.span("setup") {
        val s = tracer.span("GraftSession.local")(Sessions.fresh(o.work))
        gen = tracer.span("Injector.generate")(Injector.generate(injector(o.seed), total))
        tracer.span("warmUp")(Sessions.warmUp(s, o.work))
        s
      }
      (System.nanoTime() - t0) / 1e9
    }
    val lines = gen.map(_.line)
    val coldLines = lines.take(Backlog)
    val tickLines = lines.slice(Backlog, Backlog + ticks * perTick).grouped(perTick).toVector
    val drainLines = lines.drop(Backlog + ticks * perTick).grouped(Backlog).toVector

    val listener = new ProgressListener
    spark.streams.addListener(listener)
    val probes = new Probes(spark)
    // Each query runs its foreachBatch writes on a clone of the session made
    // at start, so the phase listener must be registered before the start.
    if (tracer.on) spark.listenerManager.register(probes.phases)
    val outDir = new File(o.work, "leaderboard")
    var correct = true
    def check(what: String, ok: Boolean): Unit =
      if (!ok) { correct = false; System.err.println(s"[perfbench] check failed: $what") }

    ledger.attempted += 1 // the streaming job as a whole; each micro-batch is counted below
    val t0 = System.currentTimeMillis()
    val r = tracer.span("LeaderBoardApp.start")(new Running(spark, outDir, listener))
    val cold = ledger.attempt("cold drain")(tracer.span("cold drain") {
      val off = r.add(coldLines)
      val s = (r.await(off) - t0) / 1000.0
      Thread.sleep(3 * TriggerMs)
      s
    })

    // Open loop.
    if (tracer.on) spark.sparkContext.addSparkListener(probes.tasks)
    val phase1From = listener.snapshot.size
    val due = new Array[Long](ticks)
    val added = new Array[Long](ticks)
    val offsets = new Array[Long](ticks)
    val generator = new Thread(() => {
      val start = System.currentTimeMillis() + 20
      var k = 0
      while (k < ticks) {
        due(k) = start + k * TickMs
        var now = System.currentTimeMillis()
        while (now < due(k)) { LockSupport.parkNanos((due(k) - now) * 1000000L); now = System.currentTimeMillis() }
        offsets(k) = r.add(tickLines(k))
        added(k) = System.currentTimeMillis()
        k += 1
      }
    }, "perfbench-generator")
    val phase1 = ledger.attempt("open loop")(tracer.span("open loop") {
      generator.start()
      generator.join()
      r.await(offsets(ticks - 1))
    })
    if (tracer.on) { probes.drain(); spark.sparkContext.removeSparkListener(probes.tasks) }
    val phase1Progress = listener.snapshot.drop(phase1From)

    val latencies = phase1.toSeq.flatMap { _ =>
      (0 until ticks).map(k => r.names.flatMap(r.emittedAt(_, offsets(k))).max - due(k)).map(_.toDouble)
    }
    val lagMs = (0 until ticks).map(k => (added(k) - due(k)).toDouble)
    // Backlog at each tick: ticks offered but not yet emitted by both branches.
    val emitted = r.names.map(n => r.progress(n).map(p => (Running.emission(p), Running.endOffset(p))))
    val backlog = (0 until ticks).map { k =>
      val done = emitted.map(_.filter(_._1 <= added(k)).map(_._2).maxOption.getOrElse(-1L)).min
      offsets.take(k + 1).count(_ > done).toDouble
    }
    // The generator keeps its schedule, and the backlog in the second half
    // of the loop stays within two seconds of input of the first half's.
    if (phase1.isDefined) {
      val (early, late) = backlog.splitAt(ticks / 2)
      check(s"open loop: generator lag ${lagMs.max} ms < 250 ms", lagMs.max < 250)
      check(s"open loop: backlog does not grow (max ${early.max} -> ${late.max} ticks)",
        late.isEmpty || late.max <= early.max + 2000 / TickMs)
    }

    // Traced runs: backlogs offered at once, alternating a task listener
    // on and off to measure its overhead in the same run.
    val drainTasks = new TaskListener
    val drainS = (if (tracer.on) drainLines.indices else Nil).map { d =>
      val probed = d % 2 == 1
      if (probed) spark.sparkContext.addSparkListener(drainTasks)
      val s = ledger.attempt(s"drain $d")(tracer.span("drain")(drain(r, drainLines(d))))
      if (probed) { probes.drain(); spark.sparkContext.removeSparkListener(drainTasks) }
      (probed, s)
    }
    val plainDrains = drainS.collect { case (false, Some(s)) => s }
    val probedDrains = drainS.collect { case (true, Some(s)) => s }

    tracer.span("stop")(r.stop())
    val batches = listener.snapshot
    ledger.attempted += batches.size
    r.queries.foreach(q => q.exception.foreach(e => ledger.fail(s"${q.name} micro-batch", e)))

    // Output check: final totals read back from the sinks equal a plain
    // fold over the generator's parsed events.
    ledger.attempt("output check")(tracer.span("output check") {
      val events = gen.take(Backlog + ticks * perTick + drainS.size * Backlog).flatMap(_.event)
      val users = spark.read.parquet(new File(outDir, "leaderboard_user").getAbsolutePath)
        .groupBy("user").agg(max("total_score")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      check("user totals", users == events.groupMapReduce(_.user)(_.score.toLong)(_ + _))
      val teams = spark.read.parquet(new File(outDir, "leaderboard_team").getAbsolutePath)
        .groupBy(unix_millis(col("window_start")), col("team")).agg(max("total_score")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = events.groupMapReduce(e => (Math.floorDiv(e.timestamp, HourMs) * HourMs, e.team))(_.score.toLong)(_ + _)
      val wrong = (want.keySet ++ teams.keySet).filter(k => want.get(k) != teams.get(k))
      check(s"(window, team) totals: ${wrong.size} of ${want.size} differ, e.g. " +
        wrong.take(3).map(k => s"$k: sink ${teams.get(k)} fold ${want.get(k)}").mkString("; "), wrong.isEmpty)
    })

    val heap = Sessions.retainedHeapMb()
    spark.streams.removeListener(listener)
    Sessions.stop(spark)
    val oneCore = if (tracer.on) singleCoreDrain(o, ledger, tracer, coldLines, drainLines.head) else None

    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cold_s", cold.getOrElse(Double.NaN), "s"),
      ("warm_s", if (phase1Progress.isEmpty) Double.NaN else r.names.map { n =>
        Stats.median(phase1Progress.filter(_.name == n).map(_.durationMs.get("triggerExecution").doubleValue / 1000))
      }.max, "s"),
      ("latency_p50_ms", if (latencies.isEmpty) Double.NaN else Stats.quantile(latencies, 0.5), "ms"),
      ("latency_p90_ms", if (latencies.isEmpty) Double.NaN else Stats.quantile(latencies, 0.9), "ms"),
      ("retained_heap_mb", heap, "MB")
    )
    val perLayer = if (!tracer.on) Nil else {
      def dur(p: StreamingQueryProgress, k: String): Double =
        p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
      def medOf(f: StreamingQueryProgress => Double): Double =
        if (phase1Progress.isEmpty) 0.0 else Stats.median(phase1Progress.map(f))
      def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
      val last = r.names.flatMap(n => phase1Progress.filter(_.name == n).lastOption)
      val nBatches = math.max(1, listener.snapshot.size).toDouble
      Seq(
        ("sources.gen_lag_ms", lagMs.max, "ms"),
        ("sources.latest_offset_ms", medOf(dur(_, "latestOffset")), "ms"),
        ("sources.get_batch_ms", medOf(dur(_, "getBatch")), "ms"),
        ("stream.batches", phase1Progress.size.toDouble, "count"),
        ("stream.rows_per_batch", medOf(_.numInputRows.toDouble), "rows"),
        ("stream.query_planning_ms", medOf(dur(_, "queryPlanning")), "ms"),
        ("stream.add_batch_ms", medOf(dur(_, "addBatch")), "ms"),
        ("stream.wal_commit_ms", medOf(dur(_, "walCommit")), "ms"),
        ("stream.commit_offsets_ms", medOf(dur(_, "commitOffsets")), "ms"),
        ("stream.drain_eps", if (plainDrains.isEmpty) Double.NaN else Backlog / Stats.median(plainDrains), "events/s"),
        ("stream.drain_eps_1core", oneCore.getOrElse(Double.NaN), "events/s"),
        ("state.rows_total", last.flatMap(ops).map(_.numRowsTotal).sum.toDouble, "count"),
        ("state.memory_bytes", last.flatMap(ops).map(_.memoryUsedBytes).sum.toDouble, "bytes"),
        ("state.commit_ms", medOf(ops(_).map(_.commitTimeMs).sum.toDouble), "ms"),
        ("state.updates_ms", medOf(ops(_).map(_.allUpdatesTimeMs).sum.toDouble), "ms"),
        ("state.removals_ms", medOf(ops(_).map(_.allRemovalsTimeMs).sum.toDouble), "ms"),
        ("state.rows_dropped_by_watermark", phase1Progress.flatMap(ops).map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
        ("state.partitions", last.flatMap(ops).map(_.numShufflePartitions).sum.toDouble, "count"),
        ("trace.overhead_pct",
          if (probedDrains.isEmpty || plainDrains.isEmpty) Double.NaN
          else (Stats.median(probedDrains) / Stats.median(plainDrains) - 1) * 100, "%")
      ) ++ probes.tasks.metrics ++
        probes.phases.catalystMetrics.map { case (k, v, u) => (k, v / nBatches, u) }
    }
    Outcome(endToEnd ++ perLayer, correct, Seq(
      "offered_events_per_s" -> Json.Num(RatePerS),
      "trigger_ms" -> Json.Num(TriggerMs),
      "backlog_events" -> Json.Num(Backlog),
      "drain_s" -> Json.Arr(drainS.flatMap(_._2).map(Json.Num)),
      "open_loop_ticks" -> Json.Num(ticks),
      "open_loop_batches" -> Json.Num(phase1Progress.size),
      "generator_lag_ms_max" -> Json.Num(lagMs.max),
      "backlog_ticks" -> Json.Arr(backlog.map(Json.Num)),
      "latency_ms" -> Json.Arr(latencies.map(Json.Num))))
  }

  /** Events/s of one backlog drain at `local[1]` (after a warm-up drain),
    * the single-thread baseline.
    */
  private def singleCoreDrain(o: Options, ledger: Ledger, tracer: Tracer,
      warmLines: Seq[String], lines: Seq[String]): Option[Double] =
    ledger.attempt("local[1] drain")(tracer.span("local[1] drain") {
      val spark = Sessions.fresh(o.work, cores = 1)
      val listener = new ProgressListener
      spark.streams.addListener(listener)
      val r = new Running(spark, new File(o.work, "leaderboard-1core"), listener)
      try {
        drain(r, warmLines)
        lines.size / drain(r, lines)
      } finally {
        r.stop()
        Sessions.stop(spark)
      }
    })
}
