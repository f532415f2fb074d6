package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.apps.{HourlyTeamScoreApp, UserScoreApp}
import graft.generator.{InjectedLine, Injector, InjectorConfig}
import graft.model.GameEvent
import graft.ops.{Parse, Scoring}
import graft.sinks.TextSink
import graft.streaming.EventSource

/** `scores_batch`: the paper's batch path. `UserScoreApp.run` and
  * `HourlyTeamScoreApp.run` over one seeded injector CSV — text scan,
  * `ops/Parse`, `ops/Scoring` and `sinks/TextSink`, including the
  * one-file-per-window rename loop. No state store, no registry.
  */
object ScoresBatch {

  /** Input size. Event time spans about 13 hours, so there are many
    * hourly windows and many window files.
    */
  val Events = 80000
  /** Warm passes per run; about five seconds on 4 cores. */
  val WarmPasses = 2
  val HourMs = 3600000L

  /** The reference's late and corrupt rates; a large team roster so the
    * per-user output has about 12k keys.
    */
  def injector(seed: Long): InjectorConfig =
    InjectorConfig(seed = seed, numTeams = 1000, meanGapMillis = 600L)

  /** The generated input and the totals a plain fold over it gives. */
  final case class Input(path: String, lines: Int, corrupt: Long,
      users: Map[String, Long], hourly: Map[(String, String), Long])

  private val FileSafe = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd-HH-mm-ss-SSS").withZone(GameEvent.OutputZone)
  private def fileSafe(ms: Long): String = FileSafe.format(java.time.Instant.ofEpochMilli(ms))
  /** The window part of a `writeOneFilePerWindow` file name. */
  private def windowKey(startMs: Long): String = s"${fileSafe(startMs)}-${fileSafe(startMs + HourMs)}"

  def generate(seed: Long, n: Int, dir: File): Input = {
    val gen: Vector[InjectedLine] = Injector.generate(injector(seed), n)
    val f = new File(Fs.freshDir(dir), "events.csv")
    val w = Files.newBufferedWriter(f.toPath)
    try gen.foreach { l => w.write(l.line); w.newLine() }
    finally w.close()
    val events = gen.flatMap(_.event)
    Input(
      f.getAbsolutePath,
      n,
      gen.count(_.event.isEmpty).toLong,
      events.groupMapReduce(_.user)(_.score.toLong)(_ + _),
      events.groupMapReduce(e => (windowKey(Math.floorDiv(e.timestamp, HourMs) * HourMs), e.team))(_.score.toLong)(_ + _)
    )
  }

  /** Per-user totals read back from `UserScoreApp`'s text output. */
  def readUsers(dir: File): Map[String, Long] =
    Fs.dataFiles(dir).flatMap(Fs.lines).filter(_.nonEmpty).map { l =>
      val Array(total, user) = l.stripPrefix("total_score: ").split(", user: ", 2)
      user -> total.toLong
    }.toMap

  /** Per-(window, team) totals read back from the window files. */
  def readHourly(dir: File): Map[(String, String), Long] =
    Fs.dataFiles(dir).flatMap { f =>
      // team-scores-<start>-<end>-<shard>-of-<shards>
      val window = f.getName.stripPrefix("team-scores-").dropRight("-00000-of-00003".length)
      Fs.lines(f).filter(_.nonEmpty).map { l =>
        val Array(total, team) = l.stripPrefix("total_score: ").split(", team: ", 2)
        (window, team) -> total.toLong
      }
    }.toMap

  def run(o: Options, ledger: Ledger, tracer: Tracer): Outcome = {
    val inputDir = new File(o.work, "input")
    var spark: SparkSession = null
    var input: Input = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = tracer.span("setup") {
        val s = tracer.span("GraftSession.local")(Sessions.fresh(o.work))
        input = tracer.span("Injector.generate")(generate(o.seed, Events, inputDir))
        tracer.span("warmUp")(Sessions.warmUp(s, o.work))
        s
      }
      (System.nanoTime() - t0) / 1e9
    }
    val parseObs = new ObservationListener(Parse.ObservationName)
    spark.listenerManager.register(parseObs)
    val probes = new Probes(spark)
    var correct = true
    def check(what: String, ok: Boolean): Unit =
      if (!ok) { correct = false; System.err.println(s"[perfbench] check failed: $what") }

    /** One UserScore + HourlyTeamScore pass; its seconds, or None when an
      * app run failed. Output checks run after the timed calls.
      */
    var passNo = 0
    def pass(): Option[Double] = {
      passNo += 1
      val userOut = new File(o.work, s"out/user-$passNo")
      val hourlyOut = new File(o.work, s"out/hourly-$passNo")
      val u = ledger.timed("UserScoreApp.run") {
        tracer.span("UserScoreApp.run")(UserScoreApp.run(spark, input.path, userOut.getAbsolutePath))
      }
      val h = ledger.timed("HourlyTeamScoreApp.run") {
        tracer.span("HourlyTeamScoreApp.run")(HourlyTeamScoreApp.run(spark, input.path, hourlyOut.getAbsolutePath))
      }
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      if (u.isDefined) check(s"pass $passNo user totals", readUsers(userOut) == input.users)
      if (h.isDefined) check(s"pass $passNo (window, team) totals", readHourly(hourlyOut) == input.hourly)
      val dropped = parseObs.take().map(_.getAs[Long]("parse_errors"))
      check(s"pass $passNo dropped rows $dropped == corrupt lines ${input.corrupt}",
        dropped.size == Seq(u, h).count(_.isDefined) && dropped.forall(_ == input.corrupt))
      Fs.deleteRecursively(new File(o.work, "out"))
      for (a <- u; b <- h) yield a._2 + b._2
    }

    val cold = pass()
    // A fixed number of warm passes, so every run has the same statistics.
    // Traced runs add as many passes with the listeners attached,
    // alternating, so the listeners' overhead is measured in the same run.
    val warmPlain = Seq.newBuilder[Double]
    val warmProbed = Seq.newBuilder[Double]
    for (i <- 0 until (if (tracer.on) 2 * WarmPasses else WarmPasses)) {
      val probed = tracer.on && i % 2 == 1
      if (probed) probes.attach()
      val t = pass()
      if (probed) probes.detach()
      t.foreach(x => if (probed) warmProbed += x else warmPlain += x)
    }
    val warm = warmPlain.result()
    val probedPasses = warmProbed.result()

    val layers = if (tracer.on) stepwise(spark, o, input, ledger, tracer, check) else Nil
    val heap = Sessions.retainedHeapMb()
    spark.listenerManager.unregister(parseObs)
    Sessions.stop(spark)

    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cold_s", cold.getOrElse(Double.NaN), "s"),
      ("warm_s", Stats.median(warm), "s"),
      ("latency_p50_ms", Stats.quantile(warm, 0.5) * 1000, "ms"),
      ("latency_p90_ms", Stats.quantile(warm, 0.9) * 1000, "ms"),
      ("retained_heap_mb", heap, "MB")
    )
    val perLayer =
      if (!tracer.on) Nil
      else {
        val n = math.max(1, probedPasses.size).toDouble
        layers ++ probes.tasks.metrics.map { case (k, v, u) => (k, v / n, u) } ++
          probes.phases.catalystMetrics.map { case (k, v, u) => (k, v / n, u) } ++
          Seq(("trace.overhead_pct", (Stats.median(probedPasses) / Stats.median(warm) - 1) * 100, "%"))
      }
    Outcome(endToEnd ++ perLayer, correct, Seq(
      "events" -> Json.Num(Events),
      "warm_passes_s" -> Json.Arr(warm.map(Json.Num)),
      "probed_passes_s" -> Json.Arr(probedPasses.map(Json.Num))))
  }

  /** Each layer called on its own, on a checkpointed input, so that each
    * layer's time is its own. Medians over three repetitions.
    */
  private def stepwise(spark: SparkSession, o: Options, input: Input, ledger: Ledger, tracer: Tracer,
      check: (String, Boolean) => Unit): Seq[(String, Double, String)] = {
    val parseObs = new ObservationListener(Parse.ObservationName)
    spark.listenerManager.register(parseObs)
    val reps = (1 to 3).flatMap { rep =>
      val out = new File(o.work, s"layers-$rep")
      def step[T](name: String)(body: => T): Option[(T, Double)] =
        ledger.timed(name)(tracer.span(name)(body))
      val r = for {
        (parsed, parseS) <- step("ops.Parse") {
          EventSource.readEvents(spark, EventSource.BatchFiles(input.path)).localCheckpoint(eager = true)
        }
        (users, userS) <- step("ops.Scoring.extractAndSumScore") {
          Scoring.extractAndSumScore(parsed.select(col("user"), col("team"), col("score")), "user")
            .localCheckpoint(eager = true)
        }
        (hourly, hourlyS) <- step("ops.Scoring.hourlyTeamScore") {
          Scoring.hourlyTeamScore(parsed.select(col("team"), col("score"), col("timestamp"), col("event_time")))
            .localCheckpoint(eager = true)
        }
        (_, writeS) <- step("sinks.TextSink.write") {
          TextSink.write(
            TextSink.formatRows(users, Seq("total_score" -> col("total_score"), "user" -> col("key"))),
            new File(out, "user").getAbsolutePath)
        }
        (_, windowS) <- step("sinks.TextSink.writeOneFilePerWindow") {
          TextSink.writeOneFilePerWindow(
            hourly,
            concat(lit("total_score: "), col("total_score"), lit(", team: "), col("team")),
            new File(out, "hourly").getAbsolutePath,
            prefix = "team-scores")
        }
      } yield {
        PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val files = Fs.dataFiles(new File(out, "hourly")).size
        check(s"stepwise rep $rep user totals", readUsers(new File(out, "user")) == input.users)
        check(s"stepwise rep $rep (window, team) totals", readHourly(new File(out, "hourly")) == input.hourly)
        Seq(parsed, users, hourly).foreach(_.unpersist())
        (parseS, userS, hourlyS, writeS, windowS, files.toDouble)
      }
      Fs.deleteRecursively(out)
      r
    }
    val dropped = parseObs.take().map(_.getAs[Long]("parse_errors"))
    spark.listenerManager.unregister(parseObs)
    check(s"stepwise dropped rows $dropped == corrupt lines ${input.corrupt}", dropped.forall(_ == input.corrupt))
    if (reps.isEmpty) Nil
    else {
      def med(f: ((Double, Double, Double, Double, Double, Double)) => Double) = Stats.median(reps.map(f))
      val parseS = med(_._1)
      Seq(
        ("ops.Parse.s", parseS, "s"),
        ("ops.Parse.rows_per_s", input.lines / parseS, "rows/s"),
        ("ops.Parse.dropped_rows", dropped.headOption.getOrElse(-1L).toDouble, "count"),
        ("ops.Scoring.user_s", med(_._2), "s"),
        ("ops.Scoring.hourly_s", med(_._3), "s"),
        ("sinks.TextSink.write_s", med(_._4), "s"),
        ("sinks.TextSink.window_files_s", med(_._5), "s"),
        ("sinks.TextSink.files_written", med(_._6), "count")
      )
    }
  }
}
