package perfbench

import java.io.File

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`. End-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. Failures, raw samples
  * and the trace's spans go to a JSON file under `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Options.parse(args)
    Fs.freshDir(o.work)
    val ledger = new Ledger
    val tracer = new Tracer(o.trace)
    val run: (Options, Ledger, Tracer) => Outcome = o.workload match {
      case "scores_batch" => ScoresBatch.run
      case "leaderboard_stream" => LeaderboardStream.run
      case "corpus" => Corpus.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val outcome =
      try run(o, ledger, tracer)
      catch {
        case e: Exception =>
          ledger.attempted += 1
          ledger.fail(s"${o.workload} run", e)
          Outcome(Nil, correct = false, Nil)
      }
    val wanted = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    // A per-layer metric of a layer the workload does not exercise is 0.
    val got = outcome.metrics.map { case (k, v, _) => k -> v }.toMap
      .withDefault(k => if (o.trace) 0.0 else Double.NaN)
    val missing = wanted.filter { case (k, _) => got(k).isNaN || got(k).isInfinite }
    val correct = outcome.correct && ledger.failed == 0 && missing.isEmpty
    if (missing.nonEmpty) System.err.println(s"[perfbench] missing metrics: ${missing.map(_._1).mkString(", ")}")
    val metrics = Json.Obj(wanted.filterNot(missing.contains).map { case (k, unit) =>
      k -> Json.Obj(Seq("value" -> Json.Num(got(k)), "unit" -> Json.Str(unit)))
    })
    val failures = Json.Arr(ledger.failures.toSeq.map { case (op, cls, msg) =>
      Json.Obj(Seq("op" -> Json.Str(op), "class" -> Json.Str(cls), "message" -> Json.Str(msg)))
    })
    val detail = Json.Obj(Seq(
      "workload" -> Json.Str(o.workload), "seed" -> Json.Num(o.seed.toDouble), "trace" -> Json.Bool(o.trace),
      "cores" -> Json.Num(Sessions.cores), "failures" -> failures,
      "metrics" -> Json.Obj(outcome.metrics.map { case (k, v, u) =>
        k -> Json.Obj(Seq("value" -> Json.Num(v), "unit" -> Json.Str(u))) })
    ) ++ outcome.detail ++ (if (o.trace) Seq("spans" -> tracer.toJson) else Nil))
    val detailFile = new File(o.out, s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
    Fs.write(detailFile, Json.write(detail))
    Fs.deleteRecursively(o.work)
    println(Json.write(Json.Obj(Seq("failures" -> failures, "detail" -> Json.Str(detailFile.getPath)))))
    println(Json.write(Json.Obj(Seq(
      "correct" -> Json.Bool(correct),
      "attempted" -> Json.Num(math.max(1L, ledger.attempted).toDouble),
      "failed" -> Json.Num(ledger.failed.toDouble),
      "metrics" -> metrics))))
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}

/** The metric names and units the benchmark declares. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms", "retained_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "ops.Parse.s" -> "s", "ops.Parse.rows_per_s" -> "rows/s", "ops.Parse.dropped_rows" -> "count",
    "ops.Scoring.user_s" -> "s", "ops.Scoring.hourly_s" -> "s",
    "sinks.TextSink.write_s" -> "s", "sinks.TextSink.window_files_s" -> "s",
    "sinks.TextSink.files_written" -> "count",
    "sources.gen_lag_ms" -> "ms", "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "rows", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.drain_eps" -> "events/s", "stream.drain_eps_1core" -> "events/s",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.updates_ms" -> "ms", "state.removals_ms" -> "ms", "state.rows_dropped_by_watermark" -> "count",
    "state.partitions" -> "count",
    "SparkEntry.leg_build_s" -> "s", "SparkEntry.pinned_rdds" -> "count", "SparkEntry.storage_bytes" -> "bytes",
    "SparkEntry.curation_warm_s" -> "s", "SparkEntry.ann_warm_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_time_s" -> "s",
    "exec.cpu_time_s" -> "s", "exec.gc_ms" -> "ms",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "trace.overhead_pct" -> "%"
  ) ++ Corpus.Kernels.map(k => s"functions.$k.rows_per_s" -> "rows/s")
}
