package perfbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `corpus`: registry queries (`SparkEntry.queries`) over the
  * fixed seed-42 `documents` and `embeddings` tables committed with the
  * benchmark. A cold pass on a fresh SparkContext with an empty warehouse
  * dir — so no shared leg or content-keyed index survives from an earlier
  * run — then warm passes on the same context.
  */
object Corpus {

  /** Text side: exact dedup through the string-keyed shared survivor leg
    * (`ops/Dedup`), `ops/TextAnalysis` gates (PII redaction, quality logit,
    * Gopher rules with the `MarkerCounts` kernel) and `ops/Sampling`. Reads
    * no vectors.
    */
  val Curation = Seq("curation_pipeline_v2", "curation_pipeline_v3")

  /** Vector side: `ops/Similarity` IVF search through the content-keyed
    * warehouse index, with the `CosineSimExpr` and `TopKAgg` kernels. Reads
    * no documents.
    */
  val Ann = Seq("ann_ivf_topk_indexed")

  val Queries: Seq[String] = (Curation ++ Ann).sorted

  /** Warm passes per run, after the cold one; about three seconds on 4 cores. */
  val WarmPasses = 1

  /** Kernels (expression classes of `graft.functions`) found in the
    * executed plans of these queries; each gets a rows/s figure.
    */
  val Kernels: Seq[String] = Seq("CosineSimExpr", "MarkerCountsExpr", "TopKAgg")

  def run(o: Options, ledger: Ledger, tracer: Tracer): Outcome = {
    val dataDir = new File(o.data, "sf0.01").getAbsolutePath
    val expected = readHashes(new File(o.data, "hashes.json"))
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = tracer.span("setup") {
        val s = tracer.span("GraftSession.local")(Sessions.fresh(o.work))
        tracer.span("warmUp")(Sessions.warmUp(s, o.work))
        s
      }
      (System.nanoTime() - t0) / 1e9
    }
    val registry = tracer.span("SparkEntry.queries")(SparkEntry.queries)
    val probes = new Probes(spark)
    var correct = true
    def check(what: String, ok: Boolean): Unit =
      if (!ok) { correct = false; System.err.println(s"[perfbench] check failed: $what") }

    /** One name-sorted pass: per query, seconds and result hash. */
    def pass(label: String): Seq[(String, Option[(Double, String)])] =
      Queries.map { q =>
        q -> ledger.timed(s"$label $q") {
          tracer.span(q) {
            val df = tracer.span("SparkEntry.queries(q)")(registry(q)(spark, dataDir))
            tracer.span("collect")(df.collect()) -> df.schema.fieldNames.toSeq
          }
        }.map { case ((rows, cols), s) => (s, tracer.span("hash")(Hash.rows(rows, cols))) }
      }

    // Kernel row rates come from every pass of a traced run: the cold pass
    // is where the shared legs run their kernels.
    val kernels = new PhaseListener
    if (tracer.on) spark.listenerManager.register(kernels)
    val cold = pass("cold")
    val warm = Seq.newBuilder[Seq[(String, Option[(Double, String)])]]
    val probedWarm = Seq.newBuilder[Seq[(String, Option[(Double, String)])]]
    // Traced runs add a pass with the listeners attached, so their overhead
    // is measured in the same run.
    for (i <- 0 until (if (tracer.on) 2 * WarmPasses else WarmPasses)) {
      val probed = tracer.on && i % 2 == 1
      if (probed) probes.attach()
      val p = pass("warm")
      if (probed) probes.detach()
      if (probed) probedWarm += p else warm += p
    }
    val warmPasses = warm.result()
    val probedPasses = probedWarm.result()
    if (tracer.on) { probes.drain(); spark.listenerManager.unregister(kernels) }
    val storage = spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val heap = Sessions.retainedHeapMb()
    Sessions.stop(spark)

    // Each query's hash is the same in every pass (a stale shared leg would
    // change it) and equals the hash committed with the benchmark.
    val hashes = cold.toMap
    for (p <- warmPasses ++ probedPasses; (q, r) <- p; (_, h) <- r; (_, h0) <- hashes(q))
      check(s"$q warm hash == cold hash", h == h0)
    for ((q, r) <- cold; (_, h) <- r)
      check(s"$q hash $h == committed ${expected.get(q)}", expected.get(q).contains(h))

    def complete(p: Seq[(String, Option[(Double, String)])]) = p.forall(_._2.isDefined)
    def total(p: Seq[(String, Option[(Double, String)])]) = p.flatMap(_._2).map(_._1).sum
    val okWarm = warmPasses.filter(complete)
    val perQuery = okWarm.flatMap(_.flatMap { case (_, r) => r.map(_._1) })
    val warmByQuery = Queries.map(q => q -> okWarm.flatMap(_.toMap.get(q).flatten.map(_._1))).toMap
    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cold_s", if (complete(cold)) total(cold) else Double.NaN, "s"),
      ("warm_s", if (okWarm.isEmpty) Double.NaN else Stats.median(okWarm.map(total)), "s"),
      ("latency_p50_ms", if (perQuery.isEmpty) Double.NaN else Stats.quantile(perQuery, 0.5) * 1000, "ms"),
      ("latency_p90_ms", if (perQuery.isEmpty) Double.NaN else Stats.quantile(perQuery, 0.9) * 1000, "ms"),
      ("retained_heap_mb", heap, "MB")
    )
    val perLayer = if (!tracer.on) Nil else {
      val n = math.max(1, probedPasses.size).toDouble
      val legBuild = cold.collect { case (q, Some((s, _))) if warmByQuery(q).nonEmpty => s - Stats.median(warmByQuery(q)) }.sum
      val rates = kernels.kernelRates
      val okProbed = probedPasses.filter(complete)
      Seq(
        ("SparkEntry.leg_build_s", legBuild, "s"),
        ("SparkEntry.pinned_rdds", pinned.toDouble, "count"),
        ("SparkEntry.storage_bytes", storage.toDouble, "bytes"),
        ("SparkEntry.curation_warm_s", Curation.map(q => Stats.median(warmByQuery(q))).sum, "s"),
        ("SparkEntry.ann_warm_s", Ann.map(q => Stats.median(warmByQuery(q))).sum, "s"),
        ("trace.overhead_pct",
          if (okProbed.isEmpty || okWarm.isEmpty) Double.NaN
          else (Stats.median(okProbed.map(total)) / Stats.median(okWarm.map(total)) - 1) * 100, "%")
      ) ++ probes.tasks.metrics.map { case (k, v, u) => (k, v / n, u) } ++
        probes.phases.catalystMetrics.map { case (k, v, u) => (k, v / n, u) } ++
        rates.toSeq.sorted.map { case (k, v) => (s"functions.$k.rows_per_s", v, "rows/s") }
    }
    val oracle = SparkEntry.oracleSql
    Outcome(endToEnd ++ perLayer, correct, Seq(
      "queries" -> Json.Obj(Queries.map { q =>
        q -> Json.Obj(Seq(
          "hash" -> Json.Str(hashes(q).map(_._2).getOrElse("")),
          "cold_s" -> Json.Num(hashes(q).map(_._1).getOrElse(Double.NaN)),
          "warm_s" -> Json.Arr(warmByQuery(q).map(Json.Num))) ++
          oracle.get(q).map(sql => "oracle_sql" -> Json.Str(sql)))
      })))
  }

  private def readHashes(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r
      .findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
}

/** Row-order-insensitive result hash, as the repository's oracle check
  * defines it: columns sorted by name, each row's values rendered as Python
  * would print them and joined by `|`, rows sorted, SHA-256 over the lines.
  */
object Hash {
  def rows(rows: Array[Row], cols: Seq[String]): String = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => pyFloat(d)
    case f: Float => pyFloat(f.toDouble)
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => s.map(elem).mkString("[", ", ", "]")
    case x @ (_: Long | _: Int | _: Short | _: Byte | _: String) => x.toString
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }

  private def elem(v: Any): String = v match {
    case null => "None"
    case b: Boolean => if (b) "True" else "False"
    case s: String if !s.exists(c => c == '\'' || c == '\\' || c < ' ') => s"'$s'"
    case s: String => throw new IllegalArgumentException(s"no canonical form for list element $s")
    case other => canon(other)
  }

  /** Python's `repr` of a float: the shortest digits that read back to the
    * same double, positional for exponents -4..15, else `1.5e-05` style.
    */
  def pyFloat(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0.0" else "0.0")
    else {
      val exact = new JBigDecimal(d)
      val short = Iterator.from(1).map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get.stripTrailingZeros
      val digits = short.unscaledValue.abs.toString
      val exp = digits.length - 1 - short.scale
      val sign = if (d < 0) "-" else ""
      if (exp >= -4 && exp <= 15) {
        val plain = short.abs.toPlainString
        sign + (if (plain.contains('.')) plain else plain + ".0")
      } else {
        val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      }
    }
}
