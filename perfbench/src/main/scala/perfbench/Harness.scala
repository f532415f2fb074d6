package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Options(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    data: File,
    out: File
)

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = new File(need("work")),
      data = new File(need("data")),
      out = new File(need("out"))
    )
  }
}

/** Counts attempted and failed operations. A failed operation keeps its
  * exception class and message, and never contributes a time.
  */
final class Ledger {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  def failed: Long = failures.size.toLong

  def fail(op: String, e: Throwable): Unit = {
    failures += ((op, e.getClass.getName, String.valueOf(e.getMessage).take(500)))
    System.err.println(s"[perfbench] $op failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  /** Runs `body` as one counted operation; `None` when it threw. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(op, e); None }
  }

  /** [[attempt]] that also returns the wall seconds of a successful call. */
  def timed[T](op: String)(body: => T): Option[(T, Double)] =
    attempt(op) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
}

/** Spans around the calls the benchmark makes, kept in memory and written
  * as one JSON file when the run ends. Off in untraced runs.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size + 1
      val parent = stack.head
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, t0 - origin, System.nanoTime() - origin)
      }
    }

  def toJson: Json.V = Json.Arr(spans.toSeq.sortBy(_.id).map { s =>
    Json.Obj(Seq(
      "id" -> Json.Num(s.id), "name" -> Json.Str(s.name), "parent" -> Json.Num(s.parent),
      "start_ms" -> Json.Num(s.startNs / 1e6), "end_ms" -> Json.Num(s.endNs / 1e6)))
  })
}

/** What a workload returns: its metrics, and whether every output check
  * passed.
  */
final case class Outcome(metrics: Seq[(String, Double, String)], correct: Boolean, detail: Seq[(String, Json.V)])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Fs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def freshDir(f: File): File = {
    deleteRecursively(f)
    Files.createDirectories(f.toPath)
    f
  }

  /** Regular files below `dir` whose names do not start with `.` or `_`. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else {
      val w = Files.walk(dir.toPath)
      try {
        val it = w.iterator()
        val b = Seq.newBuilder[File]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")) b += p.toFile
        }
        b.result()
      } finally w.close()
    }

  def lines(f: File): Seq[String] = {
    val it = Files.readAllLines(f.toPath).iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  def write(f: File, s: String): Unit = {
    Files.createDirectories(f.getParentFile.toPath)
    Files.write(Paths.get(f.getPath), s.getBytes("UTF-8"))
  }
}

/** Session lifecycle shared by every workload: the program's own
  * `GraftSession.local(cores = nproc)`, pointed at directories inside the
  * run's work dir so that no state survives from an earlier run.
  */
object Sessions {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  private var generation = 0

  /** A new SparkContext with an empty warehouse dir of its own. */
  def fresh(work: File, cores: Int = cores): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    generation += 1
    val wh = Fs.freshDir(new File(work, s"warehouse-$generation"))
    System.setProperty("spark.sql.warehouse.dir", wh.getAbsolutePath)
    System.setProperty("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    val spark = graft.GraftSession.local(cores = cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Generic warm-up that touches no workload code: a parquet round trip,
    * a shuffle and whole-stage codegen, so that first-touch costs belong to
    * set-up and not to whichever timed operation happens to run first.
    */
  def warmUp(spark: SparkSession, work: File): Unit = {
    import org.apache.spark.sql.functions._
    val dir = new File(work, "warmup").getAbsolutePath
    spark.range(0, 20000, 1, cores).select(col("id"), (col("id") % 97).as("k"), concat(lit("w"), col("id")).as("s"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy(col("k")).agg(sum(col("id")), max(length(col("s")))).collect()
  }

  /** Heap in use after a forced full GC, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Minimal JSON values and writer. */
object Json {
  sealed trait V
  final case class Num(v: Double) extends V
  final case class Str(v: String) extends V
  final case class Bool(v: Boolean) extends V
  final case class Arr(v: Seq[V]) extends V
  final case class Obj(v: Seq[(String, V)]) extends V

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def write(v: V): String = v match {
    case Num(d) if d.isNaN || d.isInfinite => "null"
    case Num(d) if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
    case Num(d) => d.toString
    case Str(s) => quote(s)
    case Bool(b) => b.toString
    case Arr(xs) => xs.map(write).mkString("[", ",", "]")
    case Obj(kv) => kv.map { case (k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
  }
}
