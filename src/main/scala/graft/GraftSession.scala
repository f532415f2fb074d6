package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitioning, AQE, and broadcast thresholds are configured the way a
  * 1000-executor deployment would be (modulo partition counts, which the
  * caller scales to the cluster).
  */
object GraftSession {

  /** The `file:` filesystem classes of every graft session: Hadoop's
    * checksummed local filesystem, minus the `chmod` process per written
    * file (see [[graft.fs.NioRawLocalFileSystem]]). Hadoop caches
    * `FileSystem` instances by scheme, authority and user, not by conf, so
    * these take effect only if no `file:` FileSystem was built earlier in
    * the JVM; the `FileContext` class is looked up on every call.
    */
  val localFileIo: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[fs.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[fs.NioLocalFs].getName
  )

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // RocksDB state store: streaming state (windows, running totals, dedup
      // keys) spills off-heap and scales past executor memory — at 100 TB
      // the HDFS-backed in-memory provider OOMs on state size long before
      // throughput is a problem.
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      )
      .config("spark.ui.enabled", "false")
      .config(localFileIo)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
