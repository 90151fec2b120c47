package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * Settings chosen for the 100 TB design target (AQE on, skew-join
  * handling, shuffle partitions sized to cores in local mode — on a real
  * cluster AQE coalesces post-shuffle partitions anyway).
  *
  * Generated code is compiled once per JVM: the compiled-class cache
  * holds the engine's working set (one DailyDriver lifecycle needs about
  * 790 classes; Spark's default keeps 100), and whole-stage classes are
  * not named by plan position, so an identical pipeline at another
  * codegen stage id reuses its class. The cache size is a static conf,
  * read once when Spark's code generator first loads: it only takes
  * effect when this builder creates the JVM's SparkContext.
  *
  * The `file:` scheme is bound to [[sources.LocalFiles]], which sets
  * permissions and reads link status in-process instead of starting a
  * `chmod` or `readlink` process per file.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries INT64 TIMESTAMP(NANOS) — not a Spark-native
      // type; read as Long (ns since epoch) and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // local files without a chmod/readlink process per file (LocalFiles)
      .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFiles.Local].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.LocalFiles.Fs].getName)

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
