package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults — the one place a
  * graft JVM gets its SparkSession (library, Bench, Verify, tools).
  *
  * Tuned for local[N] testing but every setting is what we'd ship on a
  * 1000-executor cluster: AQE on (runtime re-plan, skew-join split),
  * shuffle partitions sized to the parallelism at hand (the driver's
  * env overrides on the real cluster), UTC sessions for deterministic
  * date semantics.
  */
object Engine {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100).
    *
    * The cache is one static LRU per JVM, shared by every session, and
    * its size is read once, when the JVM first generates code. graft's
    * working set is larger than 100 classes, so at the default the LRU
    * thrashes and warm requests recompile: measured on a 4-core VM
    * (sf0.1 dashboard loop, 2×700-doc corpus pass), warm dashboard
    * requests compiled 9.2 classes each (~100 ms of ~300 ms) and a
    * warm corpus pass 262 (~4 s of ~15 s). At 300 entries both fall
    * to ~0, at 600 to 0; 1000 leaves headroom. Cost at 1000 vs 100:
    * ~400 more retained classes, +0.5 MB class metadata and +5.7 MB
    * JIT code cache.
    *
    * Set as a SparkConf entry so executor JVMs get the same size. It
    * takes effect only in a JVM whose first codegen runs under a
    * session built here, which is why every entry point starts with
    * [[session]]. `Caches.clearAll` leaves this cache alone: it holds
    * compiled code, not query results.
    */
  val CodegenCacheEntries = 1000

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as long, the
      // events reader converts to a proper timestamp column.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
