package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parallelism-derived partition counts.
  *
  * Operators must never hardcode partition counts: a literal
  * `repartition(16)` that spreads a single-file local scan caps a
  * 1000-executor cluster at 16 tasks. Everything here derives from
  * `sparkContext.defaultParallelism` (= total cores on a real
  * cluster), overridable via `spark.graft.parallelism`.
  */
object Par {

  /** Base task budget: conf override, else defaultParallelism. */
  def parallelism(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.parallelism")
      .map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
      .max(1)

  /** Repartition round-robin to `mult`× the task budget — used to
    * spread compute-heavy per-row work after a narrow scan (a single
    * parquet file arrives as ONE input partition) or after AQE's
    * byte-based coalescing would serialize CPU-bound work.
    */
  def spread(df: DataFrame, mult: Double = 1.0): DataFrame =
    df.repartition(math.max(1, math.round(parallelism(df.sparkSession) * mult).toInt))

  /** Repartition by key columns at the task budget (AQE leaves
    * user-specified counts alone).
    */
  def spreadBy(df: DataFrame, cols: String*): DataFrame =
    df.repartition(parallelism(df.sparkSession),
      cols.map(org.apache.spark.sql.functions.col): _*)

  /** Side length K of the all-pairs block grid: K(K+1)/2 cells ≈ 4×
    * the task budget, so the quadratic work lands evenly across the
    * cluster with a few waves per core.
    */
  def gridSide(spark: SparkSession): Int =
    math.max(2, math.ceil(math.sqrt(8.0 * parallelism(spark))).toInt)

  /** Run INDEPENDENT Spark actions concurrently from driver threads
    * (optimization-guide §2.6: Spark's scheduler happily runs several
    * jobs at once inside one application; actions are only sequential
    * because driver code calls them sequentially — overlapping lets
    * the next job's tasks back-fill executors idled by the current
    * job's straggler tail and its driver-side commit phases). Results
    * keep input order. Bounded pool: a few jobs in flight fills the
    * tail without the jobs fighting for executors. Exceptions
    * propagate unwrapped after every submitted thunk settles, so a
    * failure can't leave half-orphaned concurrent writes running.
    *
    * Use ONLY for thunks with no data dependency and disjoint write
    * targets — the caller asserts independence (same contract as
    * submitting them from separate threads by hand).
    */
  def jobs[T](thunks: Seq[() => T], maxConcurrent: Int = 4): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      // daemon threads: a wedged Spark action must not pin the JVM
      // past main's exit (the drain below still joins every thunk on
      // the normal path, so daemon-ness never drops a result)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, thunks.size),
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = t()
          })
        }
        // collect every outcome before throwing: the pool must drain
        // so no concurrent write is still in flight when we unwind
        val outcomes = futs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(e.getCause)
            case e: Throwable => Left(e)
          }
        }
        outcomes.collectFirst { case Left(e) => e }.foreach(throw _)
        outcomes.collect { case Right(v) => v }
      } finally pool.shutdown()
    }
}
