package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's generated-class cache is one LRU per JVM, sized when the JVM
  * first generates code. At Spark's default of 100 entries a working set
  * of a few hundred classes is evicted and recompiled on every pass;
  * [[Engine.session]] sizes it to [[Engine.CodegenCacheEntries]]. These
  * specs pin that the size reaches the session and that a class used
  * before 100+ others is still cached when its query runs again.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // Int literals are inlined into the generated Java source, so every
  // distinct literal is a distinct class (and cache entry).
  private def distinctQuery(i: Int): Array[Long] =
    spark.range(0, 4, 1, 1)
      .select((col("id") * lit(7919) + lit(90000000 + i)).as("v"))
      .collect().map(_.getLong(0))

  test("the session carries Engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheEntries.toString)
  }

  test("a class survives more than 100 later classes (no recompile)") {
    val n = 150
    val c0 = compiles
    val first = distinctQuery(0)
    (1 until n).foreach(distinctQuery)
    // premise: the loop really generated more classes than Spark's
    // default cache holds
    assert(compiles - c0 >= n, s"only ${compiles - c0} compiles for $n queries")
    val c1 = compiles
    assert(distinctQuery(0).sameElements(first))
    assert(compiles == c1,
      s"re-running the first query compiled ${compiles - c1} classes again")
  }
}
