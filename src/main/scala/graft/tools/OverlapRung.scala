package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: measure the §2.6 job-overlap (Par.jobs) at a DATA-BOUND
  * rung — the r18 verdict's open question ("the overlap wins are
  * partially latency-flavored at sf0.1"). Amplifies the inputs ×mult
  * with distinct keys, then runs the two overlapped builds the r18
  * round parallelized:
  *   - sketch_daily: the five daily-family writes (disjoint subdirs)
  *   - ivfpq_trained: the M per-subspace KMeans fits
  * Run twice — SPARK_GRAFT_PAR_SEQ=1 forces Par.jobs sequential — and
  * compare the OVERLAP lines.
  * Usage: runMain graft.tools.OverlapRung [sfDir] [mult] [reps]
  */
object OverlapRung {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 24
    val reps = if (args.length > 2) args(2).toInt else 2
    val mode = if (sys.env.get("SPARK_GRAFT_PAR_SEQ").contains("1"))
      "seq" else "overlap"
    val spark = graft.Engine.session("graft-overlap-rung")
    import graft.sources.Tables

    // ×mult events with distinct event/user ids — the sketch store's
    // write volume scales with users × days
    val ev0 = Tables.events(spark, sfDir)
    val ev = (0 until mult).map { i =>
      ev0.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _).localCheckpoint(true)
    println(s"OVERLAPRUNG mode=$mode mult=$mult events=${ev.count()}")

    for (r <- 1 to reps) {
      val p = s"/tmp/overlap_rung_sketch_$mode"
      var t0 = System.nanoTime()
      graft.relational.SketchStore.save(ev, p)
      println(f"OVERLAPRUNG sketch_save_$mode rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // ×mult embeddings with distinct vec_ids — the trained-IVFPQ
    // subspace fits scale with the sampled residual volume
    val em0 = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val em = (0 until mult).map { i =>
      em0.withColumn("vec_id", col("vec_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _).localCheckpoint(true)
    println(s"OVERLAPRUNG embeddings=${em.count()}")
    for (r <- 1 to reps) {
      graft.Caches.clearAll()
      val t0 = System.nanoTime()
      graft.sim.PqTrained.index(em)
      println(f"OVERLAPRUNG trained_build_$mode rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
