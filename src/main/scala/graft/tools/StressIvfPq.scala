package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness

/** Dev tool: scaling check for the PERSISTED composed IVFPQ index
  * (G26/G27) — build+save per rung, time the served residual-ADC
  * top-k and rerank faces against the honest competitor (brute-force
  * exact top-k), for BOTH the pinned 16-list GIVEN twin (constant 4/16
  * probe fraction — linear by construction, kept for the hash gate)
  * and the TRAINED √n-list index with capped probes (PqTrained — the
  * production geometry, serve ~√n), plus a recall-vs-nProbe sweep of
  * the trained index against exact ground truth.
  *
  * The corpus is PLANTED-CLUSTER data (round 18 — the r17 verdict's
  * top item): the r17 fixture was permuted-replica random floats, the
  * provably adversarial case for PQ (no subspace structure → ADC
  * uncorrelated with true distance → recall noise-bound at 0.0-0.13
  * and FLAT in nProbe, so a real recall regression was invisible).
  * Here vectors are Gaussian clusters (σ_noise around seeded centers
  * — the shape real embeddings have) and each query gets exactly K
  * planted near-neighbors (σ_plant ≪ σ_noise) appended at the END of
  * the id space, so exact ground truth IS the planted set, found only
  * if probe routing reaches the query's cluster lists — recall now
  * RESPONDS to nProbe and certifies retrieval quality, not just
  * speed. Planted ids live at the top of the range so the given
  * twin's first-16-ids quantizer stays unpolluted.
  *
  * Usage: runMain graft.tools.StressIvfPq [n1,n2,...] [nCenters] [out.json]
  */
object StressIvfPq {

  private val Dim = 64
  private val SigmaNoise = 0.25
  // half of σ_noise: tight enough that the planted points stay each
  // query's exact top-k (planted dist² ≈ 2·d·σ_plant² ≈ 2 vs ≥ 4 to
  // the nearest of ~n/centers cluster-mates), loose enough that they
  // STRADDLE the √n-list quantizer's sub-cluster boundaries — which
  // is what makes recall respond to nProbe instead of saturating at
  // one probe (σ_plant = 0.02 measured flat-at-1.0 from nProbe=1)
  private val SigmaPlant = 0.125

  /** Deterministic planted-cluster corpus: `nCenters` seeded Gaussian
    * centers; ids [0, QueryIds) are the queries, the top QueryIds·K
    * ids are the planted near-neighbors (id → its query derivable by
    * position), everything else is a cluster point (hashed center +
    * σ_noise). Pure function of (n, nCenters, seed) — any executor
    * re-derives any row.
    */
  def planted(spark: SparkSession, n: Long, nCenters: Int,
      seed: Long): DataFrame = {
    val nQ = graft.sim.Pq.QueryIds
    val kPlant = graft.sim.Pq.K
    val firstPlant = n - nQ.toLong * kPlant
    require(firstPlant > 32,
      s"planted corpus needs n > ${32 + nQ * kPlant}, got $n")
    // everything the udf closure touches is a LOCAL (the enclosing
    // object is not serializable and must not be captured)
    val (dim, sNoise, sPlant, nC, s) =
      (Dim, SigmaNoise, SigmaPlant, nCenters, seed)
    def rng(x: Long) = new java.util.Random(x * 0x9E3779B97F4A7C15L + s)
    val centers: Array[Array[Double]] = Array.tabulate(nC) { c =>
      val r = rng(0x5EEDC0DEL + c)
      Array.fill(dim)(r.nextGaussian())
    }
    val gen = udf((id: Long) => {
      def mk(x: Long) =
        new java.util.Random(x * 0x9E3779B97F4A7C15L + s)
      def baseVec(i: Long): Array[Double] = {
        val c = centers(java.lang.Math
          .floorMod(i * 2654435761L, nC.toLong).toInt)
        val r = mk(i)
        Array.tabulate(dim)(j => c(j) + sNoise * r.nextGaussian())
      }
      val v: Array[Double] =
        if (id >= firstPlant) {
          val q = (id - firstPlant) / kPlant
          val b = baseVec(q) // the query's own vector, re-derived
          val r = mk(id)
          Array.tabulate(dim)(j => b(j) + sPlant * r.nextGaussian())
        } else baseVec(id)
      v.map(_.toFloat)
    })
    spark.range(n)
      .select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("480000,1920000")
      .split(",").map(_.trim.toLong)
    val nCenters = args.lift(1).map(_.toInt).getOrElse(256)
    val spark = graft.Engine.session("graft-stress-ivfpq")
    spark.sparkContext.setLogLevel("WARN")
    import graft.sim.Pq.QueryIds

    val info = ArrayBuffer[(String, Any)]("fixture" -> "planted_clusters",
      "n_centers" -> nCenters, "sigma_noise" -> SigmaNoise, "sigma_plant" -> SigmaPlant)
    val stats = ns.toSeq.flatMap { n =>
      val corpus = planted(spark, n, nCenters, seed = 18L)
        .localCheckpoint(true)
      require(corpus.count() == n)
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_stress_ivfpq_$n").toString
      val dT = java.nio.file.Files
        .createTempDirectory(s"graft_stress_ivfpq_trained_$n").toString
      val queries = corpus.filter(col("vec_id") < QueryIds)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
        .localCheckpoint(true)
      // exact ground truth (its timing IS the honest brute competitor);
      // with the planted fixture it should BE the planted set —
      // reported as a fixture sanity check
      var exactTop = Set.empty[(Long, Long)]
      def item(name: String, build: Boolean = false)(f: => Any) =
        Harness.Item(s"${name}_n$n", () => f, build)
      // builds run once, serves are the min of 2 back-to-back sweeps
      val st = Harness.sweep(spark, "STRESSIVFPQ", Seq(
        item("build", build = true)(graft.sim.Pq.saveIvfPq(corpus, d)),
        item("served_adc") {
          graft.sim.Pq.servedIvfPqKnn(spark, d, queries,
            col("vec_id") >= QueryIds).count()
        },
        item("served_rerank") {
          graft.sim.Pq.servedIvfPqRerank(spark, d, queries,
            col("vec_id") >= QueryIds).count()
        },
        // TRAINED index (√n lists, capped probes — the production
        // geometry): build+save once, then time the served ADC and
        // sweep recall@k over nProbe against exact ground truth
        item("build_trained", build = true)(graft.sim.PqTrained.save(corpus, dT)),
        item("served_adc_trained") {
          graft.sim.PqTrained.servedKnn(spark, dT, queries,
            col("vec_id") >= QueryIds).count()
        },
        item("brute_exact", build = true) {
          val c = corpus.filter(col("vec_id") >= QueryIds)
            .select(col("vec_id").as("neighbor_id"),
              col("embedding").as("ec"))
          val scored = c.crossJoin(broadcast(queries))
            .withColumn("dsq", expr(
              """aggregate(zip_with(eq, ec, (x, y) ->
                |  (cast(x as double) - cast(y as double)) *
                |  (cast(x as double) - cast(y as double))),
                |  cast(0 as double), (a, v) -> a + v)""".stripMargin))
            .withColumn("sim", -col("dsq"))
          exactTop = graft.plans.AggExpressions
            .topKPerKey(scored, "query_id", "sim", "neighbor_id", Nil,
              graft.sim.Pq.K)
            .select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          exactTop.size.toLong
        }), 2, warm = true)
      val firstPlant = n - QueryIds.toLong * graft.sim.Pq.K
      info += s"planted_in_exact_top_n$n" ->
        exactTop.count(_._2 >= firstPlant).toDouble / math.max(1, exactTop.size)
      for (p <- Seq(1, 2, 4, 8, 16, 32)) {
        def rec(df: DataFrame): Double = {
          val got = df.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          got.count(exactTop.contains).toDouble /
            math.max(1, exactTop.size)
        }
        info += s"recall_adc_trained_p${p}_n$n" ->
          rec(graft.sim.PqTrained.knn(corpus, Some(p)))
        info += s"recall_rerank_trained_p${p}_n$n" ->
          rec(graft.sim.PqTrained.knnRerank(corpus, Some(p)))
      }
      // pruning bound: directories the served scan listed vs total
      val totalLists = new java.io.File(s"$d/codes").listFiles()
        .count(_.getName.startsWith("list_id="))
      val nListsTrained = graft.sim.Ivf.numLists(n)
      info ++= Seq(s"lists_total_n$n" -> totalLists,
        s"lists_in_topk_n$n" -> graft.sim.Pq.servedIvfPqKnn(spark, d, queries,
            col("vec_id") >= QueryIds).select("list_id").distinct().count(),
        s"probe_bound_n$n" -> s"${graft.sim.Ivf.GivenProbe}/$totalLists",
        s"lists_trained_n$n" -> nListsTrained,
        s"probe_trained_n$n" -> graft.sim.PqTrained.probeCount(nListsTrained))
      st
    }
    Harness.write(args.lift(2), Harness.artifact("StressIvfPq", stats, info.toSeq))
    spark.stop()
  }
}
