package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINED IVFPQ (SURVEY §2 G12 production path): the composed index
  * with a KMeans-fitted √n-list coarse quantizer ([[Ivf.index]] — the
  * same quantizer knn_ivf serves from) and a KMeans-trained product
  * codebook per subspace, mirroring the knn_ivf /
  * knn_ivf_given_centroids split: this is what a deployment runs,
  * while [[Pq.knnIvfPq]]'s pinned given-quantizer twin
  * (`knn_ivfpq_given`) stays inside the DuckDB hash gate.
  *
  * Why this exists: the given twin's 16-list quantizer probes a
  * constant 4/16 FRACTION of the corpus — an O(n/4) ADC scan that
  * goes linear by ~2M vectors (STRESSIVFPQ_r16). Here nLists ≈ √n
  * ([[Ivf.numLists]]) and nProbe is CAPPED ([[probeCount]]), so a
  * serve scans nProbe·(n/nLists) ≈ 32·√n codes — the sublinear
  * geometry that survives a 100× scale-up (4× corpus ≈ 2× serve).
  *
  * Spark shapes: the quantizer fit and listed corpus are
  * [[Ivf.index]]'s memoized build; the product codebook trains on an
  * md5-sampled residual frame (the [[Ivf.TrainPerList]] budget per
  * codeword, seeded, data-derived partitioning — a pure function of
  * (data, seed)); residual ENCODE is one projection per vector — the
  * packed codebook rides in as a literal and each subspace takes
  * `array_min` over (distance, code) structs, so there is no join and
  * no shuffle in the encode at all; SERVE precomputes per-(query,
  * probed-list) lookup tables as k-element double arrays and scores a
  * candidate with M O(1) `element_at` picks + 3 adds — zero vector
  * arithmetic per candidate, one broadcast join, one top-k.
  */
object PqTrained extends graft.QueryModule {

  import Pq.{NumSub, SubDim, QueryIds, K}

  /** `knn_ivfpq` is rows-only by design (the quantizer and product
    * codebook are KMeans fits — not SQL-expressible); the hash-gated
    * deterministic twin is `knn_ivfpq_given` in [[Pq]].
    */
  override def queries: Map[String, Q] = Map(
    "knn_ivfpq" -> (knnQ _))
  override def oracles: Map[String, String] = Map.empty

  /** Product-codebook size per subspace: 256 (the one-byte FAISS
    * norm) once the corpus can train it, scaled down so small corpora
    * keep ≥64 training points per codeword.
    */
  def codewords(n: Long): Int =
    math.min(256L, math.max(16L, n / 64L)).toInt

  /** Probe count: nLists/4 at small scale (the given twin's ratio),
    * CAPPED at 32 — the cap is what makes the serve O(√n): an
    * uncapped lists/4 probe keeps the scanned FRACTION constant,
    * which is the given twin's linear asymptote. The 32 default sits
    * on the knee of the measured recall-vs-probes curve on the
    * planted-cluster stress fixture (STRESSIVFPQ_r18: routing recall
    * saturates well before the cap at both rungs); a deployment
    * whose corpus needs a different trade sets [[NProbeConfKey]].
    */
  def probeCount(lists: Int): Int =
    math.max(4, math.min(32, lists / 4))

  /** Session config overriding the serve's probe count (positive
    * int): `spark.conf.set("spark.graft.ivfpq.nprobe", 8)`. An
    * explicit `nProbe` argument still wins; the [[probeCount]]
    * default applies when neither is given. More probes buy recall
    * linearly in served-candidate cost (each probe scans ~n/nLists
    * codes) — pick from the measured curve, not by feel.
    */
  val NProbeConfKey = "spark.graft.ivfpq.nprobe"

  private def confNProbe(spark: SparkSession): Option[Int] =
    spark.conf.getOption(NProbeConfKey).map { v =>
      val n = v.trim.toInt
      require(n > 0, s"$NProbeConfKey must be positive, got $v")
      n
    }

  /** The built trained index: driver-side quantizer + product
    * codebook (both serving-size: O(√n)·d and M·k·d doubles), and the
    * encoded corpus (narrow rows: vec_id + list + M codes).
    */
  private[sim] case class Index(
      centers: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]],
      codes: DataFrame)

  /** Quantized squared L2 between a double-array column and a
    * double-array column (plain double math: the trained path is
    * rows-only by design — approximate scores need no cross-engine
    * bit discipline, so the arithmetic stays in codegen-friendly
    * doubles).
    */
  private def dsq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  private def subCol(a: Column, m: Int): Column =
    slice(a, m * SubDim + 1, SubDim)

  private def centDf(spark: SparkSession,
      centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cid", "ce")
  }

  /** Per-vector PQ codes: for each subspace the argmin codeword
    * (strict `<` keeps the FIRST minimum — ties to the smaller code,
    * the [[Pq.codes]] rule). Deterministic pure function of
    * (residual, codebook).
    */
  private def encodeUdf(codebook: Array[Array[Array[Double]]]) =
    udf((resid: Seq[Double]) => {
      val out = new Array[Long](NumSub)
      var m = 0
      while (m < NumSub) {
        val cws = codebook(m)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cws.length) {
          val cw = cws(c)
          var d = 0.0d
          var i = 0
          while (i < SubDim) {
            val t = resid(m * SubDim + i) - cw(i)
            d += t * t
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(m) = best.toLong
        m += 1
      }
      out
    })

  private[graft] def index(emb: DataFrame): Option[Index] =
    graft.Memo.once("PqTrained.index", emb.sparkSession,
      graft.Memo.planKey(emb))(build(emb))

  private def build(emb: DataFrame): Option[Index] =
    graft.Profiling.phase("trained.coarse(Ivf.index)") {
      Ivf.index(emb.select("vec_id", "embedding"))
    }.map {
      case (centers, listed) =>
        val spark = listed.sparkSession
        val n = listed.count()
        val cents = centDf(spark, centers)
        // residuals once, checkpointed: read by each subspace fit's
        // sample and by the encode projection
        val resid = graft.Profiling.phase("trained.residuals") {
          listed
            .join(broadcast(cents), listed("list_id") === cents("cid"))
            .select(col("vec_id"), col("list_id").cast("bigint").as("list_id"),
              zip_with(col("embedding"), col("ce"),
                (x, c) => x.cast("double") - c).as("resid"))
            .localCheckpoint(true)
        }
        val codebook: Array[Array[Array[Double]]] =
          if (n < 2) {
            // a 1-vector corpus IS its centroid: residual zero, one
            // zero codeword per subspace, no fit (the Ivf n==1 rule)
            Array.fill(NumSub)(Array(Array.fill(SubDim)(0.0d)))
          } else graft.Profiling.phase("trained.codebook_fits") {
            val k = math.min(codewords(n).toLong, n).toInt
            val mod = math.max(1L, n / (Ivf.TrainPerList.toLong * k))
            val sample = resid.filter(expr(
                s"conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) % $mod = 0"))
              .localCheckpoint(true)
            val sn = sample.count()
            val kk = math.max(2L, math.min(k.toLong, sn)).toInt
            // the M subspace fits are INDEPENDENT (each reads the
            // shared checkpointed sample, each is seeded 42+m) —
            // overlap them (guide §2.6): a single fit is dozens of
            // tiny sequential jobs over ~TrainPerList·k rows, so on
            // any non-saturated cluster the build was paying M
            // sequential job-latency chains for one chain's work.
            // Per-fit results are a pure function of (sample, seed),
            // so concurrency cannot change the codebook.
            graft.Par.jobs((0 until NumSub).map { m => () =>
              val feats = sample
                .select(col("vec_id"),
                  array_to_vector(subCol(col("resid"), m)).as("features"))
                .repartition(Ivf.fitPartitions(sn), col("vec_id"))
                .sortWithinPartitions("vec_id")
              new KMeans().setK(kk).setSeed(42L + m)
                .setFeaturesCol("features").setPredictionCol("code")
                .fit(feats).clusterCenters.map(_.toArray)
            }).toArray
          }
        // encode = one shuffle-free pass: the per-vector argmin over
        // k codewords × M subspaces is a tight numeric kernel (k·d
        // multiplies per subspace), so it runs as a primitive-array
        // UDF over the task-shipped codebook — ~100× the throughput
        // of an interpreted HOF fold at k=256, and the build is the
        // one place this index touches every vector
        val enc = encodeUdf(codebook)
        val codes = graft.Profiling.phase("trained.encode") {
          resid
            .withColumn("cs", enc(col("resid")))
            .select(col("vec_id") +: col("list_id") +:
              (0 until NumSub).map(m =>
                element_at(col("cs"), m + 1).as(s"code_$m")): _*)
            .localCheckpoint(true)
        }
        Index(centers, codebook, codes)
    }

  /** Force the one-time trained build (quantizer fit via Ivf, M
    * subspace codebook fits, corpus encode) — bench accounting.
    */
  def prebuild(spark: SparkSession, dir: String): Unit = {
    index(graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")); ()
  }

  /** Per-(query, probed list) lookup tables: probe routing by exact
    * squared-L2 against the broadcast quantizer (rank asc, ties to
    * the smaller list — KMeans assignment's own metric), then each
    * probe's residual LUT is M k-element double arrays indexed by
    * code+1.
    */
  private def lutFrame(queries: DataFrame, ix: Index,
      nProbe: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val nLists = ix.centers.length
    val cents = centDf(spark, ix.centers)
    val probeRank = Window.partitionBy("query_id")
      .orderBy(asc("c_dsq"), asc("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("c_dsq",
        dsq(col("eq").cast("array<double>"), col("ce")))
      .withColumn("prnk", row_number().over(probeRank))
      .filter(col("prnk") <= nProbe.orElse(confNProbe(spark))
        .getOrElse(probeCount(nLists)))
      .select(col("query_id"), col("cid").as("list_id"),
        zip_with(col("eq"), col("ce"),
          (x, c) => x.cast("double") - c).as("qres"))
    // the LUT kernel is the serve's fixed cost (queries × nProbe ×
    // M × k subspace distances): like the encode argmin it runs as a
    // primitive-array UDF — an interpreted HOF fold here measurably
    // dominated the whole serve at k=256
    val lu = lutUdf(ix.codebook)(col("qres"))
    probes.select(col("query_id") +: col("list_id") +:
      (0 until NumSub).map(m => element_at(lu, m + 1).as(s"lut_$m")): _*)
  }

  /** Per-subspace distance tables for one query residual: m →
    * (code → squared distance), indexed by code+1 downstream.
    */
  private def lutUdf(codebook: Array[Array[Array[Double]]]) =
    udf((qres: Seq[Double]) => {
      val r = qres.toArray
      codebook.indices.map { m =>
        val cws = codebook(m)
        val out = new Array[Double](cws.length)
        var c = 0
        while (c < cws.length) {
          val cw = cws(c)
          var d = 0.0d
          var i = 0
          while (i < SubDim) {
            val t = r(m * SubDim + i) - cw(i)
            d += t * t
            i += 1
          }
          out(c) = d
          c += 1
        }
        out.toSeq
      }
    })

  /** ADC scoring over the trained index: [[Search.adc]] against the
    * [[lutFrame]] tables, each candidate scored with M element_at
    * picks summed in plain doubles.
    */
  private def adcScores(codes: DataFrame, lut: DataFrame): DataFrame =
    Search.adc(codes, lut, (0 until NumSub)
      .map(m => element_at(col(s"lut_$m"), col(s"code_$m").cast("int") + 1))
      .reduce(_ + _))

  /** The trained refine distance: plain double squared L2. */
  private def exactDsq(q: Column, n: Column): Column =
    dsq(q.cast("array<double>"), n.cast("array<double>"))

  /** G12 (trained) — `knn_ivfpq`: top-[[K]] residual-ADC search over
    * the √n-list trained index. Rows-only at the gate (the quantizer
    * and codebook fits are not SQL-expressible — the knn_ivf
    * discipline); `knn_ivfpq_given` carries the hash.
    */
  def knn(emb: DataFrame, nProbe: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    index(emb.select("vec_id", "embedding")) match {
      case None =>
        Seq.empty[(Long, Int, Long, Double, Long)]
          .toDF("query_id", "rank", "neighbor_id", "adist", "list_id")
      case Some(ix) =>
        Search.topK(adcScores(ix.codes.filter(col("vec_id") >= QueryIds),
          lutFrame(Pq.queriesOf(emb), ix, nProbe)),
          "sim", Seq("adist", "list_id"), K)
    }
  }

  /** Shortlist size of the trained rerank's ADC stage — wider than
    * the gate twin's [[Pq.RerankR]] because at production corpus
    * sizes ADC@k alone cannot separate the true top-k from the noise
    * floor (PQ error grows with candidate count); the serving pattern
    * is ADC proposes ~50, exact disposes k.
    */
  val TrainedRerankR = 50

  /** The refine stage over the trained index (the G24/G25 two-stage
    * pattern): the top-[[TrainedRerankR]] ADC shortlist through
    * [[Search.refine]] by exact double squared L2. This is the number
    * a deployment actually serves; the recall-vs-probes sweep reports
    * both stages.
    */
  def knnRerank(emb: DataFrame, nProbe: Option[Int] = None,
      r: Int = TrainedRerankR): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    index(emb.select("vec_id", "embedding")) match {
      case None =>
        Seq.empty[(Long, Int, Long, Double, Double)]
          .toDF("query_id", "rank", "neighbor_id", "dist", "adist")
      case Some(ix) =>
        val queries = Pq.queriesOf(emb)
        Search.refine(
          Search.topK(adcScores(ix.codes.filter(col("vec_id") >= QueryIds),
            lutFrame(queries, ix, nProbe)), "sim", Seq("adist"), r,
            sorted = false),
          queries, emb.filter(col("vec_id") >= QueryIds), exactDsq, K)
    }
  }

  /** Mean recall@[[K]] of [[knn]] (at `nProbe`, default
    * [[probeCount]]) against exact squared-L2 ground truth — the
    * tuning measurement behind the recall-vs-probes curve (and the
    * recall-floor spec). Deterministic: seeded fits over an md5
    * sample.
    */
  /** Exact squared-L2 top-[[K]] ground truth per query and the query
    * count — the one definition of "true neighbors" shared by
    * [[meanRecall]] and [[probeForRecall]] (a drift between the
    * floor spec's truth and the tuning curve's truth would make the
    * two silently measure different things).
    */
  private def exactTopK(emb: DataFrame): (DataFrame, Long) = {
    val e = emb.select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < QueryIds)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("eq"))
    val c = e.filter(col("vec_id") >= QueryIds)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("ec"))
    val exact = graft.plans.AggExpressions
      .topKPerKey(
        c.crossJoin(broadcast(q))
          .withColumn("sim", -dsq(col("eq"), col("ec"))),
        "query_id", "sim", "neighbor_id", Nil, K)
      .select("query_id", "neighbor_id")
    (exact, q.count())
  }

  def meanRecall(emb: DataFrame, nProbe: Option[Int] = None): Double = {
    val (exact, nq) = exactTopK(emb)
    if (nq == 0) 1.0
    else knn(emb, nProbe).select("query_id", "neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / (nq * K)
  }

  /** The measured recall-vs-probes curve and its knee: sweep
    * [[meanRecall]] over candidate probe counts (ascending) and
    * return the smallest probe count reaching `targetRecall`, plus
    * the full curve for the caller's own trade-off. Falls back to
    * the largest candidate when the target is never reached (the
    * honest answer: this index cannot serve that recall from probes
    * alone — widen the rerank shortlist or retrain). This is the
    * tuning pass a deployment runs ONCE on a held-out sample, then
    * pins the knee via [[NProbeConfKey]]; probes buy recall linearly
    * in serve cost (each probe scans ~n/nLists codes), so serving
    * above the knee is pure waste.
    */
  def probeForRecall(emb: DataFrame, targetRecall: Double,
      candidates: Seq[Int] = Seq(1, 2, 4, 8, 16, 32))
      : (Int, Seq[(Int, Double)]) = {
    // exact ground truth ONCE (the expensive corpus scan,
    // checkpointed for the sweep), then each candidate probe count
    // pays only its index serve — a 6-point curve costs one
    // brute-force pass, not six
    val (exactRaw, nq) = exactTopK(emb)
    val exact = exactRaw.localCheckpoint(true)
    val curve = candidates.sorted.map { p =>
      val r =
        if (nq == 0) 1.0
        else knn(emb, Some(p)).select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / (nq * K)
      p -> r
    }
    val knee = curve.collectFirst {
      case (p, r) if r >= targetRecall => p
    }.getOrElse(curve.last._1)
    (knee, curve)
  }

  def knnQ(spark: SparkSession, dir: String): DataFrame =
    knn(graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding"))

  // --- persisted trained index (the saveIvfPq discipline) -----------

  /** Persist the trained index: `centroids/` (the √n-row quantizer),
    * `pq/` (the trained codeword table), `codes/` partitioned by
    * list_id (one file per inverted list — a probe reads a list whole
    * or not at all, and the probe set partition-prunes the scan).
    */
  def save(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ix = index(emb.select("vec_id", "embedding")).getOrElse(
      throw new IllegalArgumentException(
        s"trained ivfpq save at $dir: empty corpus has no quantizer"))
    centDf(spark, ix.centers).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    (for (m <- 0 until NumSub; c <- ix.codebook(m).indices)
      yield (m, c, ix.codebook(m)(c).toSeq))
      .toDF("m", "code", "cw")
      .write.mode("overwrite").parquet(s"$dir/pq")
    ix.codes.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/codes")
  }

  /** Load the SAVED model (quantizer + codebook) as driver arrays —
    * serving-size quantities: O(√n)·d and M·k·d doubles.
    */
  private def loadModel(spark: SparkSession, dir: String): Index = {
    val centers = spark.read.parquet(s"$dir/centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)
    val cb = spark.read.parquet(s"$dir/pq").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    Index(centers, cb, null)
  }

  /** Serve from the SAVED trained index: the loaded model's
    * [[lutFrame]], the probe set partition-pruning `codes/`, and the
    * in-session [[adcScores]] and [[Search.topK]].
    */
  def servedKnn(spark: SparkSession, dir: String, queries: DataFrame,
      candPred: Column): DataFrame =
    Search.topK(servedAdc(spark, dir, queries, candPred),
      "sim", Seq("adist", "list_id"), K)

  private def servedAdc(spark: SparkSession, dir: String,
      queries: DataFrame, candPred: Column): DataFrame = {
    val lut = lutFrame(queries, loadModel(spark, dir)).localCheckpoint(true)
    val probedIds = lut.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    adcScores(Pq.loadIvfPqCodes(spark, dir)
      .filter(candPred && col("list_id").isin(probedIds: _*)), lut)
  }

  /** The two-stage serve from the SAVED trained index (the G27 shape
    * on the production geometry): the top-[[TrainedRerankR]] served
    * ADC shortlist through [[Search.refine]], fetching raw embeddings
    * from the CALLER's corpus frame. The trained layout
    * deliberately stores codes only — no refine sidecar, the
    * memory/precision trade a PQ deployment makes — so the raw
    * vectors come from the primary store the corpus already lives
    * in; the shortlist broadcast into that scan keeps the fetch
    * O(queries·R), never a corpus scan. Bit-identical to the
    * in-session [[knnRerank]] on the same corpus (spec-pinned).
    */
  def servedKnnRerank(spark: SparkSession, dir: String,
      queries: DataFrame, corpus: DataFrame,
      candPred: Column): DataFrame =
    Search.refine(
      Search.topK(servedAdc(spark, dir, queries, candPred), "sim",
        Seq("adist"), TrainedRerankR, sorted = false),
      queries, corpus.filter(candPred), exactDsq, K)

  /** G34 — incremental maintenance of the TRAINED composed index: the
    * G28 arrival contract applied to the production geometry (which
    * previously had save/serve only — vectors could not ARRIVE). New
    * vectors assign against the SAVED √n-list quantizer (argmin over
    * the broadcast centers — squared L2, first minimum wins, the
    * quantizer's own metric), residual-encode against the SAVED
    * codebook (the build's own primitive-array kernel), and append
    * into `codes/` partitioned by list_id; existing lists are never
    * read or rewritten, so per-batch work is O(batch)·√n (the argmin
    * term — the same per-vector cost the build's own assignment
    * pays). For a PINNED model the result is IDENTICAL to encoding
    * the union corpus with that model (assignment and encoding are
    * per-vector; spec-pinned against a model-copied rebuild), which
    * is exactly why deployments pin the model and retrain offline —
    * G28's argument, unchanged by training.
    */
  def appendTrained(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val ix = loadModel(spark, dir)
    val centB = spark.sparkContext.broadcast(ix.centers)
    val assignU = udf((emb: Seq[Float]) => {
      val cs = centB.value
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cw = cs(c)
        var d = 0.0d
        var i = 0
        while (i < cw.length) {
          val t = emb(i).toDouble - cw(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best.toLong
    })
    val residU = udf((emb: Seq[Float], lid: Long) => {
      val cw = centB.value(lid.toInt)
      Array.tabulate(cw.length)(i => emb(i).toDouble - cw(i))
    })
    val enc = encodeUdf(ix.codebook)
    newEmb.select(col("vec_id"), col("embedding"))
      .withColumn("list_id", assignU(col("embedding")))
      .withColumn("cs", enc(residU(col("embedding"), col("list_id"))))
      .select(col("vec_id") +: col("list_id") +:
        (0 until NumSub).map(m =>
          element_at(col("cs"), m + 1).as(s"code_$m")): _*)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$dir/codes")
  }

  /** G35 — deletion from the trained index: [[Pq.deleteFromListLayout]]
    * on the single codes layout, after the per-list recovery (contract
    * 2 of [[graft.FsOps]]); untouched lists are never read. No refine sidecar exists here, so rerank-style serving after a
    * delete re-fetches raw vectors from the caller's corpus frame as
    * [[knnRerank]] always does.
    */
  def deleteTrained(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    graft.FsOps.recoverDeleteOld(graft.FsOps.fs(spark, dir), dir, Seq("codes"))
    Pq.deleteFromListLayout(spark, dir, "codes", Pq.loadIvfPqCodes(spark, dir),
      ids.select(col("vec_id")).distinct())
  }

  /** G36 — compaction for the trained index: each [[appendTrained]]
    * lays one file per touched list, so a long-lived index
    * accumulates small files; rewrite `codes/` to one file per list
    * and commit it with [[graft.FsOps.swapDir]]. Serving is unchanged.
    */
  def compactTrained(spark: SparkSession, dir: String): Unit =
    Pq.compactListLayouts(spark, dir, Seq("codes" -> Pq.loadIvfPqCodes _))

  /** [[appendTrained]] guarded by a batch-id marker (the
    * appendIvfPqOnce discipline): an at-least-once re-delivered batch
    * is a no-op. Single-layout index, so the residual window is
    * narrower than the given twin's: one write job, marker after it —
    * a crash in between re-appends that batch on replay (the
    * applyDiffOnce trade).
    */
  def appendTrainedOnce(newEmb: DataFrame, dir: String,
      batchId: Long): Unit =
    graft.FsOps.onceByMarker(
      graft.FsOps.fs(newEmb.sparkSession, dir), dir, batchId) {
      appendTrained(newEmb, dir)
    }
}
