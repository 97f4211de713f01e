package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** IVF approximate nearest neighbor (SURVEY §2 G2b): a KMeans coarse
  * quantizer partitions the corpus into inverted lists; each query
  * ranks the (tiny, broadcast) centroid table, probes its nProbe
  * nearest lists, and exact-reranks only inside them.
  *
  * Scale shape: probe selection touches nLists rows per query, the
  * candidate join is an equi-join on list_id (co-partitioned), and a
  * query reads ~nProbe/nLists of the corpus — the standard
  * billion-vector inverted-file layout expressed as DataFrames.
  */
object Ivf extends QueryModule {

  /** Inverted-list count for an n-vector corpus: ≈√n with a 16-list
    * floor — the IVF norm. A FIXED list count makes both the per-query
    * probe scan (n·nProbe/nLists) and semdedup's within-list pair work
    * (n²/nLists) quadratic in the corpus; √n pins the per-list size to
    * ≈√n, so probes scan O(√n) and semdedup does O(n^1.5) total pair
    * work — the standard billion-vector geometry.
    */
  def numLists(n: Long): Int =
    // clamp to n: KMeans crashes (AIOOBE in init) when k exceeds the
    // point count — a 1-row corpus gets 1 list, identity for n ≥ 16
    math.min(math.max(1L, n), math.max(16, math.sqrt(n.toDouble).toInt)).toInt

  /** Probe count: nLists/4 (the fixed probe/list RATIO recall depends
    * on), floored at the old 4-probe minimum.
    */
  def nProbe(lists: Int): Int = math.max(4, lists / 4)

  /** Quantizer-training sample target: ~TrainPerList points per
    * centroid — the standard IVF training budget (FAISS trains its
    * coarse quantizer on 39-256 points/centroid). The sample modulus
    * is DERIVED from the corpus: vectors whose md5(vec_id) bucket is
    * 0 of sampleMod(n, lists) train the quantizer, so the fit sees
    * ~256·√n rows at any corpus size instead of the fixed n/2 a
    * constant modulus gave (which made the KMeans pass O(iters·k·n) —
    * quadratic-ish in n with k=√n — and the dominant build cost at
    * scale). The md5 coin keeps the sample a pure function of the
    * data (same discipline as the corpus-split bucketing), not of
    * partitioning.
    */
  val TrainPerList = 256

  def sampleMod(n: Long, lists: Int): Long =
    math.max(1L, n / (TrainPerList.toLong * lists))

  /** Fit-input partition count, derived from the SAMPLE size (not the
    * session's core count — kmeans|| init depends on the input
    * partitioning, so a parallelism-derived layout would make list
    * assignment vary with the machine): ~64k training rows per task,
    * 4-partition floor. A billion-vector corpus trains on ~8M rows
    * over ~123 tasks instead of everything over 4.
    */
  def fitPartitions(sampleRows: Long): Int =
    math.max(4, (sampleRows / 65536L).toInt)

  // The built index (quantizer + listed corpus) memoized per
  // (session, corpus plan): an IVF index is built once and probed by
  // many queries — refitting KMeans per search would dominate serving.
  /** None for an EMPTY corpus: KMeans cannot fit zero points, and a
    * user pointing the library at an empty partition should get an
    * empty result, not an MLlib stage failure (the r9 empty-tables
    * census: knn_ivf and semdedup were the only 2 of 134 queries to
    * throw).
    */
  private[sim] def index(emb: DataFrame): Option[(Array[Array[Double]], DataFrame)] =
    graft.Memo.once("Ivf.index", emb.sparkSession, graft.Memo.planKey(emb)) {
      val feats = graft.Par.spread(emb).withColumn("features",
        array_to_vector(col("embedding").cast("array<double>")))
      // size the geometry from the corpus (one cheap count; the
      // index is built once per corpus, so this never re-runs)
      val n = emb.count()
      if (n == 0) None
      else if (n == 1) {
        // MLlib KMeans requires k >= 2 — a 1-vector corpus gets
        // one list whose centroid IS the vector, no fit
        val listed = feats.drop("features")
          .withColumn("list_id", lit(0))
          .withColumn("nsq", Vectors.normSq("embedding"))
          .localCheckpoint(true)
        val center = emb.select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        Some((Array(center), listed))
      } else {
        val lists = numLists(n)
        // Fit the coarse quantizer on a deterministic md5-sample
        // in a key-hash-partitioned layout with a sample-size-
        // derived partition count (never the session's
        // parallelism — see fitPartitions). Sample modulus from
        // the corpus size, so training stays ~TrainPerList·lists
        // rows at any n. The sample + data-derived layout make
        // the model a pure function of (data, seed).
        val mod = sampleMod(n, lists)
        val sampleRows = n / mod
        val model = graft.Profiling.phase("ivf.coarse_fit") {
          new KMeans().setK(lists).setSeed(42)
            .setFeaturesCol("features").setPredictionCol("list_id")
            .fit(feats
              .filter(expr(s"conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) % $mod = 0"))
              .repartition(fitPartitions(sampleRows), col("vec_id"))
              .sortWithinPartitions("vec_id"))
        }
        // eager checkpoint, not lazy persist: the knn action reads
        // the listed corpus through BOTH the query and candidate
        // filter branches — and the blocks survive clearCache, so
        // a served index never rebuilds mid-session
        val listed = graft.Profiling.phase("ivf.assign_checkpoint") {
          model.transform(feats).drop("features")
            .withColumn("nsq", Vectors.normSq("embedding"))
            .localCheckpoint(true)
        }
        Some((model.clusterCenters.map(_.toArray), listed))
      }
    }

  /** Force the one-time index build (quantizer fit + listed corpus)
    * for the driver-query corpus — benchmark accounting: the build is
    * timed separately so knn_ivf/semdedup report marginal cost.
    */
  def prebuild(spark: SparkSession, dir: String): Unit = {
    index(Tables.embeddings(spark, dir).select("vec_id", "embedding")); ()
  }

  /** Force the given-quantizer assignment build (shared by both
    * given-centroids queries) — same bench-accounting purpose.
    */
  def prebuildGiven(spark: SparkSession, dir: String): Unit = {
    givenListed(Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")); ()
  }

  /** Diagnostic: within-list candidate-pair count (the semdedup join
    * volume) — StressBench reads it to verify the √n list geometry
    * keeps pair work ~n^1.5 (≈2.8× per corpus doubling), not the
    * n²/16 of a fixed 16-list quantizer.
    */
  def semdedupPairCount(emb: DataFrame): Long = index(emb) match {
    case None => 0L
    case Some((_, listed)) =>
      val a = listed.select(col("list_id"), col("vec_id").as("a"))
      val b = listed.select(col("list_id"), col("vec_id").as("b"))
      a.join(b, Seq("list_id")).filter(col("a") < col("b")).count()
  }

  /** Top-k cosine via nProbe inverted lists. Empty corpus → empty
    * result with the knn schema (no quantizer exists to probe).
    */
  def knn(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (centers, listed) = index(emb) match {
      case Some(ix) => ix
      case None =>
        return Seq.empty[(Long, Int, Long, Double, Int)]
          .toDF("query_id", "rank", "neighbor_id", "cosine", "list_id")
    }

    val centroids = centers.zipWithIndex
      .map { case (c, i) =>
        (i, c.map(_.toFloat), c.map(v => v * v).sum)
      }
      .toSeq.toDF("list_id", "centroid", "c_nsq")

    val queries = listed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
        col("nsq").as("nq"))

    // probe selection: nLists rows per query
    val probeRank = Window.partitionBy("query_id")
      .orderBy(desc("c_cos"), asc("list_id"))
    // rank lists by cosine, not raw dot: centroid norms differ, and an
    // un-normalized dot lets one large-norm centroid hijack every
    // query's probe set (query norm is constant per query, so it
    // cannot change the per-query ranking and is skipped)
    val probes = queries.crossJoin(broadcast(centroids))
      // nullif: an all-zero centroid (degenerate corpus) has c_nsq=0
      // and ANSI Divide throws on a zero divisor — degrade that
      // centroid to a null cosine (ranked last), not a crash
      .withColumn("c_cos",
        Vectors.dotFast("eq", "centroid") / sqrt(nullif(col("c_nsq"), lit(0.0d))))
      .withColumn("prnk", row_number().over(probeRank))
      .filter(col("prnk") <= nProbe(centers.length))
      .select("query_id", "eq", "nq", "list_id")

    val cand = listed.filter(!queryPred)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"),
        col("nsq").as("nc"), col("list_id"))

    val scored = probes.join(cand, "list_id")
      .withColumn("cosine",
        Vectors.cosineFrom(Vectors.dot("eq", "ec"), col("nq"), col("nc")))
    Search.topK(scored, "cosine", Seq("list_id"), k)
  }

  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knn(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      col("vec_id") < 5, 3)

  /** F10 `semdedup` cosine threshold. */
  val SemDedupTau = 0.45

  /** F10 — SemDeDup (cluster-then-pair semantic dedup, Abbas et al.
    * 2023 shape): the coarse quantizer's inverted lists ARE the
    * clusters, so pairwise cosine runs only within a list — the
    * corpus-wide O(n²) becomes Σ per-list O(m²) with m ≈ n/nLists,
    * and each list's pair join is an equi-join on list_id (no
    * cartesian node). Drop rule: a vector is dropped when an
    * earlier-ordered vector in its list is ≥ τ cosine-similar
    * (deterministic id order stands in for the paper's
    * distance-to-centroid order) — one pair join + one distinct +
    * one left anti-ish flag join, fully parallel, no sequential
    * greedy loop.
    */
  def semdedup(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val listed = index(emb) match {
      case Some((_, ix)) => ix
      case None =>
        // empty corpus → empty keep-list, not an MLlib fit failure
        return Seq.empty[(Long, Int, Boolean)]
          .toDF("vec_id", "list_id", "keep")
    }
    val a = listed.select(col("list_id"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nsq").as("na"))
    val b = listed.select(col("list_id"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nsq").as("nb"))
    val dropped = a.join(b, Seq("list_id"))
      .filter(col("a") < col("b"))
      .withColumn("cosine",
        Vectors.cosineFrom(Vectors.dot("ea", "eb"), col("na"), col("nb")))
      .filter(col("cosine") >= SemDedupTau)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    listed.select("vec_id", "list_id")
      .join(dropped, Seq("vec_id"), "left")
      .withColumn("keep", col("dropped").isNull)
      .select("vec_id", "list_id", "keep")
      .orderBy("vec_id")
  }

  def semdedupQ(spark: SparkSession, dir: String): DataFrame =
    semdedup(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** Centroid count for the given-quantizer semdedup variant. */
  val GivenCentroids = 16

  /** F10b — semdedup with a GIVEN coarse quantizer: the centroids are
    * the embeddings of a fixed id set (vec_id < [[GivenCentroids]]),
    * so list assignment is plain relational algebra — argmax of the
    * decimal-quantized cosine against 16 broadcast centroid rows,
    * ties to the smaller centroid id — and the ENTIRE within-list
    * pair/drop chain sits inside the DuckDB hash gate. This gates the
    * semdedup algebra itself; the KMeans-fitted [[semdedup]] keeps
    * the rows-only check (the quantizer fit is not SQL-expressible).
    *
    * Scale shape: assignment is one broadcast join + one map-side-
    * combinable max_by aggregate (narrow rows — embeddings re-join
    * once, co-partitioned on vec_id); the pair join is the same
    * within-list equi-join as semdedup.
    */
  def semdedupGivenCentroids(emb: DataFrame): DataFrame = {
    val (_, assigned) = givenListed(emb)
    val a = assigned.select(col("list_id"), col("vec_id").as("pa"),
      col("embedding").as("ea"), col("nsq").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("pb"),
      col("embedding").as("eb"), col("nsq").as("nb"))
    val dropped = a.join(b, Seq("list_id"))
      .filter(col("pa") < col("pb"))
      .withColumn("cosine",
        Vectors.cosineFrom(Vectors.dot("ea", "eb"), col("na"), col("nb")))
      .filter(col("cosine") >= SemDedupTau)
      .select(col("pb").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.select("vec_id", "list_id")
      .join(dropped, Seq("vec_id"), "left")
      .withColumn("keep", col("dropped").isNull)
      .select("vec_id", "list_id", "keep")
      .orderBy("vec_id")
  }

  /** The given-quantizer listed corpus: (centroids, assignment).
    * Assignment = argmax decimal-quantized cosine against the 16
    * broadcast centroid rows on NARROW rows (the max_by partial
    * aggregate combines map-side; ties impossible — cid is distinct
    * within a group, so struct(c_cos, -cid) is a total order), then
    * one co-partitioned join brings the embeddings back.
    */
  // one build serves both given-centroids queries (same discipline as
  // the KMeans index memo); checkpoint blocks survive clearCache
  private[sim] def givenListed(emb: DataFrame): (DataFrame, DataFrame) =
    graft.Memo.once("Ivf.givenListed", emb.sparkSession,
      graft.Memo.planKey(emb))(buildGivenListed(emb))

  private def buildGivenListed(emb: DataFrame): (DataFrame, DataFrame) = {
    val e = graft.Par.spread(emb)
      .select(col("vec_id"), col("embedding"),
        Vectors.normSq("embedding").as("nsq"))
      .localCheckpoint(true) // read by centroids, assignment, consumers
    val cents = e.filter(col("vec_id") < GivenCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("nsq").as("cn"))
    val assignNarrow = e.crossJoin(broadcast(cents))
      .withColumn("c_cos", Vectors.cosineFrom(
        Vectors.dot("embedding", "ce"), col("nsq"), col("cn")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("c_cos"), -col("cid")))
        .as("list_id"))
    (cents, e.join(assignNarrow, "vec_id").localCheckpoint(true))
  }

  /** Probe count for the given-quantizer search (the NProbe floor). */
  val GivenProbe = 4

  /** G2c — IVF search with the GIVEN quantizer: the same probe-then-
    * re-rank plan as [[knn]] ([[Search.probes]] over the
    * [[GivenCentroids]] fixed centroids, [[Search.cosines]] in the
    * probed lists, [[Search.topK]]) — so the ENTIRE inverted-file
    * search algebra sits inside the DuckDB hash gate. [[knn]] keeps
    * the rows-only check only because its KMeans fit is not
    * SQL-expressible.
    */
  def knnGivenCentroids(emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (cents, assigned) = givenListed(emb)
    val probes = Search.probes(Search.queryRows(assigned, queryPred), cents)
    Search.topK(Search.cosines(probes, assigned.filter(!queryPred),
      Seq("list_id")), "cosine", Seq("list_id"), k)
  }

  def knnGivenCentroidsQ(spark: SparkSession, dir: String): DataFrame =
    knnGivenCentroids(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      col("vec_id") < 5, 3)

  def semdedupGivenCentroidsQ(spark: SparkSession, dir: String): DataFrame =
    semdedupGivenCentroids(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** G19 — FILTERED vector search: each query's top-k is taken only
    * among candidates sharing its `label` — metadata-scoped ANN, the
    * multi-tenant / shard-constrained search a vector store serves
    * when a filter expression composes with similarity. Semantics are
    * PRE-filtering: the predicate restricts the candidate set BEFORE
    * ranking (inside the probed lists), so the result is the exact
    * filtered top-k of the probe-bounded search — post-filtering
    * (filter AFTER an unfiltered top-k) silently returns fewer than k
    * matches whenever the unfiltered head is dominated by other
    * tenants, which is precisely the bug class this query pins.
    *
    * Scale shape: [[knnGivenCentroids]] plus one co-partitioned
    * metadata join on vec_id; the query's label rides through
    * [[Search.probes]] and [[Search.cosines]] joins on (list_id,
    * label) — strictly SMALLER than the unfiltered in-list join, never
    * a post-hoc filter over it.
    */
  def knnGivenFiltered(emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (cents, assigned) = givenListed(emb.select("vec_id", "embedding"))
    val listed = assigned.join(emb.select("vec_id", "label"), "vec_id")
    val keys = Seq("list_id", "label")
    val probes = Search.probes(
      Search.queryRows(listed, queryPred, "label"), cents)
    Search.topK(Search.cosines(probes, listed.filter(!queryPred), keys),
      "cosine", keys, k)
  }

  // pass the base table, not a projection: knnGivenFiltered's inner
  // select(vec_id, embedding) must analyze to the SAME plan as the
  // other given-centroids faces so the listed-corpus memo is shared
  def knnGivenFilteredQ(spark: SparkSession, dir: String): DataFrame =
    knnGivenFiltered(Tables.embeddings(spark, dir), col("vec_id") < 5, 3)

  override def queries: Map[String, Q] = Map(
    "knn_ivf" -> (knnIvf _),
    "knn_ivf_given_centroids" -> (knnGivenCentroidsQ _),
    "knn_ivf_filtered" -> (knnGivenFilteredQ _),
    "semdedup" -> (semdedupQ _),
    "semdedup_given_centroids" -> (semdedupGivenCentroidsQ _))

  /** Embedding dimensionality assumed by the oracle SQL — the single
    * source of BOTH the comp-unnest bound (`range(1, Dim+1)`) and the
    * semdedup pair-dot's list slice (`embedding[1:Dim]`). The Spark
    * side reduces over the full array, so these stay consistent only
    * if every dim-bounded oracle form derives from this one constant.
    */
  val Dim = 64

  /** The given-quantizer assignment chain, shared by both gated
    * variants: full per-vector centroid ranking (rn = 1 is the
    * assignment, rn ≤ nProbe is the probe set).
    */
  private[sim] def givenAssignSql: String = givenAssignCte

  private val givenAssignCte =
    s"""WITH comp AS (SELECT vec_id, CAST(i AS INT) AS i,
      |         CAST(CAST(embedding[CAST(i AS INT)] AS FLOAT) AS DOUBLE) AS v
      |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) u(i)),
      |norms AS (SELECT vec_id,
      |         CAST(CAST(sum(CAST(CAST(v * v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS nsq
      |       FROM comp GROUP BY vec_id),
      |cdots AS (SELECT ea.vec_id, cb.vec_id AS cid,
      |         CAST(CAST(list_sum(list_transform(
      |           list_zip(ea.embedding[1:$Dim], cb.embedding[1:$Dim]),
      |           x -> CAST(CAST(CAST(CAST(x[1] AS FLOAT) AS DOUBLE)
      |             * CAST(CAST(x[2] AS FLOAT) AS DOUBLE)
      |             AS VARCHAR) AS DECIMAL(24,12)))) AS VARCHAR) AS DOUBLE) AS dot
      |       FROM embeddings ea JOIN embeddings cb
      |         ON cb.vec_id < $GivenCentroids),
      |assign AS (SELECT cdots.vec_id, cid AS list_id,
      |         row_number() OVER (PARTITION BY cdots.vec_id
      |           ORDER BY dot / (sqrt(nv.nsq) * sqrt(nc.nsq)) DESC,
      |                    cid ASC) AS rn
      |       FROM cdots JOIN norms nv ON cdots.vec_id = nv.vec_id
      |                  JOIN norms nc ON cdots.cid = nc.vec_id),
      |lists AS (SELECT vec_id, list_id FROM assign WHERE rn = 1),""".stripMargin

  /** KMeans is not ANSI-SQL-expressible → knn_ivf/semdedup stay
    * rows-only; the given-centroids variants are fully gated.
    *
    * EVERY pair-dot stage — semdedup's in-list pairs, the
    * assignment's vector×centroid `cdots`, and the probe-side knn
    * re-rank — is a scalar list reduction (list_zip → list_transform
    * → list_sum), never a join between two unnested `comp` copies.
    * The unnest-join form is a join-order landmine: `comp a JOIN
    * comp b ON a.i = b.i` has only 64 distinct i values, so if the
    * oracle's optimizer applies the dimension equality before the
    * vec_id bindings, the intermediate is |comp|²/64 rows — measured
    * at the 40k rung-3 fixture as an >80 GB spill-to-death on the
    * knn pdots (round 13; the same form on semdedup died identically
    * in rounds 11-12, which is why it was rewritten first). The list
    * form computes each pair's dot in one streaming scalar pass —
    * rung 3 replays it with a flat ~KB temp footprint. Term values
    * and the DECIMAL(24,12) half-up/VARCHAR discipline are identical,
    * so results are bit-equal to the unnest form (rung-2 artifact
    * hashed identical across the rewrite). `comp` stays ONLY for
    * `norms` (a self-aggregate, join-free — no blow-up shape).
    */
  /** The given-quantizer probe-and-re-rank oracle, parameterized over
    * the candidate predicate: "vec_id >= 5" is the fresh/served
    * search; the delete gate (IndexStore, G20) narrows it by the
    * deleted id range and nothing else.
    */
  private[sim] def givenKnnSql(candWhere: String): String =
    givenAssignCte + s"""
      |probes AS (SELECT vec_id AS query_id, list_id FROM assign
      |       WHERE vec_id < 5 AND rn <= $GivenProbe),
      |cand AS (SELECT vec_id AS neighbor_id, list_id FROM lists
      |       WHERE $candWhere),
      |pdots AS (SELECT p.query_id, c.neighbor_id, c.list_id,
      |         CAST(CAST(list_sum(list_transform(
      |           list_zip(ea.embedding[1:$Dim], eb.embedding[1:$Dim]),
      |           x -> CAST(CAST(CAST(CAST(x[1] AS FLOAT) AS DOUBLE)
      |             * CAST(CAST(x[2] AS FLOAT) AS DOUBLE)
      |             AS VARCHAR) AS DECIMAL(24,12)))) AS VARCHAR) AS DOUBLE) AS dot
      |       FROM probes p JOIN cand c ON p.list_id = c.list_id
      |         JOIN embeddings ea ON ea.vec_id = p.query_id
      |         JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
      |scored AS (SELECT query_id, neighbor_id, list_id,
      |         dot / (sqrt(nq.nsq) * sqrt(nc.nsq)) AS cosine
      |       FROM pdots JOIN norms nq ON query_id = nq.vec_id
      |                  JOIN norms nc ON neighbor_id = nc.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine, list_id,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |       FROM scored)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  cosine, list_id
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  override def oracles: Map[String, String] = Map(
    "knn_ivf_filtered" -> (givenAssignCte + s"""
      |lbl AS (SELECT vec_id, label FROM embeddings),
      |probes AS (SELECT a.vec_id AS query_id, a.list_id, l.label
      |       FROM assign a JOIN lbl l ON a.vec_id = l.vec_id
      |       WHERE a.vec_id < 5 AND a.rn <= $GivenProbe),
      |cand AS (SELECT c.vec_id AS neighbor_id, c.list_id, l.label
      |       FROM lists c JOIN lbl l ON c.vec_id = l.vec_id
      |       WHERE c.vec_id >= 5),
      |pdots AS (SELECT p.query_id, c.neighbor_id, c.list_id, p.label,
      |         CAST(CAST(list_sum(list_transform(
      |           list_zip(ea.embedding[1:$Dim], eb.embedding[1:$Dim]),
      |           x -> CAST(CAST(CAST(CAST(x[1] AS FLOAT) AS DOUBLE)
      |             * CAST(CAST(x[2] AS FLOAT) AS DOUBLE)
      |             AS VARCHAR) AS DECIMAL(24,12)))) AS VARCHAR) AS DOUBLE) AS dot
      |       FROM probes p JOIN cand c
      |         ON p.list_id = c.list_id AND p.label = c.label
      |         JOIN embeddings ea ON ea.vec_id = p.query_id
      |         JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
      |scored AS (SELECT query_id, neighbor_id, list_id, label,
      |         dot / (sqrt(nq.nsq) * sqrt(nc.nsq)) AS cosine
      |       FROM pdots JOIN norms nq ON query_id = nq.vec_id
      |                  JOIN norms nc ON neighbor_id = nc.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine, list_id, label,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |       FROM scored)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  cosine, list_id, label
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin),
    "knn_ivf_given_centroids" -> givenKnnSql(candWhere = "vec_id >= 5"),
    "semdedup_given_centroids" -> (givenAssignCte + s"""
      |pairs AS (SELECT x.vec_id AS pa, y.vec_id AS pb
      |       FROM lists x JOIN lists y
      |         ON x.list_id = y.list_id AND x.vec_id < y.vec_id),
      |pdots AS (SELECT pa, pb,
      |         CAST(CAST(list_sum(list_transform(
      |           list_zip(ea.embedding[1:$Dim], eb.embedding[1:$Dim]),
      |           x -> CAST(CAST(CAST(CAST(x[1] AS FLOAT) AS DOUBLE)
      |             * CAST(CAST(x[2] AS FLOAT) AS DOUBLE)
      |             AS VARCHAR) AS DECIMAL(24,12)))) AS VARCHAR) AS DOUBLE) AS dot
      |       FROM pairs JOIN embeddings ea ON ea.vec_id = pa
      |                  JOIN embeddings eb ON eb.vec_id = pb),
      |dropped AS (SELECT DISTINCT pb FROM pdots
      |       JOIN norms na ON pa = na.vec_id
      |       JOIN norms nb ON pb = nb.vec_id
      |       WHERE dot / (sqrt(na.nsq) * sqrt(nb.nsq)) >= $SemDedupTau)
      |SELECT l.vec_id, l.list_id, (d.pb IS NULL) AS keep
      |FROM lists l LEFT JOIN dropped d ON l.vec_id = d.pb
      |ORDER BY l.vec_id""".stripMargin))
}
