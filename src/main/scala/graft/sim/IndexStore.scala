package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Index lifecycle (SURVEY §2 G15): persist a built IVF index to
  * parquet and SERVE from the saved artifact without rebuilding.
  *
  * The session memos give "build once per session"; a deployment
  * needs "build once, period" — a 100 TB assignment pass is an
  * offline job whose output outlives the session that ran it. The
  * saved layout is the classic inverted-file one:
  *
  *  - `centroids/` — the quantizer, O(nLists·d), broadcast at serve
  *    time;
  *  - `lists/` — the listed corpus (vec_id, embedding, nsq)
  *    PARTITIONED BY list_id, so a probe-bounded query reads only
  *    its probed directories (partition pruning at the source, not a
  *    filter after a full scan). Directory count = nLists ≈ √n —
  *    ~31k directories at a billion vectors, well inside what a
  *    file-listing handles, and each directory is one inverted list
  *    read whole, which is exactly the IVF access pattern.
  *
  * Serving contract: the probe set is collected to the driver —
  * O(#queries · nProbe) ids, the serving-size quantity every
  * inverted-file system routes to its scan layer — and pushed into
  * the lists scan as an IN partition filter. This is the ONLY
  * driver-side materialization, and it is bounded by the query
  * batch, never the corpus.
  */
object IndexStore extends graft.QueryModule {

  /** Build (memoized, same as the query path) and persist the
    * given-quantizer index. Overwrites any prior index at `dir`.
    */
  def saveGiven(emb: DataFrame, dir: String): Unit = {
    val (cents, assigned) = Ivf.givenListed(emb)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // one file per list directory: each inverted list is read whole
    // or not at all, so intra-list splitting only adds tasks
    assigned.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/lists")
  }

  /** The saved listed corpus, read with an EXPLICIT schema: an index
    * saved from an empty corpus has no part files to infer from (the
    * r9 empty-tables census class), and inference would also type the
    * `list_id=` partition directories as INT where the fresh path
    * carries LONG (centroid ids are vec_ids) — the explicit schema
    * keeps served output schema-identical to [[Ivf.knnGivenCentroids]]
    * in both cases.
    */
  private def loadLists(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, list_id BIGINT")
      .parquet(s"$dir/lists")

  /** Incremental maintenance: assign ONLY the new vectors against the
    * SAVED centroids and append them into the partitioned lists
    * layout — existing rows are never touched, and for a fixed
    * quantizer the result is IDENTICAL to a full rebuild over the
    * union corpus (assignment is per-vector; the spec asserts the
    * equivalence). This is the arrival path of a live corpus: a day's
    * new embeddings are one broadcast-argmax pass + one append.
    */
  def appendGiven(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val e = newEmb.select(col("vec_id"), col("embedding"),
      Vectors.normSq("embedding").as("nsq"))
    // same broadcast-argmax as the fresh build (Ivf.buildGivenListed),
    // against the loaded centroid rows — ce/cn round-trip losslessly,
    // so assignment is bit-identical to assigning within a rebuild
    val assignNarrow = e.crossJoin(broadcast(cents))
      .withColumn("c_cos", Vectors.cosineFrom(
        Vectors.dot("embedding", "ce"), col("nsq"), col("cn")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("c_cos"), -col("cid")))
        .as("list_id"))
    e.join(assignNarrow, "vec_id")
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$dir/lists")
  }

  /** Top-k cosine served from a SAVED index — the
    * [[Ivf.knnGivenCentroids]] composition over the loaded quantizer
    * and lists, with the candidate scan bounded by partition pruning
    * instead of a join against the full corpus. Bit-identical to the
    * fresh path on the same corpus.
    */
  def servedKnnGiven(spark: SparkSession, dir: String,
      queryPred: Column, k: Int): DataFrame = {
    val lists = loadLists(spark, dir)
    // checkpointed because it is read twice — the partition-prune id
    // collect and the in-list candidate join
    val probes = Search.probes(Search.queryRows(lists, queryPred),
      spark.read.parquet(s"$dir/centroids")).localCheckpoint(true)
    // the driver-collected probe set (see object doc) becomes a
    // partition IN-filter: the scan lists only probed directories
    val probedIds = probes.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    Search.topK(Search.cosines(probes,
      lists.filter(!queryPred && col("list_id").isin(probedIds: _*)),
      Seq("list_id")), "cosine", Seq("list_id"), k)
  }

  /** Maintenance companion to [[appendGiven]]: each append lays one
    * file per touched list, so a long-lived index accumulates small
    * files (the classic ops cost — listing + per-file open dominate a
    * probe's read). [[Pq.compactListLayouts]] over the lists layout;
    * serving results are unchanged (spec-pinned).
    */
  def compactGiven(spark: SparkSession, dir: String): Unit =
    Pq.compactListLayouts(spark, dir, Seq("lists" -> loadLists _))

  /** Deletion — the last face of the index CRUD lifecycle
    * (save / serve / append / compact / DELETE): remove a set of
    * vec_ids from the saved lists through [[Pq.deleteFromListLayout]],
    * the same touched-lists rewrite and per-list swap as the IVFPQ
    * layouts. Only the lists the deleted ids lived in are re-read and
    * re-written; a list whose every row is deleted drops.
    */
  def deleteGiven(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    graft.FsOps.recoverDeleteOld(graft.FsOps.fs(spark, dir), dir, Seq("lists"))
    // join strategy left to Catalyst/AQE: a daily delete set
    // broadcasts, a bulk one shuffles — both stay correct
    Pq.deleteFromListLayout(spark, dir, "lists", loadLists(spark, dir),
      ids.select(col("vec_id")).distinct())
  }

  /** J11 — a STREAM of query vectors served against the saved index
    * (the online half of the serving story; [[servedKnnGiven]] is the
    * batch half): the same [[Search.probes]] / [[Search.cosines]] /
    * [[Search.topK]] composition — stateless projections and
    * stream-static broadcast joins, so emitted rows are bit-equal to
    * the batch serve (spec-pinned). Candidates are every stored list
    * (a stream cannot collect its probe set); per-query top-k is the
    * collectTopK aggregate — run the sink in UPDATE mode; a query's
    * rows land in one micro-batch, so its final emission is the
    * complete top-k.
    */
  def knnServeStream(queries: DataFrame, indexDir: String,
      candPred: Column, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val probes = Search.probes(
      queries.select(col("query_id"), col("eq"), Vectors.normSq("eq").as("nq")),
      spark.read.parquet(s"$indexDir/centroids"))
    Search.topK(Search.cosines(probes,
      loadLists(spark, indexDir).filter(candPred), Seq("list_id")),
      "cosine", Seq("list_id"), k, sorted = false)
  }

  // --- driver-query face ---------------------------------------------

  /** Saved-index location for a corpus dir — content-addressed so two
    * corpora never share an index directory (the memo-key lesson:
    * identity must include the source path).
    */
  private[sim] def indexDirFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_saved_$h"
  }

  // save-once-per-(session, corpus) so the serve query measures
  // serving, not a rewrite of the index
  /** Ensure the saved index exists for the driver corpus (bench bills
    * this as the `ivf_saved_index` build).
    */
  def prebuildSaved(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSaved", spark, dir) {
      val ixDir = indexDirFor(dir)
      saveGiven(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      ixDir
    }

  /** G15 gate query — save → load → serve round-trip; the oracle is
    * the SAME SQL as knn_ivf_given_centroids, so the hash gate proves
    * the persisted index serves exactly what the fresh build serves.
    */
  def knnServedQ(spark: SparkSession, dir: String): DataFrame =
    servedKnnGiven(spark, prebuildSaved(spark, dir), col("vec_id") < 5, 3)

  // --- the delete face under the gate (SURVEY §2 G20) ----------------

  /** vec_ids removed by the gated delete query: ≥ GivenCentroids so
    * the pinned quantizer is untouched, wide enough to clip several
    * lists' candidate sets.
    */
  private[sim] val DeletedLo = 20L
  private[sim] val DeletedHi = 40L // exclusive

  /** A second saved index for the delete gate (the shared G15 index
    * must stay whole), with [DeletedLo, DeletedHi) deleted; bench
    * bills this as the `ivf_deleted_index` build.
    */
  def prebuildSavedDeleted(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedDeleted", spark, dir) {
      val ixDir = indexDirFor(dir) + "_del"
      saveGiven(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      deleteGiven(spark, ixDir,
        spark.range(DeletedLo, DeletedHi).withColumnRenamed("id", "vec_id"))
      ixDir
    }

  /** G20 gate query — serve AFTER a delete; the oracle excludes the
    * deleted ids from the candidate CTE and nothing else, so the hash
    * gate proves deletion removes exactly those rows from what the
    * index serves (and the partition-pruned serve path still works
    * over the rewritten layout).
    */
  def knnDeletedQ(spark: SparkSession, dir: String): DataFrame =
    servedKnnGiven(spark, prebuildSavedDeleted(spark, dir),
      col("vec_id") < 5, 3)

  // --- the text-index twin (SURVEY §2 D9) ----------------------------

  /** Ensure the saved TF-IDF index over the documents corpus exists
    * (bench bills this as the `tfidf_saved_index` build).
    */
  def prebuildSavedTfidf(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedTfidf", spark, dir) {
      val ixDir = indexDirFor(dir) + "_tfidf"
      graft.text.Tfidf.save(graft.text.Tfidf.index(
        graft.sources.Tables.documents(spark, dir), "doc_id", "text"), ixDir)
      ixDir
    }

  /** D9 gate query — the retrieval-index round-trip, gated by
    * cosine_topk_docs's oracle verbatim.
    */
  def cosineTopkServedQ(spark: SparkSession, dir: String): DataFrame =
    graft.text.Tfidf.searchSaved(spark, prebuildSavedTfidf(spark, dir),
        graft.text.RagQueries.question, 5)
      .select(col("id").as("doc_id"), col("cosine"))

  // --- the BM25-index twin (SURVEY §2 D10) ---------------------------

  /** Ensure the saved BM25 index exists (bench: `bm25_saved_index`). */
  def prebuildSavedBm25(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedBm25", spark, dir) {
      val ixDir = indexDirFor(dir) + "_bm25"
      graft.text.Bm25.save(spark,
        graft.sources.Tables.documents(spark, dir), "doc_id", "text", ixDir)
      ixDir
    }

  /** D10 gate query — BM25 served from the persisted Lucene-shaped
    * artifact, gated by bm25_topk_docs's oracle verbatim.
    */
  def bm25TopkServedQ(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.servedTopK(spark, prebuildSavedBm25(spark, dir),
        graft.text.RagQueries.question, 5)
      .select(col("id").as("doc_id"), col("score"))

  /** D11 gate query — the full hybrid retrieval (cosine + BM25 + RRF
    * fusion) answered from the PERSISTED indexes alone: both retrieval
    * legs read their saved artifacts (term-pushed scans), the raw
    * corpus is never touched, and the fusion is the shared
    * [[graft.text.RagQueries.rrfFuse]]. Gated by hybrid_rrf's oracle
    * verbatim — the served pipeline must rank exactly as the fresh one.
    */
  def hybridRrfServedQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{Bm25, RagQueries, Tfidf}
    RagQueries.rrfFuse(
      Tfidf.searchSaved(spark, prebuildSavedTfidf(spark, dir),
        RagQueries.question, RagQueries.RrfDepth),
      Bm25.servedTopK(spark, prebuildSavedBm25(spark, dir),
        RagQueries.question, RagQueries.RrfDepth))
  }

  // --- the PQ twin (SURVEY §2 G16) -----------------------------------

  /** Ensure the saved PQ artifact exists (bench: `pq_saved_index`). */
  def prebuildSavedPq(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedPq", spark, dir) {
      val ixDir = indexDirFor(dir) + "_pq"
      Pq.save(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      ixDir
    }

  /** G16 gate query — ADC search over the persisted compressed corpus
    * (codes + codebook only, no raw embeddings), gated by knn_pq's
    * oracle verbatim.
    */
  def knnPqServedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedKnn(spark, prebuildSavedPq(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  // --- the composed IVFPQ twin (SURVEY §2 G26/G27) -------------------

  /** Ensure the saved composed IVFPQ artifact exists (bench:
    * `ivfpq_saved_index`).
    */
  def prebuildSavedIvfPq(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedIvfPq", spark, dir) {
      val ixDir = indexDirFor(dir) + "_ivfpq"
      Pq.saveIvfPq(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      ixDir
    }

  /** A second composed index built through the MAINTENANCE arc —
    * save half the corpus, APPEND the other half against the pinned
    * quantizer/codebook, COMPACT both layouts — so the G28/G29 faces
    * sit inside the hash gate, not only the spec (bench:
    * `ivfpq_appended_index`).
    */
  def prebuildSavedIvfPqAppended(spark: SparkSession,
      dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedIvfPqAppended", spark, dir) {
      val ixDir = indexDirFor(dir) + "_ivfpq_app"
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val cut = math.max(emb.count() / 2, Ivf.GivenCentroids.toLong)
      graft.Profiling.phase("ivfpq_app.save") {
        Pq.saveIvfPq(emb.filter(col("vec_id") < cut), ixDir) }
      graft.Profiling.phase("ivfpq_app.append") {
        Pq.appendIvfPq(emb.filter(col("vec_id") >= cut), ixDir) }
      graft.Profiling.phase("ivfpq_app.compact") {
        Pq.compactIvfPq(spark, ixDir) }
      ixDir
    }

  /** G28/G29 gate query — serve AFTER append + compaction; for a
    * pinned quantizer and codebook the maintained index is identical
    * to a fresh build over the union corpus, so the oracle is
    * knn_ivfpq's SQL VERBATIM: the hash proves the whole maintenance
    * arc lands bit-exact durable state.
    */
  def knnIvfPqAppendedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedIvfPqKnn(spark, prebuildSavedIvfPqAppended(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  /** A third composed index with [DeletedLo, DeletedHi) deleted — the
    * G30 face's gate fixture (bench: `ivfpq_deleted_index`).
    */
  def prebuildSavedIvfPqDeleted(spark: SparkSession,
      dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedIvfPqDeleted", spark, dir) {
      val ixDir = indexDirFor(dir) + "_ivfpq_del"
      Pq.saveIvfPq(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      Pq.deleteIvfPq(spark, ixDir,
        spark.range(DeletedLo, DeletedHi).withColumnRenamed("id", "vec_id"))
      ixDir
    }

  /** G30 gate query — residual-ADC search AFTER the delete rewrote
    * the touched lists; the oracle is the G12 search with the deleted
    * band excluded from the candidates (the knn_ivf_deleted
    * discipline), so the hash proves the rewrite removed exactly the
    * requested ids from the served compressed state.
    */
  def knnIvfPqDeletedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedIvfPqKnn(spark, prebuildSavedIvfPqDeleted(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  /** G31 gate fixture: a fourth composed index, saved then rebalanced
    * ONE pass under the tight band (both actions fire on the gate
    * corpus — the G23 fixture discipline), billed here so
    * `knn_ivfpq_rebalanced` times the serve, not the surgery.
    */
  def prebuildSavedIvfPqRebalanced(spark: SparkSession,
      dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedIvfPqRebalanced", spark, dir) {
      val ixDir = indexDirFor(dir) + "_ivfpq_rebal"
      Pq.saveIvfPq(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      Pq.rebalanceIvfPq(spark, ixDir, RebalancePolicy.Tight)
      ixDir
    }

  /** G31 gate query — residual-ADC serve AFTER an IVFPQ rebalance
    * pass: the oracle replays the ENTIRE arc in SQL — the G23
    * decision algebra (assignment → actions → quantile-seeded
    * sub-centroids → sub-assignment → merge targets → new lists +
    * quantizer) COMPOSED with the IVFPQ re-encode (every vector's
    * residual against its NEW centroid re-quantized against the
    * codebook) and the residual-ADC serve over the post-rebalance
    * index — so the hash proves split/merge moved exactly the right
    * vectors AND every moved vector's stored code re-encoded
    * correctly, end to end.
    */
  def knnIvfPqRebalancedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedIvfPqKnn(spark, prebuildSavedIvfPqRebalanced(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  private def pqQueries(spark: SparkSession, dir: String): DataFrame =
    Pq.queriesOf(graft.sources.Tables.embeddings(spark, dir))

  /** G26 gate query — residual-ADC search over the persisted composed
    * index (coarse routing + partition-pruned compressed lists),
    * gated by knn_ivfpq's oracle verbatim.
    */
  def knnIvfPqServedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedIvfPqKnn(spark, prebuildSavedIvfPq(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  /** G27 gate query — the refine stage over the persisted composed
    * index, gated by knn_ivfpq_rerank's oracle verbatim.
    */
  def knnIvfPqRerankServedQ(spark: SparkSession, dir: String): DataFrame =
    Pq.servedIvfPqRerank(spark, prebuildSavedIvfPq(spark, dir),
      pqQueries(spark, dir), col("vec_id") >= Pq.QueryIds)

  // --- index health (SURVEY §2 G17) ----------------------------------

  /** G17 — per-list occupancy report over the given-quantizer index:
    * the balance diagnostic an IVF deployment watches (a hot list
    * degrades probe-bounded search toward a scan; an empty one wastes
    * a probe). One map-side-combinable aggregate over the assignment
    * plus a broadcast 1-row total for the share — O(nLists) output at
    * any corpus size.
    */
  def listStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = Ivf.givenListed(
      graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"))
    val counts = assigned.groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
    counts
      .crossJoin(broadcast(counts.agg(
        sum("n_vectors").as("total"), count(lit(1)).as("n_lists"))))
      // integer div + one double division: both engine-exact (decimal
      // division scale rules DIFFER between Spark and DuckDB)
      .select(col("list_id"), col("n_vectors"),
        expr("(n_vectors * 1000000) div total").as("share_ppm"),
        expr("cast(n_vectors * n_lists as double) / total").as("balance"))
      .orderBy("list_id")
  }

  /** G21 — embedding DRIFT report: per-list population-stability
    * index between the corpus's OLD and NEW halves (vec_id below /
    * at-or-above the midpoint — the before/after split a daily
    * embedding feed produces), over the SAME given-quantizer cells
    * as G17. Quantization buckets are the standard PSI binning for
    * high-dimensional drift: a list whose occupancy share moved is a
    * region of embedding space that moved, exactly what tells a
    * deployment to re-train its quantizer or re-balance its index.
    * Plan: the memoized assignment + ONE combinable two-way count
    * aggregate to O(nLists) cells + a broadcast 1-row totals frame —
    * corpus size never re-enters. Arithmetic: Laplace add-1
    * smoothing keeps empty cells finite; each share is one double
    * division of exact integers; the ln of the EXACT integer-product
    * ratio rides the H7 decimal(18,9) quantize; psi_term is one
    * multiply of those two doubles. Σ psi_term > 0.2 is the
    * conventional "investigate" line.
    */
  def embeddingDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = Ivf.givenListed(
      graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"))
    val half = assigned.agg(count(lit(1)).as("n_vecs"))
      .select(expr("n_vecs div 2").as("half"))
    val cells = assigned.crossJoin(broadcast(half))
      .groupBy("list_id")
      .agg(
        sum(when(col("vec_id") < col("half"), 1).otherwise(0))
          .cast("long").as("n_old"),
        sum(when(col("vec_id") >= col("half"), 1).otherwise(0))
          .cast("long").as("n_new"))
    val tot = cells.agg(sum("n_old").cast("long").as("t_old"),
      sum("n_new").cast("long").as("t_new"),
      count(lit(1)).as("n_lists"))
    cells.crossJoin(broadcast(tot))
      .withColumn("p_old",
        (col("n_old") + 1).cast("double") / (col("t_old") + col("n_lists")))
      .withColumn("p_new",
        (col("n_new") + 1).cast("double") / (col("t_new") + col("n_lists")))
      .withColumn("ln_ratio", expr(
        """cast(cast(ln(cast((n_old + 1) * (t_new + n_lists) as double)
          |  / ((n_new + 1) * (t_old + n_lists))) as decimal(18,9))
          |  as double)""".stripMargin))
      .withColumn("psi_term", (col("p_old") - col("p_new")) * col("ln_ratio"))
      .select("list_id", "n_old", "n_new", "p_old", "p_new", "psi_term")
      .orderBy("list_id")
  }

  /** G22 — IVF REBALANCE plan: the action G17's stats and G21's
    * drift report lead to. Per inverted list — its occupancy, its
    * balance (multiple of the mean list), the planned `action`
    * (`split` past 2× the mean: the list degrades probe-bounded
    * search toward a scan; `merge` under ¼: the list wastes a probe;
    * `keep` otherwise — the standard occupancy band an IVF/ANN
    * service rebalances on), `split_into` = ceil(balance) sublists
    * for split lists, and `merge_into` = the nearest OTHER centroid
    * by cosine for merge lists (where its vectors land when the list
    * dissolves). Action thresholds are EXACT integer comparisons
    * (n·L vs 2·total, 4·n·L vs total) — no double ever decides a
    * plan row; the merge-target argmax rides the assignment's own
    * quantized-dot cosine and (cos desc, cid asc) tie-break, so the
    * oracle replays it from the identical cdots algebra. Scale: the
    * memoized assignment's ONE corpus aggregate (shared with G17) +
    * an O(L²) centroid-pair stage on the O(√n)-lists frame —
    * metadata-sized at any corpus; a list with zero vectors has no
    * assignment row (absent from counts on both engines), the same
    * contract as G17.
    */
  def rebalancePlanQ(spark: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = Ivf.givenListed(
      graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"))
    val counts = assigned.groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
    val a = cents.select(col("cid").as("cid_a"), col("ce").as("ea"),
      col("cn").as("na"))
    val b = cents.select(col("cid").as("cid_b"), col("ce").as("eb"),
      col("cn").as("nb"))
    val near = a.join(b, col("cid_a") =!= col("cid_b"))
      .withColumn("cos", Vectors.cosineFrom(
        Vectors.dot("ea", "eb"), col("na"), col("nb")))
      .groupBy(col("cid_a").as("list_id"))
      .agg(max_by(col("cid_b"), struct(col("cos"), -col("cid_b")))
        .as("nearest_cid"))
    rebalanceOf(counts, near)
  }

  /** The G22 action algebra over prepared (list_id, n_vectors)
    * counts and (list_id, nearest_cid) merge targets — split out so
    * the spec can pin split/merge decisions on synthetic occupancy.
    */
  private[sim] def rebalanceOf(counts: DataFrame,
      near: DataFrame): DataFrame =
    counts
      .crossJoin(broadcast(counts.agg(
        sum("n_vectors").cast("bigint").as("total"),
        count(lit(1)).as("n_lists"))))
      .join(broadcast(near), Seq("list_id"), "left")
      .withColumn("balance",
        expr("cast(n_vectors * n_lists as double) / total"))
      .withColumn("action",
        when(expr("n_vectors * n_lists > 2 * total"), "split")
          .when(expr("n_vectors * n_lists * 4 < total"), "merge")
          .otherwise("keep"))
      .withColumn("split_into",
        expr("(n_vectors * n_lists + total - 1) div total"))
      .withColumn("merge_into",
        when(col("action") === "merge", col("nearest_cid")))
      .select("list_id", "n_vectors", "balance", "action",
        "split_into", "merge_into", "total", "n_lists")
      .orderBy("list_id")

  /** Occupancy band for a rebalance pass: split when
    * n·L·splitDen > splitNum·total, merge when
    * n·L·mergeDen < mergeNum·total. [[RebalancePolicy.Standard]] is
    * the G22 plan's band (2×/¼); [[RebalancePolicy.Tight]] (±10%) is
    * the gate fixture's — the gate corpus assigns near-uniformly, so
    * only a tight band exercises both actions on real data (the
    * standard band's decisions are spec-pinned on synthetic
    * occupancy). The band is deployment config; the gate pins the
    * EXECUTION algebra, which is band-independent.
    */
  final case class RebalancePolicy(splitNum: Long, splitDen: Long,
      mergeNum: Long, mergeDen: Long)
  object RebalancePolicy {
    val Standard = RebalancePolicy(2, 1, 1, 4)
    val Tight = RebalancePolicy(11, 10, 9, 10)
  }

  /** G23 — EXECUTE the G22 rebalance plan on a saved index: split
    * each over-full list into sub-lists around member-seeded
    * sub-centroids, dissolve each under-full list into its
    * cosine-nearest KEEP list, rewrite `centroids/` to the
    * post-rebalance quantizer. The plan→action arc closes here: G17
    * diagnoses, G21 attributes, G22 plans, this acts.
    *
    * Decision algebra (every rule integer- or quantized-cosine-exact,
    * so the DuckDB oracle replays it bit-for-bit):
    *  - actions from `policy` over the per-list counts — the G22
    *    thresholds parameterized;
    *  - a split list's s = max(2, min(ceil(balance), n)) sub-centroids
    *    are its OWN members at evenly spaced ranks of the
    *    cosine-to-parent ordering (rank_j = ((2j+1)·n) div (2s) + 1 —
    *    quantile seeding: deterministic, spread along the list's
    *    radial axis; a k-means re-fit would be better geometry but
    *    iterative, the knn_ivf-vs-given-centroids trade again), and
    *    members re-assign to their argmax sub-centroid (quantized
    *    cos desc, subcid asc — sub-centroid ids ARE the seed members'
    *    vec_ids, the given-centroids discipline);
    *  - a merge list dissolves WHOLE into its cosine-nearest KEEP
    *    centroid (targets resolve against keeps only: dissolving into
    *    a list that is itself dissolving or splitting would undo the
    *    pass). Dissolution concentrates — a target absorbing several
    *    dissolved lists can exceed the split threshold; the next pass
    *    splits it (rebalancing is iterative by nature, spec-pinned
    *    per-action rather than as a global max claim).
    *
    * Commit: staged rows land under `lists_rebalance_staging`
    * partitioned by their NEW list_id, then [[commitRebalance]].
    * Scale: the decisions ride the O(√n) counts/centroid frames (the
    * only driver materializations, the probe-set bound); data I/O is
    * bounded by the TOUCHED lists (split members, merge members,
    * merge-target rows) — keep lists are never read or rewritten.
    */
  def rebalanceGiven(spark: SparkSession, dir: String,
      policy: RebalancePolicy = RebalancePolicy.Standard): Boolean = {
    graft.FsOps.recoverDeleteOld(graft.FsOps.fs(spark, dir), dir, Seq("lists"))
    rebalancePlan(loadLists(spark, dir),
        spark.read.parquet(s"$dir/centroids"), policy, dir) match {
      case None => false
      case Some(plan) =>
        commitRebalance(spark, dir, plan, Seq("lists" -> plan.staged))
        true
    }
  }

  /** One rebalance pass's decisions: the lists to `drop` (split
    * parents and dissolved merge lists), the `staged`
    * (vec_id, embedding, nsq, list_id) rows of every rewritten list
    * under its NEW list_id, and the post-rebalance quantizer `cents`.
    */
  private[sim] final case class Rebalance(drop: Seq[Long],
      staged: DataFrame, cents: DataFrame)

  /** The rebalance decision algebra of [[rebalanceGiven]] over a
    * (vec_id, embedding, nsq, list_id) frame and its (cid, ce, cn)
    * centroids, shared with [[Pq.rebalanceIvfPq]]; None when every
    * list is inside the band.
    */
  private[sim] def rebalancePlan(rows: DataFrame, cents: DataFrame,
      policy: RebalancePolicy, dir: String): Option[Rebalance] = {
    import rows.sparkSession.implicits._
    val counts = rows.groupBy("list_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return None
    val total = counts.values.sum
    val nl = counts.size.toLong
    val splits = counts.collect { case (l, n)
      if n * nl * policy.splitDen > policy.splitNum * total => l }.toSet
    val mergesRaw = counts.collect { case (l, n)
      if n * nl * policy.mergeDen < policy.mergeNum * total => l }.toSet
    val keeps = counts.keySet -- splits -- mergesRaw
    // nothing to dissolve into ⇒ under-full lists stay (documented
    // guard; a corpus with no keep list is one the band mis-fits)
    val merges = if (keeps.isEmpty) Set.empty[Long] else mergesRaw
    if (splits.isEmpty && merges.isEmpty) return None

    // merge targets: nearest KEEP centroid per merge centroid —
    // O(merges × keeps) on the √n centroid frame, collected O(L)
    val mtgt: Map[Long, Long] =
      if (merges.isEmpty) Map.empty
      else cents.filter(col("cid").isin(merges.toSeq: _*))
        .select(col("cid").as("mc"), col("ce").as("me"), col("cn").as("mn"))
        .crossJoin(broadcast(cents.filter(col("cid").isin(keeps.toSeq: _*))))
        .withColumn("cos", Vectors.cosineFrom(
          Vectors.dot("me", "ce"), col("mn"), col("cn")))
        .groupBy("mc")
        .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("tgt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every merge list MUST resolve a target before its directory is
    // deleted — a centroids/lists divergence here would dissolve
    // members into nothing; fail loudly instead of losing data
    require(mtgt.keySet == merges,
      s"rebalance at $dir: merge lists ${merges -- mtgt.keySet} have " +
        "no centroid row — centroids/ diverged from the list layout")

    // sub-centroids: quantile-seeded members of each split list
    val splitSeq = splits.toSeq.sorted
    val subcents: Option[DataFrame] =
      if (splits.isEmpty) None
      else {
        val ranks = splitSeq.flatMap { p =>
          val n = counts(p)
          val s = math.max(2L, math.min((n * nl + total - 1) / total, n))
          (0L until s).map(j => (p, ((2 * j + 1) * n) / (2 * s) + 1))
        }.toDF("list_id", "mr")
        val ranked = rows.filter(col("list_id").isin(splitSeq: _*))
          .join(broadcast(cents), col("list_id") === col("cid"))
          .withColumn("pcos", Vectors.cosineFrom(
            Vectors.dot("embedding", "ce"), col("nsq"), col("cn")))
          .withColumn("mr", row_number().over(Window
            .partitionBy("list_id").orderBy(desc("pcos"), asc("vec_id"))))
        Some(ranked.join(broadcast(ranks), Seq("list_id", "mr"))
          .select(col("list_id").as("parent"), col("vec_id").as("subcid"),
            col("embedding").as("se"), col("nsq").as("sn"))
          .localCheckpoint(true)) // read by re-assign AND the quantizer
      }

    // staged rows: split members re-assigned among their sub-lists,
    // merge members moved whole to their target, target originals
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    subcents.foreach { sc =>
      val sa = rows.filter(col("list_id").isin(splitSeq: _*))
        .join(broadcast(sc), col("list_id") === col("parent"))
        .withColumn("scos", Vectors.cosineFrom(
          Vectors.dot("embedding", "se"), col("nsq"), col("sn")))
        .groupBy("vec_id")
        .agg(max_by(col("subcid"), struct(col("scos"), -col("subcid")))
          .as("new_list"))
      staged += rows.filter(col("list_id").isin(splitSeq: _*))
        .join(sa, "vec_id")
        .select(col("vec_id"), col("embedding"), col("nsq"),
          col("new_list").as("list_id"))
    }
    if (merges.nonEmpty) {
      val mt = mtgt.toSeq.sorted.toDF("m", "tgt")
      staged += rows.filter(col("list_id").isin(merges.toSeq: _*))
        .join(broadcast(mt), col("list_id") === col("m"))
        .select(col("vec_id"), col("embedding"), col("nsq"),
          col("tgt").as("list_id"))
      val targets = mtgt.values.toSet.toSeq.sorted
      staged += rows.filter(col("list_id").isin(targets: _*))
        .select("vec_id", "embedding", "nsq", "list_id")
    }

    // post-rebalance quantizer. SURVIVORS, not keeps: when the
    // no-keep guard cancels the merges, the under-full lists STAY on
    // disk and must keep their centroids — filtering to `keeps` alone
    // orphaned those directories (unreachable by any probe, and the
    // next pass's merge-target lookup found no centroid rows and
    // silently dissolved their members into nothing — the mass-loss
    // bug the round-16 convergence spec caught at pass 6)
    val survivors = cents.filter(col("cid").isin(
      (counts.keySet -- splits -- merges).toSeq: _*))
    val newCents = subcents.fold(survivors)(sc =>
      survivors.unionByName(sc.select(col("subcid").as("cid"),
        col("se").as("ce"), col("sn").as("cn"))))
    Some(Rebalance((splits ++ merges).toSeq.sorted,
      staged.reduce(_.unionByName(_)), newCents))
  }

  /** Commit a [[Rebalance]]: stage the quantizer, then per layout
    * stage its rows partitioned by list_id and run
    * [[graft.FsOps.replaceLists]], then swap `centroids/` in. The
    * layouts and the quantizer do not flip atomically — a crash or
    * concurrent read mid-commit can observe the OLD quantizer over
    * partially-moved lists and miss moved vectors, so serving must be
    * QUIESCED for a rebalance pass (only between-pass states are
    * serveable). Serve-during-rebalance would need all layouts behind
    * one version pointer (the SnapshotStore `v=<n>/_current`
    * discipline) at the cost of a full-index copy per pass.
    */
  private[sim] def commitRebalance(spark: SparkSession, dir: String,
      plan: Rebalance, layouts: Seq[(String, DataFrame)]): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    val centsStaging = s"$dir/centroids_rebalance_staging"
    plan.cents.write.mode("overwrite").parquet(centsStaging)
    for ((sub, df) <- layouts) {
      val staging = s"$dir/${sub}_rebalance_staging"
      df.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(staging)
      graft.FsOps.replaceLists(fs, dir, sub, staging, plan.drop)
    }
    graft.FsOps.swapDir(fs, centsStaging, s"$dir/centroids")
  }

  /** Iterate [[rebalanceGiven]] to CONVERGENCE: one pass is not
    * guaranteed to land inside the band (dissolution concentrates —
    * a keep list absorbing several dissolved lists can cross the
    * split threshold, and a split can leave sub-lists under-full), so
    * a deployment loops plan→act until the plan is all-keep or a
    * pass cap hits. Each pass COMMITS eagerly through
    * [[commitRebalance]] — a crash between passes leaves a
    * whole, serveable, strictly-more-balanced index, and the next
    * call resumes where it left off. Returns the number of acting
    * passes (0 = already in band).
    *
    * Termination: each pass acts only when some list is outside the
    * band, and the cap bounds pathological oscillation (a band the
    * corpus cannot satisfy, e.g. fewer vectors than the band needs
    * lists); hitting the cap is reported by the return value equaling
    * `maxPasses`, the operator's signal to widen the band.
    */
  def rebalanceUntilBand(spark: SparkSession, dir: String,
      policy: RebalancePolicy = RebalancePolicy.Standard,
      maxPasses: Int = 8): Int = {
    var passes = 0
    while (passes < maxPasses && rebalanceGiven(spark, dir, policy))
      passes += 1
    passes
  }

  /** A third saved index for the rebalance gate (the G15/G20 indexes
    * stay whole): save, then rebalance under [[RebalancePolicy
    * .Tight]]; bench bills this as the `ivf_rebalanced_index` build.
    */
  def prebuildSavedRebalanced(spark: SparkSession, dir: String): String =
    graft.Memo.once("IndexStore.prebuildSavedRebalanced", spark, dir) {
      val ixDir = indexDirFor(dir) + "_rebal"
      saveGiven(graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), ixDir)
      rebalanceGiven(spark, ixDir, RebalancePolicy.Tight)
      ixDir
    }

  /** G23 gate query — serve AFTER a rebalance; the oracle replays the
    * whole arc in SQL (assignment → actions → quantile-seeded
    * sub-centroids → sub-assignment → merge targets → post-rebalance
    * serve over the new quantizer), so the hash gate proves the
    * executor's index serves exactly the fresh build over the
    * post-rebalance assignment.
    */
  def knnRebalancedQ(spark: SparkSession, dir: String): DataFrame =
    servedKnnGiven(spark, prebuildSavedRebalanced(spark, dir),
      col("vec_id") < 5, 3)

  override def queries: Map[String, Q] = Map(
    "ivf_rebalance_plan" -> (rebalancePlanQ _),
    "knn_ivf_rebalanced" -> (knnRebalancedQ _),
    "embedding_drift" -> (embeddingDriftQ _),
    "knn_ivf_served" -> (knnServedQ _),
    "knn_ivf_deleted" -> (knnDeletedQ _),
    "cosine_topk_served" -> (cosineTopkServedQ _),
    "bm25_topk_served" -> (bm25TopkServedQ _),
    "hybrid_rrf_served" -> (hybridRrfServedQ _),
    "knn_pq_served" -> (knnPqServedQ _),
    "knn_ivfpq_served" -> (knnIvfPqServedQ _),
    "knn_ivfpq_rerank_served" -> (knnIvfPqRerankServedQ _),
    "knn_ivfpq_appended" -> (knnIvfPqAppendedQ _),
    "knn_ivfpq_deleted" -> (knnIvfPqDeletedQ _),
    "knn_ivfpq_rebalanced" -> (knnIvfPqRebalancedQ _),
    "ivf_list_stats" -> (listStatsQ _))

  /** The fresh builds' oracles verbatim: a persisted round-trip must
    * serve exactly what the in-session index serves.
    */
  /** The shared quantized pair-dot reduction (the list form — see
    * Ivf's join-order note) over aliases `ea`/`eb`.
    */
  private[sim] def zipDot: String =
    s"""CAST(CAST(list_sum(list_transform(
       |           list_zip(ea.embedding[1:${Ivf.Dim}], eb.embedding[1:${Ivf.Dim}]),
       |           x -> CAST(CAST(CAST(CAST(x[1] AS FLOAT) AS DOUBLE)
       |             * CAST(CAST(x[2] AS FLOAT) AS DOUBLE)
       |             AS VARCHAR) AS DECIMAL(24,12)))) AS VARCHAR) AS DOUBLE)""".stripMargin

  /** The G23 oracle: replay the whole rebalance arc in SQL under the
    * gate band, then the probe-and-re-rank serve over the
    * post-rebalance quantizer and assignment.
    */
  /** The rebalance DECISION ARC in SQL (counts → actions →
    * quantile-seeded sub-centroids → sub-assignment → merge targets →
    * `newlists` + `cents2`), appended after [[Ivf.givenAssignSql]]'s
    * `lists`/`cdots`/`norms` CTEs. Shared by the G23 flat-IVF gate
    * and the G31 IVFPQ gate — both run [[rebalancePlan]].
    */
  private[sim] def rebalanceArcSql(p: RebalancePolicy): String = s"""
      |counts AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors
      |       FROM lists GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
      |       CAST(count(*) AS BIGINT) AS n_lists FROM counts),
      |act AS (SELECT list_id, n_vectors,
      |    CASE WHEN n_vectors * n_lists * ${p.splitDen} > ${p.splitNum} * total THEN 'split'
      |         WHEN n_vectors * n_lists * ${p.mergeDen} < ${p.mergeNum} * total THEN 'merge'
      |         ELSE 'keep' END AS action,
      |    GREATEST(2, LEAST((n_vectors * n_lists + total - 1) // total,
      |      n_vectors)) AS s
      |  FROM counts CROSS JOIN tot),
      |memrank AS (SELECT l.vec_id, l.list_id,
      |    row_number() OVER (PARTITION BY l.list_id
      |      ORDER BY c.dot / (sqrt(nv.nsq) * sqrt(nc.nsq)) DESC,
      |               l.vec_id ASC) AS mr
      |  FROM lists l JOIN act a ON l.list_id = a.list_id
      |    AND a.action = 'split'
      |    JOIN cdots c ON c.vec_id = l.vec_id AND c.cid = l.list_id
      |    JOIN norms nv ON l.vec_id = nv.vec_id
      |    JOIN norms nc ON l.list_id = nc.vec_id),
      |subranks AS (SELECT a.list_id,
      |    CAST((2 * u.j + 1) * a.n_vectors // (2 * a.s) + 1 AS BIGINT) AS r
      |  FROM act a, UNNEST(range(0, a.s)) u(j) WHERE a.action = 'split'),
      |subc AS (SELECT m.list_id AS parent, m.vec_id AS subcid
      |  FROM memrank m JOIN subranks sr
      |    ON m.list_id = sr.list_id AND m.mr = sr.r),
      |sdots AS (SELECT l.vec_id, sc.subcid,
      |    $zipDot AS dot
      |  FROM lists l JOIN act a ON l.list_id = a.list_id
      |    AND a.action = 'split'
      |    JOIN subc sc ON sc.parent = l.list_id
      |    JOIN embeddings ea ON ea.vec_id = l.vec_id
      |    JOIN embeddings eb ON eb.vec_id = sc.subcid),
      |sassign AS (SELECT sdots.vec_id, subcid,
      |    row_number() OVER (PARTITION BY sdots.vec_id
      |      ORDER BY dot / (sqrt(nv.nsq) * sqrt(ns2.nsq)) DESC,
      |               subcid ASC) AS rn
      |  FROM sdots JOIN norms nv ON sdots.vec_id = nv.vec_id
      |    JOIN norms ns2 ON sdots.subcid = ns2.vec_id),
      |mtgt AS (SELECT c.vec_id AS mlist, c.cid AS tgt,
      |    row_number() OVER (PARTITION BY c.vec_id
      |      ORDER BY c.dot / (sqrt(nm.nsq) * sqrt(nk.nsq)) DESC,
      |               c.cid ASC) AS rn
      |  FROM cdots c
      |    JOIN act am ON am.list_id = c.vec_id AND am.action = 'merge'
      |    JOIN act ak ON ak.list_id = c.cid AND ak.action = 'keep'
      |    JOIN norms nm ON c.vec_id = nm.vec_id
      |    JOIN norms nk ON c.cid = nk.vec_id),
      |newlists AS (
      |  SELECT l.vec_id, l.list_id FROM lists l
      |    JOIN act a ON l.list_id = a.list_id WHERE a.action = 'keep'
      |  UNION ALL
      |  SELECT sa.vec_id, sa.subcid AS list_id FROM sassign sa
      |    WHERE sa.rn = 1
      |  UNION ALL
      |  SELECT l.vec_id, m.tgt AS list_id FROM lists l
      |    JOIN act a ON l.list_id = a.list_id AND a.action = 'merge'
      |    JOIN mtgt m ON m.mlist = l.list_id AND m.rn = 1),
      |cents2 AS (SELECT list_id AS cid FROM act WHERE action = 'keep'
      |  UNION ALL SELECT subcid FROM subc),""".stripMargin

  private def rebalancedKnnSql: String = {
    val p = RebalancePolicy.Tight
    Ivf.givenAssignSql + rebalanceArcSql(p) + s"""
      |qdots AS (SELECT ea.vec_id AS query_id, c2.cid,
      |    $zipDot AS dot
      |  FROM embeddings ea CROSS JOIN cents2 c2
      |    JOIN embeddings eb ON eb.vec_id = c2.cid
      |  WHERE ea.vec_id < 5),
      |probes AS (SELECT query_id, cid AS list_id FROM (
      |    SELECT q.query_id, q.cid,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY q.dot / (sqrt(nq.nsq) * sqrt(nc2.nsq)) DESC,
      |                 q.cid ASC) AS prnk
      |    FROM qdots q JOIN norms nq ON q.query_id = nq.vec_id
      |      JOIN norms nc2 ON q.cid = nc2.vec_id)
      |  WHERE prnk <= ${Ivf.GivenProbe}),
      |cand AS (SELECT vec_id AS neighbor_id, list_id FROM newlists
      |       WHERE vec_id >= 5),
      |pdots AS (SELECT p.query_id, c.neighbor_id, c.list_id,
      |    $zipDot AS dot
      |  FROM probes p JOIN cand c ON p.list_id = c.list_id
      |    JOIN embeddings ea ON ea.vec_id = p.query_id
      |    JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
      |scored AS (SELECT query_id, neighbor_id, list_id,
      |    dot / (sqrt(nq.nsq) * sqrt(nc.nsq)) AS cosine
      |  FROM pdots JOIN norms nq ON query_id = nq.vec_id
      |    JOIN norms nc ON neighbor_id = nc.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine, list_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  cosine, list_id
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin
  }

  /** The G31 oracle: the shared rebalance decision arc, then the
    * IVFPQ-specific tail — residual RE-ENCODE of every vector against
    * its post-rebalance centroid (argmin over the codebook with the
    * subDistSqD decimal discipline), probe routing over the new
    * quantizer, per-(query, probed-list) residual LUTs, and the ADC
    * ranking. Every reduction mirrors the Spark chain's quantization
    * points exactly (per-term VARCHAR→DECIMAL(24,12), decimal sums,
    * double casts).
    */
  private def rebalancedIvfPqKnnSql: String = {
    val sub = Pq.SubDim
    val cb = Pq.CodebookIds
    val q = Pq.QueryIds
    Ivf.givenAssignSql + rebalanceArcSql(RebalancePolicy.Tight) + s"""
      |rcomp AS (SELECT nl.vec_id, c.i,
      |    CAST((c.i - 1) // $sub AS INT) AS m,
      |    c.v - cc.v AS rv, nl.list_id
      |  FROM newlists nl
      |    JOIN comp c ON c.vec_id = nl.vec_id
      |    JOIN comp cc ON cc.vec_id = nl.list_id AND cc.i = c.i),
      |cdist2 AS (SELECT r.vec_id, r.m, b.vec_id AS cid,
      |    CAST(CAST(sum(CAST(CAST((r.rv - b.v) * (r.rv - b.v) AS VARCHAR)
      |         AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |  FROM rcomp r JOIN comp b ON b.i = r.i AND b.vec_id < $cb
      |  GROUP BY 1, 2, 3),
      |codes2 AS (SELECT vec_id, m, cid AS code
      |  FROM (SELECT vec_id, m, cid,
      |          row_number() OVER (PARTITION BY vec_id, m
      |            ORDER BY dsq ASC, cid ASC) AS rn
      |        FROM cdist2)
      |  WHERE rn = 1),
      |q2dots AS (SELECT ea.vec_id AS query_id, c2.cid,
      |    $zipDot AS dot
      |  FROM embeddings ea CROSS JOIN cents2 c2
      |    JOIN embeddings eb ON eb.vec_id = c2.cid
      |  WHERE ea.vec_id < $q),
      |probes2 AS (SELECT query_id, cid AS list_id FROM (
      |    SELECT d.query_id, d.cid,
      |      row_number() OVER (PARTITION BY d.query_id
      |        ORDER BY d.dot / (sqrt(nq.nsq) * sqrt(nc2.nsq)) DESC,
      |                 d.cid ASC) AS prnk
      |    FROM q2dots d JOIN norms nq ON d.query_id = nq.vec_id
      |      JOIN norms nc2 ON d.cid = nc2.vec_id)
      |  WHERE prnk <= ${Ivf.GivenProbe}),
      |qrcomp AS (SELECT p.query_id, p.list_id, c.i,
      |    CAST((c.i - 1) // $sub AS INT) AS m,
      |    c.v - cc.v AS rv
      |  FROM probes2 p
      |    JOIN comp c ON c.vec_id = p.query_id
      |    JOIN comp cc ON cc.vec_id = p.list_id AND cc.i = c.i),
      |luts2 AS (SELECT t.query_id, t.list_id, t.m, b.vec_id AS cid,
      |    CAST(CAST(sum(CAST(CAST((t.rv - b.v) * (t.rv - b.v) AS VARCHAR)
      |         AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |  FROM qrcomp t JOIN comp b ON b.i = t.i AND b.vec_id < $cb
      |  GROUP BY 1, 2, 3, 4),
      |cand2 AS (SELECT c.vec_id AS neighbor_id, nl.list_id, c.m, c.code
      |  FROM codes2 c JOIN newlists nl ON nl.vec_id = c.vec_id
      |  WHERE c.vec_id >= $q),
      |adist2 AS (SELECT l.query_id, c.neighbor_id, c.list_id,
      |    CAST(CAST(sum(CAST(CAST(l.dsq AS VARCHAR) AS DECIMAL(24,12)))
      |         AS VARCHAR) AS DOUBLE) AS adist
      |  FROM cand2 c JOIN luts2 l
      |    ON l.list_id = c.list_id AND l.m = c.m AND l.cid = c.code
      |  GROUP BY 1, 2, 3),
      |ranked2 AS (SELECT query_id, neighbor_id, adist, list_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adist ASC, neighbor_id ASC) AS rank
      |  FROM adist2)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  adist, list_id
      |FROM ranked2 WHERE rank <= ${Pq.K}
      |ORDER BY query_id, rank""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "knn_ivf_rebalanced" -> rebalancedKnnSql,
    "knn_ivfpq_rebalanced" -> rebalancedIvfPqKnnSql,
    "knn_ivf_served" -> Ivf.oracles("knn_ivf_given_centroids"),
    "knn_ivf_deleted" -> Ivf.givenKnnSql(candWhere =
      s"vec_id >= 5 AND vec_id NOT BETWEEN $DeletedLo AND ${DeletedHi - 1}"),
    "cosine_topk_served" -> graft.text.RagQueries.oracles("cosine_topk_docs"),
    "bm25_topk_served" -> graft.text.RagQueries.oracles("bm25_topk_docs"),
    "hybrid_rrf_served" -> graft.text.RagQueries.oracles("hybrid_rrf"),
    "knn_pq_served" -> Pq.oracles("knn_pq"),
    "knn_ivfpq_served" -> Pq.oracles("knn_ivfpq_given"),
    "knn_ivfpq_rerank_served" -> Pq.oracles("knn_ivfpq_rerank"),
    "knn_ivfpq_appended" -> Pq.oracles("knn_ivfpq_given"),
    "knn_ivfpq_deleted" -> Pq.ivfPqKnnSql(
      s"vec_id >= ${Pq.QueryIds} AND " +
        s"vec_id NOT BETWEEN $DeletedLo AND ${DeletedHi - 1}"),
    "embedding_drift" -> (Ivf.givenAssignSql + """
      |halves AS (SELECT count(*) // 2 AS half FROM lists),
      |cells AS (SELECT list_id,
      |         CAST(sum(CASE WHEN vec_id < half THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_old,
      |         CAST(sum(CASE WHEN vec_id >= half THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_new
      |       FROM lists, halves GROUP BY 1),
      |tots AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
      |         CAST(sum(n_new) AS BIGINT) AS t_new,
      |         count(*) AS n_lists
      |       FROM cells)
      |SELECT list_id, n_old, n_new,
      |  CAST(n_old + 1 AS DOUBLE) / (t_old + n_lists) AS p_old,
      |  CAST(n_new + 1 AS DOUBLE) / (t_new + n_lists) AS p_new,
      |  (CAST(n_old + 1 AS DOUBLE) / (t_old + n_lists)
      |   - CAST(n_new + 1 AS DOUBLE) / (t_new + n_lists))
      |  * CAST(CAST(ln(CAST((n_old + 1) * (t_new + n_lists) AS DOUBLE)
      |      / ((n_new + 1) * (t_old + n_lists))) AS DECIMAL(18,9))
      |      AS DOUBLE) AS psi_term
      |FROM cells, tots
      |ORDER BY list_id""".stripMargin),
    "ivf_rebalance_plan" -> (Ivf.givenAssignSql + s"""
      |counts AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors
      |       FROM lists GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
      |       CAST(count(*) AS BIGINT) AS n_lists FROM counts),
      |near AS (SELECT c.vec_id AS nl_id, c.cid,
      |       row_number() OVER (PARTITION BY c.vec_id
      |         ORDER BY c.dot / (sqrt(na.nsq) * sqrt(nb.nsq)) DESC,
      |                  c.cid ASC) AS rn
      |     FROM cdots c JOIN norms na ON c.vec_id = na.vec_id
      |          JOIN norms nb ON c.cid = nb.vec_id
      |     WHERE c.vec_id < ${Ivf.GivenCentroids} AND c.vec_id <> c.cid)
      |SELECT counts.list_id, n_vectors,
      |  CAST(n_vectors * n_lists AS DOUBLE) / total AS balance,
      |  CASE WHEN n_vectors * n_lists > 2 * total THEN 'split'
      |       WHEN n_vectors * n_lists * 4 < total THEN 'merge'
      |       ELSE 'keep' END AS action,
      |  CAST((n_vectors * n_lists + total - 1) // total AS BIGINT)
      |    AS split_into,
      |  CASE WHEN n_vectors * n_lists * 4 < total THEN near.cid END
      |    AS merge_into,
      |  total, n_lists
      |FROM counts CROSS JOIN tot
      |LEFT JOIN near ON near.nl_id = counts.list_id AND near.rn = 1
      |ORDER BY counts.list_id""".stripMargin),
    "ivf_list_stats" -> (Ivf.givenAssignSql + """
      |counts AS (SELECT list_id, count(*) AS n_vectors
      |       FROM lists GROUP BY 1),
      |tot AS (SELECT sum(n_vectors) AS total, count(*) AS n_lists
      |       FROM counts)
      |SELECT list_id, n_vectors,
      |  CAST((n_vectors * 1000000) // total AS BIGINT) AS share_ppm,
      |  CAST(n_vectors * n_lists AS DOUBLE) / total AS balance
      |FROM counts, tot
      |ORDER BY list_id""".stripMargin))
}
