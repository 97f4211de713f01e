package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** TF-IDF + cosine retrieval (SURVEY §2 D; reference:
  * llm_app/rag_engine.py — sklearn TfidfVectorizer + cosine top-k).
  *
  * Relational formulation: one (doc, term, tf) row per posting, doc
  * frequencies from one aggregate, smooth idf `ln((1+N)/(1+df)) + 1`
  * (sklearn's smooth_idf) quantized to 9 decimals so both engines'
  * `ln` agree bit-for-bit after the cast. Query↔doc cosine is a
  * sparse dot: join on term — co-partitioned, no dense vectors
  * anywhere, which is what makes this run at 100 TB corpus size (the
  * vocabulary aggregate and the query vector broadcast; the posting
  * join shuffles on term once).
  *
  * The corpus-side build (postings → idf → weights → norms) is
  * packaged as a [[TfidfIndex]], memoized per (session, corpus):
  * repeated searches — or different operators over the same corpus in
  * one session — reuse one persisted build instead of re-deriving the
  * chain per query. N rides along the idf aggregate as a broadcast
  * 1-row count, so indexing triggers no separate driver-side action.
  */
object Tfidf {

  /** Stopwords removed before n-gram construction, as sklearn does. */
  val stopwords: Seq[String] = Analysis.stopwords

  /** (id, term, tf) postings with the reference's vectorizer
    * semantics (rag_engine.py:29-32): alphanumeric-run tokens,
    * stopword removal, then unigrams + bigrams.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // One codegen'd pass produces unigrams + bigrams (r19): the
    // former filter/zip_with/concat HOF generator evaluated its
    // lambdas interpreted per token — TokenizeBigrams emits the
    // identical array in a tight loop (parity incl. non-ASCII pinned
    // by QueryVectorParitySpec).
    docs.select(col(idCol).as("id"),
        explode(graft.plans.VectorExpressions.tokenizeBigrams(
          col(textCol), stopwords)).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** (term, df, idf) with sklearn smooth idf, decimal-quantized.
    * The corpus size joins in as a broadcast 1-row aggregate — no
    * separate `docs.count()` action/scan.
    */
  def idf(postings: DataFrame, docs: DataFrame): DataFrame =
    postings.groupBy("term")
      // postings is an aggregate keyed on (id, term): ids are already
      // distinct within a term, so a plain count IS the document
      // frequency — countDistinct would add a whole dedup exchange
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("idf", expr(
        "cast(cast(ln((1.0 + n_docs) / (1.0 + df)) + 1.0 as decimal(18,9)) as double)"))
      .select("term", "df", "idf")

  /** (id, term, w) weighted postings. The idf side is VOCAB-sized
    * (unigrams + bigrams — billions of terms at corpus scale), so no
    * broadcast hint: both sides key on term, and the co-partitioned
    * shuffle join is linear in postings. Catalyst still broadcasts
    * on its own when the vocab measures small. (A forced broadcast
    * here was the one superlinear knee StressBench ×12→×24 found:
    * 15.9 → 53.6 s — the substituted stress corpus multiplies the
    * vocab, and the broadcast build cost grows with it.)
    */
  def weights(postings: DataFrame, idf: DataFrame): DataFrame =
    postings.join(idf, "term")
      .select(col("id"), col("term"),
        (col("tf") * col("idf")).as("w"))

  /** Quantized-exact L2 norm per id over sparse weights. */
  def norms(weights: DataFrame): DataFrame =
    weights.groupBy("id")
      .agg(expr("cast(sum(cast(w * w as decimal(24,8))) as double)").as("nsq"))

  /** The memoized corpus index, lazily localCheckpoint'ed: unlike
    * `persist()`, the materialized blocks live outside the SQL cache
    * manager, so `catalog.clearCache()` between queries doesn't force
    * a rebuild — the index survives for the session's lifetime, which
    * is exactly the sharing a retrieval index wants. (On a real
    * cluster the blocks are executor-local; an executor loss would
    * cost a rebuild of that partition's lineage-truncated blocks, the
    * standard localCheckpoint trade — a long-lived serving index
    * would use a reliable checkpoint dir instead.)
    */
  def index(docs: DataFrame, idCol: String, textCol: String): TfidfIndex =
    graft.Memo.once("Tfidf.index", docs.sparkSession, graft.Memo.planKey(docs),
        idCol, textCol) {
      // EAGER checkpoints, built in dependency order: a lazy
      // checkpoint materializes on the consumer's first action,
      // and that action's plan reads `p` through several branches
      // (weights, dl, idf) — each branch recomputes the postings
      // chain while the blocks are still filling (the same
      // per-branch-scan trap as the CC edge input). Eager = one
      // build each, every downstream branch reads blocks.
      val p = graft.Profiling.phase("tfidf.postings") {
        postings(docs, idCol, textCol).localCheckpoint(true) }
      val i = graft.Profiling.phase("tfidf.idf") {
        idf(p, docs).localCheckpoint(true) }
      val w = graft.Profiling.phase("tfidf.weights") {
        weights(p, i).localCheckpoint(true) }
      TfidfIndex(docs, idCol, textCol, p, i, w,
        graft.Profiling.phase("tfidf.norms") {
          norms(w).localCheckpoint(true) })
    }

  /** Cosine top-k of `queryText` against the corpus (memoized
    * index under the hood).
    */
  def searchTopK(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, queryText: String, k: Int): DataFrame =
    index(docs, idCol, textCol).searchTopK(queryText, k)

  /** Driver-side replica of [[postings]]' tokenization for ONE query
    * string: same regex split (Pattern.split limit −1, like SQL
    * `split`), same stopword filter, same unigram+bigram generator,
    * same tf counts. Returns None for non-ASCII text — SQL `lower()`
    * and JVM lowering could diverge on exotic case mappings, so those
    * queries keep the relational path. Serving a query previously
    * spent whole Spark jobs tokenizing a 1-row frame and joining the
    * vocab-sized idf to weight ~10 terms (guide §5: the driver should
    * do no DATA work — but the query vector is not data, it is a
    * bounded constant of the request).
    */
  private[text] def localQueryTf(queryText: String): Option[Seq[(String, Long)]] =
    if (queryText.exists(_ >= 128)) None
    else {
      val stop = stopwords.toSet
      val ts = java.util.regex.Pattern.compile("[^a-z0-9]+")
        .split(queryText.toLowerCase(java.util.Locale.ROOT), -1)
        .filter(t => t.nonEmpty && !stop(t))
      val all = ts ++ ts.zip(ts.drop(1)).map { case (a, b) => a + " " + b }
      Some(all.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1))
    }

  /** The quantized query norm: sum(cast(w*w as decimal(24,8))) cast
    * double, replicated exactly (shortest-repr half-up quantization,
    * order-free decimal sum — see graft.plans.QuantKernels).
    */
  private[text] def qnsqLocal(ws: Seq[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    ws.foreach { w =>
      acc = acc.add(java.math.BigDecimal.valueOf(w * w)
        .setScale(8, java.math.RoundingMode.HALF_UP))
    }
    acc.doubleValue()
  }

  /** Persist a built index for cross-session serving (SURVEY §2 D9):
    * the weights table is CLUSTERED BY term (repartition + sort) so a
    * serve-time query's term IN-filter prunes row groups — the scan
    * reads ~|query terms| / |vocab| of the index, not all of it.
    *
    * Two layers on disk:
    *  - ADDITIVE BASE: `postings` (id, term, tf — term-clustered).
    *    The ONLY ground truth — what an append merges exactly.
    *  - DERIVED: `stats` (n_docs), `idf`, `weights`, `norms` — pure
    *    arithmetic over the base. tf-idf's GLOBAL idf couples every
    *    document's weights and norm to the corpus df/n_docs, so an
    *    append rewrites these from the merged base ([[rederiveSaved]])
    *    — arithmetic only, never re-tokenizing the old corpus.
    *    (Contrast BM25, whose doc-side stats are append-local — the
    *    reason Lucene serves BM25; see [[Bm25.appendSaved]].)
    */
  def save(ix: TfidfIndex, dir: String): Unit = {
    ix.postings.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings")
    // the saved index's n_docs counts INDEXED documents (one norms
    // row per doc with ≥1 term) — the quantity [[rederiveSaved]]
    // re-derives from the additive base alone, which is what makes
    // stats crash-reconstructible (the r17 ADVICE item: a stats
    // value only an append could know is a stats value a crashed
    // append loses). The serve itself never reads stats (idf is a
    // stored layer); it exists as the layout's exported corpus-size
    // METADATA — what a catalog or ingest monitor reads without
    // scanning postings (the J23 ingest spec pins replay-no-op on
    // it). A zero-term document is invisible to the index —
    // sklearn's N would count it; this layout, like Lucene's
    // numDocs, cannot and does not.
    ix.norms.agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    ix.idf.write.mode("overwrite").parquet(s"$dir/idf")
    ix.weights.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/weights")
    ix.norms.write.mode("overwrite").parquet(s"$dir/norms")
  }

  private def loadPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("id BIGINT, term STRING, tf BIGINT")
      .parquet(s"$dir/postings")

  /** D9 maintenance — append NEW documents (ids not already indexed;
    * the G18 arrival contract) to a saved index: tokenize ONLY the
    * batch, append its postings to the additive base, then
    * [[rederiveSaved]] — which re-derives `stats` and the idf-coupled
    * layers from the base alone. Serving after this equals a fresh
    * index over the union corpus exactly (spec-pinned): postings are
    * per-document facts and every derived value is a pure function of
    * the merged postings. Crash contract: the recovery for ANY
    * interruption after the postings append landed is to re-run
    * [[rederiveSaved]] — since stats derive from postings, the re-run
    * repairs n_docs too (the r17 ADVICE window, where a crash between
    * a postings append and a stats bump left rederive baking the
    * stale count, is gone: there is no stored value the base cannot
    * reconstruct). The residual window is the postings append job
    * itself: a crash MID-append can land a prefix of the batch's
    * files, and re-delivering the whole batch would duplicate its
    * landed rows — at-least-once feeds must come through the
    * batch-marker face ([[graft.streaming.Streaming]]'s ingest
    * streams), which skips a batch whose marker committed.
    */
  def appendSaved(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = newDocs.sparkSession
    postings(newDocs, idCol, textCol)
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("append").parquet(s"$dir/postings")
    rederiveSaved(spark, dir)
  }

  /** [[appendSaved]] guarded by a batch-id marker
    * ([[graft.FsOps.onceByMarker]]): an at-least-once
    * re-delivered batch — the Structured Streaming foreachBatch
    * contract — is a no-op instead of appending duplicate postings.
    * This is the entry [[graft.streaming.Streaming.tfidfIngestStream]]
    * uses. Residual window (the applyDiffOnce caveat): the marker
    * lands after the postings append and the rederive — a crash in
    * between means the replay re-appends the whole batch; closable
    * only by a transactional manifest. Note the rederive makes each
    * batch cost O(index) ARITHMETIC (tf-idf's global idf couples all
    * weights — the [[save]] header's trade); a high-frequency feed
    * belongs on the BM25 index, whose append is O(batch).
    */
  def appendSavedOnce(newDocs: DataFrame, idCol: String,
      textCol: String, dir: String, batchId: Long): Unit =
    graft.FsOps.onceByMarker(
      graft.FsOps.fs(newDocs.sparkSession, dir), dir, batchId) {
      appendSaved(newDocs, idCol, textCol, dir)
    }

  /** Rebuild everything DERIVED (`stats`, `idf`, `weights`, `norms`)
    * from the additive base — one linear arithmetic pass over the
    * stored postings, no tokenization. n_docs is count(distinct id)
    * over the postings themselves (the indexed-document count the
    * saved layout defines — see [[save]]), so this is a TOTAL
    * recovery: idempotent, and correct from any half-landed append
    * or delete state.
    */
  def rederiveSaved(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val p = loadPostings(spark, dir)
    // postings are keyed (id, term): distinct ids = indexed docs.
    // One aggregate over the base — the price of stats being
    // derived, paid only at maintenance time, never at serve.
    val n = p.select("id").distinct().count()
    val fs = graft.FsOps.fs(spark, dir)
    Seq(n).toDF("n_docs").write.mode("overwrite")
      .parquet(s"$dir/stats_staged")
    graft.FsOps.swapDir(fs, s"$dir/stats_staged", s"$dir/stats")
    // the same decimal-quantized expression as [[idf]], with the
    // corpus size from the derived count instead of a docs aggregate
    val i = p.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("n_docs", lit(n))
      .withColumn("idf", expr(
        "cast(cast(ln((1.0 + n_docs) / (1.0 + df)) + 1.0 as decimal(18,9)) as double)"))
      .select("term", "df", "idf")
      .localCheckpoint(true) // consumed by its own write AND weights
    val w = weights(p, i).localCheckpoint(true)
    i.write.mode("overwrite").parquet(s"$dir/idf_staged")
    graft.FsOps.swapDir(fs, s"$dir/idf_staged", s"$dir/idf")
    w.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/weights_staged")
    graft.FsOps.swapDir(fs, s"$dir/weights_staged", s"$dir/weights")
    norms(w).write.mode("overwrite").parquet(s"$dir/norms_staged")
    graft.FsOps.swapDir(fs, s"$dir/norms_staged", s"$dir/norms")
  }

  /** D9 maintenance — DELETE documents from a saved index: the global
    * smooth idf couples every document's weights and norm to
    * df/n_docs, so a delete rewrites the additive base minus the docs
    * (one staged swap — no tokenization; contrast [[Bm25.deleteSaved]]
    * whose tombstones make delete O(batch)), then [[rederiveSaved]]s
    * `stats` and the arithmetic layers from the rewritten base.
    * Served-after-delete equals a fresh index over the remaining
    * corpus exactly (spec-pinned), and the postings swap is the only
    * commit point — a crash anywhere after it recovers by re-running
    * rederiveSaved. Contract: only indexed documents are tracked — a
    * zero-term document is invisible to the index and cannot be
    * deleted from it.
    */
  def deleteSaved(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val del = ids.select(col("id")).distinct().localCheckpoint(true)
    val p = loadPostings(spark, dir)
    if (p.join(del, "id").isEmpty) return
    val fs = graft.FsOps.fs(spark, dir)
    p.join(del, Seq("id"), "left_anti")
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings_staged")
    graft.FsOps.swapDir(fs, s"$dir/postings_staged", s"$dir/postings")
    rederiveSaved(spark, dir)
  }

  /** D9 maintenance — compact the additive base: each append lays one
    * file set into `postings`, so a long-lived index accumulates
    * small files; rewrite term-clustered via a staged swap. Serving
    * is unchanged (the derived layers are already whole).
    */
  def compactSaved(spark: SparkSession, dir: String): Unit = {
    val p = loadPostings(spark, dir)
    p.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings_staged")
    graft.FsOps.swapDir(graft.FsOps.fs(spark, dir),
      s"$dir/postings_staged", s"$dir/postings")
  }

  /** Cosine top-k served from a SAVED index — the same algebra as
    * [[TfidfIndex.searchTopK]] over the loaded frames, bit-identical
    * on the same corpus, with one serve-time addition: the query's
    * term set (a driver-side quantity — one string's tokens) is
    * collected and pushed into the weights scan, so the
    * term-clustered file serves the query from a handful of row
    * groups. The filter is semantics-preserving: the inner join on
    * term already restricts to query terms.
    */
  def searchSaved(spark: SparkSession, dir: String, queryText: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val idfT = spark.read.parquet(s"$dir/idf")
    val weightsT = spark.read.parquet(s"$dir/weights")
    val normsT = spark.read.parquet(s"$dir/norms")
    // query vector on the DRIVER when the text is ASCII (the serve
    // contract's hot path): one term-pruned idf lookup replaces a
    // tokenize job + two vocab-scanning broadcast subplans, and the
    // arithmetic (tf·idf, quantized norm) replicates the relational
    // form bit for bit — TextSpec pins both paths equal
    val (qw, qTerms, qnsqC) = localQueryTf(queryText) match {
      case Some(tfs) if tfs.nonEmpty =>
        val terms = tfs.map(_._1)
        val idfMap = idfT.filter(col("term").isin(terms: _*))
          .select("term", "idf").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val qwRows = tfs.flatMap { case (t, tf) =>
          idfMap.get(t).map(i => (t, tf * i)) }
        if (qwRows.isEmpty)
          // no query term in the vocab: the former qn frame was EMPTY
          // and its crossJoin emptied the result — preserve exactly
          (qwRows.toDF("term", "qw"), Seq.empty[String], lit(null).cast("double"))
        else
          (qwRows.toDF("term", "qw"), qwRows.map(_._1),
            lit(qnsqLocal(qwRows.map(_._2))))
      case _ =>
        val qp = postings(Seq((0L, queryText)).toDF("id", "text"), "id", "text")
        val qwDf = weights(qp, idfT).select(col("term"), col("w").as("qw"))
        val qn = norms(qwDf.select(lit(0L).as("id"), col("term"),
            col("qw").as("w")))
          .select(col("nsq").as("qnsq")).collect()
        (qwDf, qwDf.select("term").distinct().as[String].collect().toSeq,
          if (qn.isEmpty) lit(null).cast("double") else lit(qn(0).getDouble(0)))
    }
    if (qTerms.isEmpty)
      // zero surviving weighted terms: result is empty by the old
      // crossJoin-with-empty-qn algebra
      return weightsT.select(col("id"), lit(0d).as("cosine")).limit(0)
    val dots = weightsT.filter(col("term").isin(qTerms: _*))
      .join(broadcast(qw), "term")
      .groupBy("id")
      .agg(expr("cast(sum(cast(w * qw as decimal(24,8))) as double)").as("dot"))
    dots.join(normsT, "id")
      .withColumn("cosine", col("dot") / (sqrt(col("nsq")) * sqrt(qnsqC)))
      .select(col("id"), col("cosine"))
      .orderBy(desc("cosine"), asc("id"))
      .limit(k)
  }
}

/** A built (persisted) TF-IDF index over one corpus. */
final case class TfidfIndex(docs: DataFrame, idCol: String, textCol: String,
    postings: DataFrame, idf: DataFrame, weights: DataFrame, norms: DataFrame) {

  /** Cosine top-k against the indexed corpus: the query vector
    * weights/norm broadcast; the posting join is the only shuffle.
    */
  def searchTopK(queryText: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // driver-side query vector on the ASCII hot path (see
    // Tfidf.searchSaved): the former qw/qn broadcast subplans each
    // re-scanned the idf frame inside the serve job
    val (qw, qnsqOpt) = Tfidf.localQueryTf(queryText) match {
      case Some(tfs) if tfs.nonEmpty =>
        val terms = tfs.map(_._1)
        val idfMap = idf.filter(col("term").isin(terms: _*))
          .select("term", "idf").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val qwRows = tfs.flatMap { case (t, tf) =>
          idfMap.get(t).map(i => (t, tf * i)) }
        (qwRows.toDF("term", "qw"),
          if (qwRows.isEmpty) None
          else Some(Tfidf.qnsqLocal(qwRows.map(_._2))))
      case _ =>
        val qp = Tfidf.postings(
          Seq((0L, queryText)).toDF(idCol, textCol), idCol, textCol)
        val qwDf = Tfidf.weights(qp, idf)
          .select(col("term"), col("w").as("qw"))
        val qn = Tfidf.norms(qwDf.select(lit(0L).as("id"), col("term"),
            col("qw").as("w")))
          .select(col("nsq").as("qnsq")).collect()
        (qwDf, if (qn.isEmpty) None else Some(qn(0).getDouble(0)))
    }
    val dots = weights.join(broadcast(qw), "term")
      .groupBy("id")
      .agg(expr("cast(sum(cast(w * qw as decimal(24,8))) as double)").as("dot"))
    val withQn = qnsqOpt match {
      // no weighted query term: the former empty-qn crossJoin
      // produced zero rows — preserve exactly
      case None => dots.join(norms, "id").limit(0).withColumn("qnsq", lit(0d))
      case Some(v) => dots.join(norms, "id").withColumn("qnsq", lit(v))
    }
    withQn
      .withColumn("cosine", col("dot") / (sqrt(col("nsq")) * sqrt(col("qnsq"))))
      .select(col("id"), col("cosine"))
      .orderBy(desc("cosine"), asc("id"))
      .limit(k)
  }
}
