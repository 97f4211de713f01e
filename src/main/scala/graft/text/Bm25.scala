package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 retrieval (SURVEY §2 D4) — the standard ranking function a
  * training-data pipeline uses for corpus retrieval, sharing the
  * memoized [[Tfidf]] posting index (same tokenizer, same postings,
  * same df table; only the weighting differs).
  *
  * Okapi BM25 with the Lucene-style non-negative idf:
  *   idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)
  *   score(d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * Query terms contribute once each (distinct; the k3 query-tf factor
  * is 1 for short queries).
  *
  * Scale/parity shape mirrors the tfidf path: postings join on term
  * (the only shuffle), corpus stats ride along as broadcast 1-row
  * aggregates, idf is decimal-quantized at the ln boundary and
  * per-term scores quantize before the final sum so both engines add
  * exactly.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75
  /** k1 + 1 computed once in Scala; the oracle interpolates this
    * exact double's toString (VARCHAR→DOUBLE) rather than re-deriving
    * it in SQL decimal arithmetic.
    */
  val K1p1: Double = K1 + 1

  /** Top-k documents for `queryText` by BM25 score. */
  def topK(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, queryText: String, k: Int): DataFrame = {
    import spark.implicits._
    val ix = Tfidf.index(docs, idCol, textCol)
    val p = ix.postings // (id, term, tf)
    val dl = p.groupBy("id").agg(sum("tf").as("dl"))
    val stats = broadcast(
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum("dl").as("tot_dl"))))
    val bidf = ix.idf.select(col("term"), col("df"))
      .crossJoin(stats.select("n_docs"))
      .withColumn("bidf", expr(
        """cast(cast(ln((cast(n_docs - df as double) + 0.5d)
          |             / (cast(df as double) + 0.5d) + 1.0d)
          |     as decimal(18,9)) as double)""".stripMargin))
      .select("term", "bidf")
    // driver-side term set for ASCII text (see Tfidf.localQueryTf)
    val qt = Tfidf.localQueryTf(queryText) match {
      case Some(tfs) => tfs.map(_._1).toDF("term")
      case None => Tfidf.postings(
          Seq((0L, queryText)).toDF(idCol, textCol), idCol, textCol)
        .select("term").distinct()
    }
    // bidf is VOCAB-sized — restrict it to the query's terms (a
    // broadcast semi-filter on the tiny qt set) BEFORE it joins the
    // candidate postings; broadcasting the full vocab frame would
    // build a corpus-scale hash relation for a per-query lookup
    p.join(broadcast(qt), "term")
      .join(dl, "id")
      .join(broadcast(bidf.join(broadcast(qt), "term")), "term")
      .crossJoin(stats)
      // nullif: ANSI Divide checks the ZERO DIVISOR before the null
      // numerator, and both operands live on the 1-row stats frame —
      // the optimizer may push this projection onto that side and
      // evaluate it even when the join output is empty, so an empty
      // corpus (n_docs = 0) must degrade to null, not throw
      .withColumn("avgdl",
        col("tot_dl").cast("double") / nullif(col("n_docs"), lit(0L)))
      .withColumn("ts",
        col("bidf") * (col("tf") * lit(K1p1)) /
          (col("tf") + lit(K1) *
            (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("id")
      .agg(expr("cast(sum(cast(ts as decimal(24,8))) as double)").as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }

  /** Persist the BM25 index (SURVEY §2 D10) — the Lucene-shaped
    * artifact, and every table is ADDITIVE: `postings` (id, term, tf)
    * CLUSTERED BY term so a serve-time term IN-filter prunes row
    * groups (the [[Tfidf.save]] discipline), `dl` per-doc lengths,
    * and `stats` the 1-row corpus totals. Per-term idf is NOT stored:
    * it derives exactly at serve time from the term-pruned scan's own
    * df count plus `stats` — which is what makes [[appendSaved]]
    * O(batch) (every global BM25 input is a sum), the property that
    * lets Lucene score BM25 across merging segments.
    */
  def save(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String): Unit = {
    val ix = Tfidf.index(docs, idCol, textCol)
    val p = ix.postings
    val dl = p.groupBy("id").agg(sum("tf").as("dl"))
    // epoch is the tombstone GENERATION (Lucene's segments_N number):
    // deleteSaved stamps tombstones with the current epoch, and
    // compactSaved's single stats swap bumps it — atomically
    // invalidating every landed tombstone without a second write
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum("dl").as("tot_dl")))
      .withColumn("epoch", lit(0L))
    p.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings")
    dl.write.mode("overwrite").parquet(s"$dir/dl")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** D10 maintenance — append NEW documents (ids not already indexed;
    * the G18 arrival contract) to a saved index in O(batch): tokenize
    * only the batch, append its postings and doc lengths, and bump
    * the 1-row totals through a staged swap. No stored value ever
    * needs rewriting — df, n_docs, and total length are sums, and the
    * serve derives idf/avgdl from them — so served-after-append
    * equals a fresh index over the union corpus exactly
    * (spec-pinned).
    */
  def appendSaved(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = newDocs.sparkSession
    val pB = Tfidf.postings(newDocs, idCol, textCol)
      .localCheckpoint(true) // consumed by its own write AND dl
    pB.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("append").parquet(s"$dir/postings")
    val dlB = pB.groupBy("id").agg(sum("tf").as("dl"))
      .localCheckpoint(true)
    dlB.write.mode("append").parquet(s"$dir/dl")
    val old = spark.read.schema("n_docs BIGINT, tot_dl BIGINT, epoch BIGINT")
      .parquet(s"$dir/stats")
    val add = newDocs.agg(count(lit(1)).as("dn"))
      .crossJoin(dlB.agg(coalesce(sum("dl"), lit(0L)).as("ds")))
    old.crossJoin(add)
      .select((col("n_docs") + col("dn")).as("n_docs"),
        (col("tot_dl") + col("ds")).as("tot_dl"), col("epoch"))
      .write.mode("overwrite").parquet(s"$dir/stats_staged")
    graft.FsOps.swapDir(graft.FsOps.fs(spark, dir),
      s"$dir/stats_staged", s"$dir/stats")
  }

  /** [[appendSaved]] guarded by a batch-id marker
    * ([[graft.FsOps.onceByMarker]]): an at-least-once
    * re-delivered batch — the Structured Streaming foreachBatch
    * contract — is a no-op instead of appending duplicate postings.
    * This is the entry [[graft.streaming.Streaming.bm25IngestStream]]
    * uses. Residual window (the applyDiffOnce caveat): the append is
    * three writes (postings, dl, stats swap) and the marker lands
    * after all of them — a crash in between means the replay
    * re-appends the whole batch; closable only by a transactional
    * manifest across the layouts.
    */
  def appendSavedOnce(newDocs: DataFrame, idCol: String,
      textCol: String, dir: String, batchId: Long): Unit =
    graft.FsOps.onceByMarker(
      graft.FsOps.fs(newDocs.sparkSession, dir), dir, batchId) {
      appendSaved(newDocs, idCol, textCol, dir)
    }

  /** The raw tombstone sidecar (all generations), empty when no
    * delete has landed. Rows carry the deleted doc's LENGTH and the
    * tombstone generation: dl rides along so the serve can derive the
    * stats decrement from the tombstones alone (never from a join
    * with a layout another maintenance step may already have
    * rewritten), and `epoch` scopes visibility to the current stats
    * generation — see [[deleteSaved]].
    */
  private[text] def loadDeleted(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    if (graft.FsOps.fs(spark, dir)
        .exists(new org.apache.hadoop.fs.Path(s"$dir/deleted")))
      spark.read.schema("id BIGINT, dl BIGINT, epoch BIGINT")
        .parquet(s"$dir/deleted")
    else Seq.empty[(Long, Long, Long)].toDF("id", "dl", "epoch")
  }

  /** Tombstones visible to the CURRENT stats generation — the set
    * every serve anti-joins and derives its stats decrement from.
    */
  private[text] def visibleDeleted(spark: SparkSession, dir: String,
      stats: DataFrame): DataFrame =
    loadDeleted(spark, dir)
      .join(broadcast(stats.select("epoch")), "epoch")
      .select("id", "dl")

  /** D10 maintenance — DELETE documents from a saved index in
    * O(batch), the Lucene tombstone discipline: the ids land in a
    * `deleted/` sidecar as (id, dl, epoch) rows; postings/dl rows
    * stay until [[compactSaved]] materializes the deletion, and the
    * STORED totals never change — the serve derives the effective
    * (n_docs, tot_dl) by subtracting the current-epoch tombstones'
    * own (count, Σdl). The tombstone append is therefore this
    * operation's ONLY write and its commit point: a crash mid-append
    * leaves a prefix of the batch tombstoned and the index fully
    * consistent, and re-running the delete lands exactly the missing
    * remainder (already-tombstoned and absent ids are filtered out,
    * so re-delivery is a no-op — with no second write for a crash to
    * separate it from, unlike the r17 shape ADVICE flagged). Contract:
    * only INDEXED documents are tracked — a document whose text
    * produced zero terms is invisible to the index and cannot be
    * deleted from it.
    */
  def deleteSaved(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val del = ids.select(col("id")).distinct()
    val dl = spark.read.schema("id BIGINT, dl BIGINT")
      .parquet(s"$dir/dl")
    val stats = spark.read
      .schema("n_docs BIGINT, tot_dl BIGINT, epoch BIGINT")
      .parquet(s"$dir/stats")
    // visible = indexed and not already tombstoned in this generation
    val vis = dl.join(del, "id")
      .join(visibleDeleted(spark, dir, stats).select("id"),
        Seq("id"), "left_anti")
      .crossJoin(broadcast(stats.select("epoch")))
      .localCheckpoint(true)
    if (vis.isEmpty) return
    vis.select("id", "dl", "epoch")
      .write.mode("append").parquet(s"$dir/deleted")
  }

  /** D10 maintenance — compact the per-append file sets AND
    * materialize tombstoned deletions: rewrite `postings`
    * term-clustered and `dl` minus the deleted ids via staged swaps,
    * then commit by swapping `stats` to the decremented totals at
    * epoch+1 — ONE rename that simultaneously folds the tombstones'
    * mass into the stored totals and invalidates them (their rows
    * linger until the final best-effort sweep, but carry a stale
    * epoch no serve looks at). Every crash point re-runs clean: the
    * decrement aggregates from the tombstones themselves, so it stays
    * correct after postings/dl have already been rewritten, and a
    * re-run after the stats swap sees zero visible tombstones and
    * reduces to a plain file compaction. Serving is unchanged at
    * every point (spec-pinned).
    */
  def compactSaved(spark: SparkSession, dir: String): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    val stats = spark.read
      .schema("n_docs BIGINT, tot_dl BIGINT, epoch BIGINT")
      .parquet(s"$dir/stats")
    val deleted = visibleDeleted(spark, dir, stats).localCheckpoint(true)
    spark.read.schema("id BIGINT, term STRING, tf BIGINT")
      .parquet(s"$dir/postings")
      .join(deleted.select("id"), Seq("id"), "left_anti")
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings_staged")
    graft.FsOps.swapDir(fs, s"$dir/postings_staged", s"$dir/postings")
    spark.read.schema("id BIGINT, dl BIGINT").parquet(s"$dir/dl")
      .join(deleted.select("id"), Seq("id"), "left_anti")
      .repartition(col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$dir/dl_staged")
    graft.FsOps.swapDir(fs, s"$dir/dl_staged", s"$dir/dl")
    val dAgg = deleted.agg(count(lit(1)).as("dn"),
      coalesce(sum("dl"), lit(0L)).as("ds"))
    stats.crossJoin(dAgg)
      .select((col("n_docs") - col("dn")).as("n_docs"),
        (col("tot_dl") - col("ds")).as("tot_dl"),
        (col("epoch") + 1).as("epoch"))
      .write.mode("overwrite").parquet(s"$dir/stats_staged")
    graft.FsOps.swapDir(fs, s"$dir/stats_staged", s"$dir/stats")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deleted"), true); ()
  }

  /** BM25 top-k served from a SAVED index — the same score algebra as
    * [[topK]] over the loaded frames, bit-identical on the same
    * corpus. The query's term set (one string's tokens, a driver-side
    * quantity) is pushed into BOTH term-clustered scans, so a serve
    * reads ~|query terms| / |vocab| of the postings. Explicit schemas
    * on every read: an index saved from an empty corpus has no part
    * files to infer from and must serve empty, not fail.
    */
  def servedTopK(spark: SparkSession, dir: String, queryText: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val p = spark.read.schema("id BIGINT, term STRING, tf BIGINT")
      .parquet(s"$dir/postings")
    val dl = spark.read.schema("id BIGINT, dl BIGINT")
      .parquet(s"$dir/dl")
    val rawStats = spark.read
      .schema("n_docs BIGINT, tot_dl BIGINT, epoch BIGINT")
      .parquet(s"$dir/stats")
    val deleted = visibleDeleted(spark, dir, rawStats)
    // effective totals = stored totals minus the tombstones' own
    // mass (each tombstone carries its doc's dl, so this never
    // touches a layout a concurrent compaction may be rewriting);
    // with no tombstones the aggregate folds to a constant (0, 0)
    // row — Catalyst's empty-relation propagation, no extra scan
    val dAgg = deleted.agg(
      coalesce(count(lit(1)), lit(0L)).as("dn"),
      coalesce(sum("dl"), lit(0L)).as("ds"))
    val stats = broadcast(rawStats.crossJoin(dAgg)
      .select((col("n_docs") - col("dn")).as("n_docs"),
        (col("tot_dl") - col("ds")).as("tot_dl")))
    // query term set on the driver for ASCII text (see
    // Tfidf.localQueryTf) — the relational tokenize of a 1-row frame
    // was a whole Spark job per serve
    val qTerms = Tfidf.localQueryTf(queryText) match {
      case Some(tfs) => tfs.map(_._1)
      case None => Tfidf.postings(
          Seq((0L, queryText)).toDF("id", "text"), "id", "text")
        .select("term").distinct().as[String].collect().toSeq
    }
    // per-term idf DERIVED from the pruned scan itself: postings are
    // keyed (id, term), so a plain count per term IS the document
    // frequency, and the same decimal-quantized ln as the fresh path
    // over (df, n_docs) is bit-identical to a stored idf — this is
    // what keeps every stored table additive under appendSaved. The
    // frame is read twice (df count + score chain) but BOTH reads are
    // term-pruned row-group scans — no checkpoint, which would trade
    // the pushed In(term) filter for an RDD scan. Tombstoned ids
    // (deleteSaved) anti-join out ABOVE the scan, before df counting.
    val pq = p.filter(col("term").isin(qTerms: _*))
      .join(broadcast(deleted.select("id")), Seq("id"), "left_anti")
    val bidf = pq.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(stats.select("n_docs"))
      .withColumn("bidf", expr(
        """cast(cast(ln((cast(n_docs - df as double) + 0.5d)
          |             / (cast(df as double) + 0.5d) + 1.0d)
          |     as decimal(18,9)) as double)""".stripMargin))
      .select("term", "bidf")
    pq
      .join(dl, "id")
      .join(broadcast(bidf), "term")
      .crossJoin(stats)
      .withColumn("avgdl",
        col("tot_dl").cast("double") / nullif(col("n_docs"), lit(0L)))
      .withColumn("ts",
        col("bidf") * (col("tf") * lit(K1p1)) /
          (col("tf") + lit(K1) *
            (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("id")
      .agg(expr("cast(sum(cast(ts as decimal(24,8))) as double)").as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }
}
