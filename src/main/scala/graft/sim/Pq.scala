package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** Product quantization (SURVEY §2 G10/G11): the FAISS-style
  * memory-compression layer a billion-vector serving index stands on
  * — each 64-dim float vector (256 bytes) is stored as [[NumSub]]
  * one-byte codes (argmin codeword per 16-dim subspace), and
  * asymmetric-distance (ADC) search scores a candidate with M lookup
  * additions instead of d float multiplies.
  *
  * Scale shape: encoding is one broadcast join (the codebook is tiny
  * by construction) + a map-side-combinable argmin — a linear scan at
  * any corpus size; search composes the [[Search]] stages — one
  * broadcast lookup table per query (M × K entries) and candidate
  * scoring by M lookups in one projection: no per-candidate vector
  * math at all, which is the entire point of PQ at 10⁹ vectors.
  *
  * Gate shape (the given-centroids discipline, Ivf.scala): the
  * codebook is the subvectors of a FIXED id set (vec_id <
  * [[CodebookIds]]) rather than a trained k-means product codebook,
  * so encode, LUT and ADC ranking are plain relational algebra and
  * both queries sit fully inside the DuckDB hash gate. Distances use
  * the [[Vectors]] DECIMAL(24,12) term-quantization discipline so the
  * reductions are order-free and engine-exact.
  */
object Pq extends QueryModule {

  val Dim = 64
  val NumSub = 4
  val SubDim: Int = Dim / NumSub
  /** Codeword source rows: subvectors of vec_id < this. */
  val CodebookIds = 16
  /** Query set: vec_id < this (the G-block convention). */
  val QueryIds = 5
  val K = 3

  /** Quantized-exact squared L2 over subspace m of two array columns —
    * the subspace form of [[Vectors.normSq]]'s fold, as the codegen'd
    * [[graft.plans.QuantFold]] kernel (see QuantFoldSpec). x is a
    * float vector or a double residual, y a float codeword; the kernel
    * reads each side's element type.
    */
  private[sim] def subDistSqD(x: String, y: String, m: Int): Column =
    graft.plans.VectorExpressions.qdistsq(col(x), col(y),
      m * SubDim, SubDim)

  /** Quantized-exact squared L2 over the FULL vector (both float
    * arrays) — the ground-truth metric [[recall]] evaluates against
    * and the refine distance of the rerank faces.
    */
  private def fullDistSq(x: Column, y: Column): Column =
    graft.plans.VectorExpressions.qdistsq(x, y)

  /** The query set of a corpus frame: (query_id, eq). */
  private[sim] def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))

  private def codebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < CodebookIds)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  // one encode build serves both queries (the Ivf givenListed
  // discipline); the codes frame is narrow (vec_id + M ints) and
  // checkpointed so clearCache between queries doesn't rebuild
  /** Per-vector PQ codes, WIDE (vec_id, code_0..code_{M-1}): argmin
    * codeword per subspace, ties to the smaller codeword id. One
    * broadcast join + one combinable aggregate. The former long
    * (vec_id, m, code) layout exploded the distance rows ×NumSub
    * through a stack BEFORE aggregating (4 shuffled rows per vector)
    * and every consumer re-pivoted wide anyway — the fused per-m
    * min_bys over the same (dsq, cid) order yield identical codes
    * (the residualCodes r18/r19 fusion applied to the flat encode).
    */
  def codes(emb: DataFrame): DataFrame =
    graft.Memo.once("Pq.codes", emb.sparkSession, graft.Memo.planKey(emb)) {
      val e = graft.Par.spread(emb.select("vec_id", "embedding"))
      e.crossJoin(broadcast(codebook(emb)))
        .select(col("vec_id") +: col("cid") +:
          (0 until NumSub).map(m =>
            subDistSqD("embedding", "ce", m).as(s"d$m")): _*)
        .groupBy("vec_id")
        .agg(
          min_by(col("cid"), struct(col("d0"), col("cid"))).as("code_0"),
          (1 until NumSub).map(m =>
            min_by(col("cid"), struct(col(s"d$m"), col("cid")))
              .as(s"code_$m")): _*)
        .localCheckpoint(true)
    }

  /** Force the encode build (Bench bills it separately). */
  def prebuild(spark: SparkSession, dir: String): Unit = {
    codes(Tables.embeddings(spark, dir).select("vec_id", "embedding")); ()
  }

  /** The codebook packed into ONE row ([[Search.packCodebook]]) — the
    * broadcastable static side of the streaming encode face
    * ([[graft.streaming.Streaming.pqEncodeStream]]): a stream can't run
    * the batch groupBy argmin, but it can fold a 16-struct array
    * column in a stateless projection.
    */
  def packedCodebook(emb: DataFrame): DataFrame =
    Search.packCodebook(codebook(emb))

  /** G10 — `pq_encode`: the stored form, one row per vector with its
    * M codes (the 256-byte → M-byte compression a vector store
    * actually persists).
    */
  def encode(emb: DataFrame): DataFrame =
    codes(emb).orderBy("vec_id")

  /** Persist the PQ artifact (SURVEY §2 G16): the tiny codebook plus
    * the PACKED codes table ([[encode]]'s one-row-per-vector layout —
    * the M-byte form a vector store actually keeps on disk). Raw
    * embeddings are deliberately NOT saved: serving from this
    * artifact proves the compressed form is sufficient.
    */
  def save(emb: DataFrame, dir: String): Unit = {
    codebook(emb).write.mode("overwrite").parquet(s"$dir/codebook")
    encode(emb).write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** ADC top-k served from a SAVED artifact: raw query vectors (the
    * serve-time contract — only the corpus is stored compressed) build
    * their [[Search.lut]] against the loaded codebook, and the loaded
    * codes are scored by [[Search.adc]]. Bit-identical to [[knn]] on
    * the same corpus.
    */
  def servedKnn(spark: SparkSession, dir: String, queries: DataFrame,
      candPred: Column): DataFrame =
    Search.topK(Search.adc(spark.read.parquet(s"$dir/codes").filter(candPred),
      Search.lut(queries, spark.read.parquet(s"$dir/codebook"), "eq")),
      "sim", Seq("adist"), K)

  /** G11 — `knn_pq`: ADC top-k over [[adcScores]] ([[Search.topK]]). */
  def knn(emb: DataFrame): DataFrame =
    Search.topK(adcScores(emb), "sim", Seq("adist"), K)

  /** The per-(query, candidate) ADC score frame of the flat index —
    * [[Search.lut]] over the query vectors, [[Search.adc]] over the
    * codes — shared by [[knn]] and [[knnRerank]].
    */
  private[sim] def adcScores(emb: DataFrame): DataFrame =
    Search.adc(codes(emb).filter(col("vec_id") >= QueryIds),
      Search.lut(queriesOf(emb), codebook(emb), "eq"))

  /** Shortlist size of the rerank's first stage (R > k; the
    * compressed index proposes R, the exact metric disposes k).
    */
  val RerankR = 10

  /** G24 — `knn_pq_rerank`: TWO-STAGE retrieval, the serving pattern
    * a compressed index runs in production (FAISS's refine stage):
    * [[adcScores]] proposes a top-[[RerankR]] shortlist per query and
    * [[Search.refine]] re-ranks it by the exact quantized squared-L2,
    * so ADC's quantization error can no longer reorder the final top-k
    * WITHIN the shortlist (recall(rerank@k) ≥ recall(adc@k),
    * spec-pinned against the brute-force ground truth).
    */
  def knnRerank(emb: DataFrame): DataFrame =
    Search.refine(
      Search.topK(adcScores(emb), "sim", Seq("adist"), RerankR, sorted = false),
      queriesOf(emb), emb.filter(col("vec_id") >= QueryIds), fullDistSq, K)

  /** Residual PQ codes under the GIVEN coarse quantizer (the FAISS
    * IVFPQ storage layout): each vector quantizes its residual
    * x − centroid(list(x)) — not x itself — so codes spend their
    * precision on within-list variation, which is why IVFPQ beats
    * flat PQ at equal bytes. Assignment rides the shared
    * [[Ivf.givenListed]] build (one broadcast-argmax build serves
    * G2c/F10b/G12); the residual is one broadcast centroid join +
    * a zip_with projection, and code argmin is the same broadcast
    * codebook join + combinable min_by as [[codes]] — linear at any
    * corpus size.
    */
  // one residual-encode build serves search + any re-probe (the codes
  // memo discipline); narrow rows, checkpointed past clearCache
  def residualCodes(emb: DataFrame): DataFrame =
    graft.Memo.once("Pq.residualCodes", emb.sparkSession, graft.Memo.planKey(emb)) {
      val (cents, assigned) = Ivf.givenListed(emb)
      val resid = assigned
        .join(broadcast(cents.select(col("cid").as("list_id"), col("ce"))),
          "list_id")
        .withColumn("resid", expr(
          "zip_with(embedding, ce, (x, c) -> cast(x as double) - cast(c as double))"))
        .select("vec_id", "list_id", "resid")
      // per-subspace argmins fused into ONE aggregate over the
      // (vec, candidate-codeword) rows, kept WIDE (vec_id, list_id,
      // code_0..3): the former stack-first form exploded the
      // distance rows ×NumSub before aggregating and shuffled 4
      // rows per vector, and every consumer (ivfPqScores' ADC,
      // saveIvfPq's partitioned write) re-pivoted wide anyway.
      // min_by per m over the same (dsq, cid) order — codes
      // identical.
      resid.crossJoin(broadcast(codebook(emb)))
        .select(col("vec_id") :: col("list_id") :: col("cid") ::
          (0 until NumSub).map(m =>
            subDistSqD("resid", "ce", m).as(s"d$m")).toList: _*)
        .groupBy("vec_id", "list_id")
        .agg(
          min_by(col("cid"), struct(col("d0"), col("cid"))).as("code_0"),
          (1 until NumSub).map(m =>
            min_by(col("cid"), struct(col(s"d$m"), col("cid")))
              .as(s"code_$m")): _*)
        .localCheckpoint(true)
    }

  /** Force the residual-encode build (Bench bills it separately). */
  def prebuildResidual(spark: SparkSession, dir: String): Unit = {
    residualCodes(
      Tables.embeddings(spark, dir).select("vec_id", "embedding")); ()
  }

  /** G12 — `knn_ivfpq`: the composed billion-vector serving index
    * (FAISS IVFPQ shape): [[ivfPqScores]] routes each query to its
    * probed lists, takes its residual against each probed centroid,
    * and scores only the candidates stored in those lists through the
    * per-(query, list) lookup table — the IVF probe bound and the PQ
    * scoring bound composed, zero per-candidate vector arithmetic.
    */
  def knnIvfPq(emb: DataFrame): DataFrame =
    Search.topK(ivfPqScores(emb), "sim", Seq("adist", "list_id"), K)

  /** G25 — `knn_ivfpq_rerank`: the G24 two-stage pattern over the
    * COMPOSED index — the top-[[RerankR]] [[ivfPqScores]] shortlist
    * through [[Search.refine]].
    */
  def knnIvfPqRerank(emb: DataFrame): DataFrame =
    Search.refine(
      Search.topK(ivfPqScores(emb), "sim", Seq("adist", "list_id"), RerankR,
        sorted = false),
      queriesOf(emb), emb.filter(col("vec_id") >= QueryIds), fullDistSq, K)

  /** The per-(query, candidate) residual-ADC score frame — the
    * [[Search.probes]] residual route over the given quantizer, its
    * per-(query, list) [[Search.lut]], and [[Search.adc]] over the
    * residual codes — shared by [[knnIvfPq]] and [[knnIvfPqRerank]].
    */
  private[sim] def ivfPqScores(emb: DataFrame): DataFrame = {
    val (cents, assigned) = Ivf.givenListed(emb)
    val probes = Search.probes(
      Search.queryRows(assigned, col("vec_id") < QueryIds), cents,
      residual = true)
    Search.adc(residualCodes(emb).filter(col("vec_id") >= QueryIds),
      Search.lut(probes, codebook(emb), "qres"))
  }

  // --- persisted IVFPQ (SURVEY §2 G26/G27) ---------------------------

  /** Persist the COMPOSED IVFPQ index — the production billion-vector
    * layout (FAISS IVFPQ + IndexRefineFlat), which until round 16
    * existed only in-session:
    *
    *  - `centroids/` — the coarse quantizer (cid, ce, cn): tiny,
    *    broadcast at serve time;
    *  - `codebook/`  — the PQ codeword table: tiny, broadcast into
    *    the per-(query, list) LUT build;
    *  - `codes/`     — RESIDUAL codes packed one row per vector
    *    (M one-byte codes in M columns), PARTITIONED BY list_id with
    *    one file per list directory (the IndexStore layout: an
    *    inverted list is read whole or not at all, and the probe set
    *    becomes a partition IN-filter so an unprobed list costs
    *    nothing — not even a scan-and-discard);
    *  - `refine/`    — raw vectors partitioned by list_id, read ONLY
    *    by the rerank face's shortlist fetch (FAISS keeps the refine
    *    layer's raw vectors beside the compressed index the same
    *    way; the ADC serve path never touches it).
    */
  def saveIvfPq(emb: DataFrame, dir: String): Unit = {
    val (cents, assigned) = graft.Profiling.phase("saveivfpq.givenListed") {
      Ivf.givenListed(emb) }
    // materialize the shared prerequisite of the codes layout before
    // forking: residualCodes is a synchronized memo build, so forcing
    // it here keeps the parallel region free of lock convoys
    val rc = graft.Profiling.phase("saveivfpq.residualCodes") {
      residualCodes(emb.select("vec_id", "embedding")) }
    // four independent writes into disjoint subdirs (guide §2.6):
    // centroids/codebook are tiny commits, codes and refine each a
    // single-shuffle write off already-checkpointed inputs
    graft.Par.jobs[Unit](Seq(
      () => graft.Profiling.phase("saveivfpq.centroids_codebook") {
        cents.write.mode("overwrite").parquet(s"$dir/centroids")
        codebook(emb).write.mode("overwrite").parquet(s"$dir/codebook")
      },
      () => graft.Profiling.phase("saveivfpq.codes") {
        // rc is already the packed wide layout — straight to the
        // partitioned write
        rc.repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$dir/codes")
      },
      () => graft.Profiling.phase("saveivfpq.refine") {
        assigned.select("vec_id", "embedding", "list_id")
          .repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$dir/refine")
      }))
  }

  // explicit schemas (the r9 empty-corpus discipline, and partition
  // directories must type list_id BIGINT like the fresh path)
  private[sim] def loadIvfPqCodes(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema("vec_id BIGINT, " +
        (0 until NumSub).map(m => s"code_$m BIGINT").mkString(", ") +
        ", list_id BIGINT")
      .parquet(s"$dir/codes")

  private def loadIvfPqRefine(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
      .parquet(s"$dir/refine")

  /** G28 — incremental maintenance of the composed index (the
    * [[graft.sim.IndexStore.appendGiven]] arrival path applied to
    * IVFPQ): assign ONLY the new vectors against the SAVED coarse
    * quantizer (one broadcast-argmax pass), residual-encode them
    * against the SAVED codebook (one broadcast join + combinable
    * argmin), and append packed codes + raw refine rows into the
    * partitioned layouts — existing lists are never read or
    * rewritten. For a fixed quantizer and codebook the result is
    * IDENTICAL to a full rebuild over the union corpus (assignment
    * and encoding are per-vector; spec-pinned), which is exactly why
    * production indexes pin both and retrain offline.
    */
  def appendIvfPq(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebook")
    val e = newEmb.select(col("vec_id"), col("embedding"),
      Vectors.normSq("embedding").as("nsq"))
    // Assignment as a PURE PROJECTION (r19, guide §2.4): the saved
    // quantizer is a bounded driver-side table (nLists rows — the
    // same rows the former crossJoin broadcast), so the per-vector
    // argmax folds over an inlined centroid array instead of
    // exploding e ×nLists into a groupBy exchange and joining the
    // winner back. Same arithmetic term for term ([[Vectors.dotCols]]
    // is the dot expression the crossJoin used; array_max over
    // struct(c_cos, -cid) is max_by's ordering), so assignments are
    // bit-identical; the batch now shuffles exactly ONCE (the
    // list_id layout below) instead of three times.
    val cRows = cents.select("cid", "ce", "cn")
      .collect().sortBy(_.getLong(0))
    val assigned =
      if (cRows.isEmpty) {
        // empty quantizer: the former inner join-back produced zero
        // assigned rows — preserve that exactly
        e.withColumn("list_id", lit(null).cast("bigint")).filter(lit(false))
          .localCheckpoint(true)
      } else graft.Profiling.phase("append.assign") {
        val centArr = array(cRows.map { r =>
          struct(
            lit(r.getLong(0)).as("cid"),
            typedLit(r.getSeq[Float](1)).as("ce"),
            lit(r.getDouble(2)).as("cn"))
        }.toIndexedSeq: _*)
        val best = array_max(transform(centArr, c =>
          struct(
            (Vectors.dotCols(col("embedding"), c.getField("ce"))
              / (sqrt(col("nsq")) * sqrt(c.getField("cn")))).as("c_cos"),
            (-c.getField("cid")).as("neg_cid"),
            c.getField("cid").as("cid"))))
        // one exchange: straight into the list_id layout BOTH writes
        // (and the codes aggregate) consume — the checkpoint's
        // partitioning survives, so no further shuffle below
        e.withColumn("list_id", best.getField("cid"))
          .repartition(col("list_id"))
          .localCheckpoint(true)
      }
    val resid = assigned
      .join(broadcast(cents.select(col("cid").as("list_id"), col("ce"))),
        "list_id")
      .withColumn("resid", expr(
        "zip_with(embedding, ce, (x, c) -> cast(x as double) - cast(c as double))"))
      .select("vec_id", "list_id", "resid")
    // per-subspace argmins in ONE aggregate directly over the
    // (vec, candidate-codeword) rows (min_by per m over the same
    // (dsq, cid) order — identical codes). Grouping leads with
    // list_id so the checkpoint's hash(list_id) layout satisfies the
    // aggregate's distribution — partial aggregation reduces each
    // vector's codeword candidates in place and NO exchange runs.
    val codeCols = (0 until NumSub).map(m =>
      min_by(col("cid"), struct(col(s"d$m"), col("cid"))).as(s"code_$m"))
    val codesWide = resid.crossJoin(broadcast(cb))
      .select(col("vec_id") :: col("list_id") :: col("cid") ::
        (0 until NumSub).map(m =>
          subDistSqD("resid", "ce", m).as(s"d$m")).toList: _*)
      .groupBy("list_id", "vec_id")
      .agg(codeCols.head, codeCols.tail: _*)
    // both appends read the list_id-partitioned checkpoint and land
    // in disjoint layouts — overlap them (guide §2.6); neither write
    // repartitions (the layout is already the write partitioning)
    graft.Profiling.phase("append.writes") {
      graft.Par.jobs[Unit](Seq(
        () => codesWide
          .select((col("vec_id") +: (0 until NumSub).map(m =>
            col(s"code_$m")) :+ col("list_id")): _*)
          .write.mode("append").partitionBy("list_id")
          .parquet(s"$dir/codes"),
        () => assigned.select("vec_id", "embedding", "list_id")
          .write.mode("append").partitionBy("list_id")
          .parquet(s"$dir/refine"))) }
  }

  /** [[appendIvfPq]] guarded by a batch-id marker
    * ([[graft.FsOps.onceByMarker]]): an at-least-once
    * re-delivered batch — the Structured Streaming foreachBatch
    * contract — is a no-op instead of appending duplicate vec_id rows
    * into codes/ and refine/. This is the ingest entry the J-block
    * stream face uses; callers of the RAW [[appendIvfPq]] must
    * deduplicate and serialize their own batches (two concurrent
    * appends can interleave writes into the same partition
    * directories). Residual window (the applyDiffOnce caveat applies
    * here too): the append is two write jobs (codes and refine,
    * overlapped — either may commit first) and
    * the marker lands only after both — a crash after either append
    * committed but before the marker means the replay re-appends the
    * whole batch, duplicating its landed vec_id rows in the
    * already-committed layout(s). Closable only by a transactional
    * manifest across both layouts; until then a post-crash recovery
    * should [[deleteIvfPq]] the batch's ids before replaying.
    */
  def appendIvfPqOnce(newEmb: DataFrame, dir: String,
      batchId: Long): Unit =
    graft.FsOps.onceByMarker(
      graft.FsOps.fs(newEmb.sparkSession, dir), dir, batchId) {
      appendIvfPq(newEmb, dir)
    }

  /** G29 — compaction for the composed index: each [[appendIvfPq]]
    * lays one file per touched list in BOTH layouts, so a long-lived
    * index accumulates small files (listing + per-file open dominate
    * a probe's read). Rewrites codes/ and refine/ to one file per
    * list directory, each committed by [[graft.FsOps.swapDir]].
    * Crash contract: per-LAYOUT atomicity — each layout is swapped
    * whole; a crash BETWEEN the two layouts' swaps leaves codes/ and
    * refine/ from different compaction generations, both complete and
    * serving identically (compaction never changes content) — re-run
    * to reconverge. Serving is unchanged (spec-pinned); the rewrite
    * touches each layout once, bounded by index size, never the raw
    * corpus.
    */
  def compactIvfPq(spark: SparkSession, dir: String): Unit =
    compactListLayouts(spark, dir, Layouts)

  /** A list-partitioned layout's name under the index dir and its
    * loader; loaders run only after [[graft.FsOps.recoverDeleteOld]].
    */
  private[sim] type ListLayout = (String, (SparkSession, String) => DataFrame)

  /** The two list-partitioned layouts of the composed index. */
  private val Layouts: Seq[ListLayout] =
    Seq("codes" -> loadIvfPqCodes _, "refine" -> loadIvfPqRefine _)

  /** The compaction shared by [[compactIvfPq]], [[IndexStore.compactGiven]]
    * and [[PqTrained.compactTrained]]: after the per-list recovery,
    * each layout rewrites to one file per list directory under a
    * staging dir that [[graft.FsOps.swapDir]] commits. The rewrites
    * are independent (disjoint staging dirs, per-layout swap
    * atomicity), so they overlap through [[graft.Par.jobs]].
    */
  private[sim] def compactListLayouts(spark: SparkSession, dir: String,
      layouts: Seq[ListLayout]): Unit = {
    val fs = graft.FsOps.fs(spark, dir)
    graft.FsOps.recoverDeleteOld(fs, dir, layouts.map(_._1))
    graft.Par.jobs[Unit](layouts.map { case (sub, load) => () => {
      val staged = s"$dir/${sub}_compact_staging"
      load(spark, dir).repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(staged)
      graft.FsOps.swapDir(fs, staged, s"$dir/$sub")
    }})
  }

  /** G30 — deletion from the composed index, completing its CRUD
    * lifecycle (save / serve / append / compact / DELETE): the delete
    * set joins each layout once to find the TOUCHED lists (O(nLists)
    * driver rows, the probe-set bound), only those list directories
    * rewrite in codes/ AND refine/ via [[deleteFromListLayout]] (an
    * emptied list's directory drops), untouched lists never read.
    */
  def deleteIvfPq(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    // recover FIRST: after a mid-loop crash the live layout can be
    // missing lists whose only copy sits under _delete_old — roll
    // those back before anything reads the layout (the touched-list
    // scan would silently miss their rows) and before the old
    // sidecar is cleared as stale (the r17 ADVICE window: re-running
    // the delete — the natural recovery — destroyed them)
    graft.FsOps.recoverDeleteOld(graft.FsOps.fs(spark, dir), dir,
      Layouts.map(_._1))
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    // touched lists computed PER LAYOUT, not from codes alone: after
    // a crash between the codes and refine passes the ids are
    // already gone from codes, and a codes-derived set would make
    // the re-run — the documented recovery — return early while
    // refine/ retains the deleted vectors' raw embeddings forever
    // (found by review in round 18)
    for ((sub, load) <- Layouts)
      deleteFromListLayout(spark, dir, sub, load(spark, dir), del)
  }

  /** The per-layout delete shared by [[deleteIvfPq]],
    * [[PqTrained.deleteTrained]] and [[IndexStore.deleteGiven]]: find
    * the lists of `sub` that hold `del`'s ids, stage their anti-joined
    * rewrite, and commit it with [[graft.FsOps.swapLists]]. Callers
    * run [[graft.FsOps.recoverDeleteOld]] before loading `df`.
    */
  private[sim] def deleteFromListLayout(spark: SparkSession,
      dir: String, sub: String, df: DataFrame, del: DataFrame): Unit = {
    val touched = df.join(del, "vec_id")
      .select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val staged = s"$dir/${sub}_delete_staging"
    df.filter(col("list_id").isin(touched: _*))
      .join(del, Seq("vec_id"), "left_anti")
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(staged)
    graft.FsOps.swapLists(graft.FsOps.fs(spark, dir), dir, sub, staged,
      touched.toSeq)
  }

  /** G31 — occupancy REBALANCE for the composed index (the G23
    * split/merge arc applied to IVFPQ): what makes this a distinct
    * operator from the flat-IVF rebalance is that moving a vector to
    * a NEW list changes its RESIDUAL — codes quantize x − centroid,
    * so every moved (and split-reassigned) vector must RE-ENCODE
    * against its new centroid. The refine sidecar is what makes that
    * possible without the original corpus: raw vectors read from the
    * touched lists only, re-encoded against the loaded codebook, and
    * both layouts rewrite through per-directory staged swaps.
    *
    * Decisions and commit are [[IndexStore.rebalancePlan]] and
    * [[IndexStore.commitRebalance]], run over the refine layout's raw
    * vectors; target lists' own members keep their centroid, so their
    * re-encode is a bit-identical no-op and staging them costs only
    * their directory rewrite. Returns whether the pass acted; iterate
    * with a cap for convergence exactly like `rebalanceUntilBand`.
    */
  def rebalanceIvfPq(spark: SparkSession, dir: String,
      policy: IndexStore.RebalancePolicy =
        IndexStore.RebalancePolicy.Standard): Boolean = {
    graft.FsOps.recoverDeleteOld(graft.FsOps.fs(spark, dir), dir,
      Layouts.map(_._1))
    val refine = loadIvfPqRefine(spark, dir)
      .withColumn("nsq", Vectors.normSq("embedding"))
    IndexStore.rebalancePlan(refine, spark.read.parquet(s"$dir/centroids"),
        policy, dir) match {
      case None => false
      case Some(plan) =>
        val stagedRaw = plan.staged.localCheckpoint(true)
        // RE-ENCODE staged rows against their NEW centroid — the step
        // that distinguishes this from the flat-IVF rebalance
        val stagedResid = stagedRaw
          .join(broadcast(plan.cents.select(col("cid").as("list_id"),
            col("ce"))), "list_id")
          .withColumn("resid", expr(
            "zip_with(embedding, ce, (x, c) -> cast(x as double) - cast(c as double))"))
          .select("vec_id", "list_id", "resid")
        // per-subspace argmins in ONE aggregate (r19 — the
        // residualCodes/append fusion applied here too): the former
        // stack-unpivot + double groupBy ran TWO shuffles and exploded
        // the distance rows ×NumSub first; min_by per m over the same
        // (dsq, cid) order yields identical codes
        val codeCols = (0 until NumSub).map(m =>
          min_by(col("cid"), struct(col(s"d$m"), col("cid"))).as(s"code_$m"))
        val stagedCodes = stagedResid
          .crossJoin(broadcast(spark.read.parquet(s"$dir/codebook")))
          .select(col("vec_id") :: col("list_id") :: col("cid") ::
            (0 until NumSub).map(m =>
              subDistSqD("resid", "ce", m).as(s"d$m")).toList: _*)
          .groupBy("vec_id", "list_id")
          .agg(codeCols.head, codeCols.tail: _*)
        IndexStore.commitRebalance(spark, dir, plan, Seq(
          "codes" -> stagedCodes,
          "refine" -> stagedRaw.select("vec_id", "embedding", "list_id")))
        true
    }
  }

  /** J20 — a STREAM of query vectors answered from the SAVED composed
    * IVFPQ index (the online half of G26's serving story): the same
    * [[servedLut]] and [[Search.adc]] composition as
    * [[servedIvfPqKnn]] — every stage is a projection or a broadcast
    * stream-static join, so scores are BIT-equal to the batch serve
    * (spec-pinned). Candidates are every stored list (a stream cannot
    * collect its probe set for partition pruning); per-query top-k is
    * the collectTopK aggregate in UPDATE mode.
    */
  def ivfPqServeStream(queries: DataFrame, indexDir: String,
      candPred: Column): DataFrame = {
    val spark = queries.sparkSession
    Search.topK(
      Search.adc(loadIvfPqCodes(spark, indexDir).filter(candPred),
        servedLut(spark, indexDir, queries)),
      "sim", Seq("adist", "list_id"), K, sorted = false)
  }

  /** The per-(query, probed list) lookup table from the SAVED index:
    * the [[Search.probes]] residual route over the loaded centroids and
    * [[Search.lut]] over the loaded codebook (parquet round-trips
    * floats and doubles losslessly, so it equals [[ivfPqScores]]'
    * table).
    */
  private def servedLut(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    Search.lut(
      Search.probes(queries.withColumn("nq", Vectors.normSq("eq")),
        spark.read.parquet(s"$dir/centroids"), residual = true),
      spark.read.parquet(s"$dir/codebook"), "qres")

  /** The served stage-1 residual-ADC score frame — [[ivfPqScores]]
    * replayed from the loaded artifact, with the candidate scan bounded
    * by PARTITION PRUNING on the driver-collected probe set
    * (O(#queries × nProbe) ids — the serving-size quantity, never the
    * corpus). The table is checkpointed because it is read twice: the
    * probe-set collect and the ADC join.
    */
  private def servedIvfPqScores(spark: SparkSession, dir: String,
      queries: DataFrame, candPred: Column): DataFrame = {
    val lut = servedLut(spark, dir, queries).localCheckpoint(true)
    val probedIds = lut.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    Search.adc(loadIvfPqCodes(spark, dir)
      .filter(candPred && col("list_id").isin(probedIds: _*)), lut)
  }

  /** G26 — IVFPQ top-k served from the SAVED composed index: queries
    * arrive raw (the serve-time contract), every stored byte the ADC
    * stage touches is compressed, and unprobed lists are partition-
    * pruned out of the scan. Bit-identical to [[knnIvfPq]] on the
    * same corpus — the gate runs it against knn_ivfpq's oracle
    * VERBATIM (the G15/G16 persisted-lifecycle discipline).
    */
  def servedIvfPqKnn(spark: SparkSession, dir: String,
      queries: DataFrame, candPred: Column): DataFrame =
    Search.topK(servedIvfPqScores(spark, dir, queries, candPred),
      "sim", Seq("adist", "list_id"), K)

  /** G27 — the refine stage over the SAVED index ([[knnIvfPqRerank]]
    * served): [[Search.refine]] over the top-[[RerankR]] ADC
    * shortlist, with the raw vectors read from the `refine/` sidecar
    * partition-pruned to the shortlist's own lists. Gated by
    * knn_ivfpq_rerank's oracle verbatim.
    */
  def servedIvfPqRerank(spark: SparkSession, dir: String,
      queries: DataFrame, candPred: Column): DataFrame = {
    val shortlist = Search.topK(servedIvfPqScores(spark, dir, queries,
        candPred), "sim", Seq("adist", "list_id"), RerankR, sorted = false)
      .localCheckpoint(true) // read twice: list ids + the refine join
    val shortIds = shortlist.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    Search.refine(shortlist, queries, loadIvfPqRefine(spark, dir)
      .filter(candPred && col("list_id").isin(shortIds: _*)), fullDistSq, K)
  }

  /** G13 — `pq_recall` (and `ivfpq_recall` with `search` =
    * [[knnIvfPq]]): recall@k of an ADC search against exact
    * squared-L2 ground truth — the G6 measurement loop applied to the
    * compressed index (the number a serving team trades bytes, probes
    * and latency against). Both inputs are top-k outputs (queries × k
    * rows at any corpus size) so the eval join is free next to the
    * searches; queries the index misses entirely (a probe-bounded
    * search can miss whole lists) still surface with recall 0 via the
    * left join.
    */
  def recall(emb: DataFrame,
      search: DataFrame => DataFrame = knn): DataFrame = {
    val e = graft.Par.spread(emb.select("vec_id", "embedding"))
    val q = queriesOf(e)
    val c = e.filter(col("vec_id") >= QueryIds)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("dsq", fullDistSq(col("eq"), col("ec")))
      .withColumn("sim", -col("dsq"))
    val exact = graft.plans.AggExpressions
      .topKPerKey(scored, "query_id", "sim", "neighbor_id", Nil, K)
      .select("query_id", "neighbor_id")
    val adc = search(emb).select("query_id", "neighbor_id")
    val hits = adc.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    q.select("query_id").join(hits, Seq("query_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall", col("hits").cast("double") / K)
      .orderBy("query_id")
  }

  def encodeQ(spark: SparkSession, dir: String): DataFrame =
    encode(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def knnQ(spark: SparkSession, dir: String): DataFrame =
    knn(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def knnIvfPqQ(spark: SparkSession, dir: String): DataFrame =
    knnIvfPq(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def recallQ(spark: SparkSession, dir: String): DataFrame =
    recall(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def knnRerankQ(spark: SparkSession, dir: String): DataFrame =
    knnRerank(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def knnIvfPqRerankQ(spark: SparkSession, dir: String): DataFrame =
    knnIvfPqRerank(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def ivfPqRecallQ(spark: SparkSession, dir: String): DataFrame =
    recall(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      knnIvfPq)

  override def queries: Map[String, Q] = Map(
    "pq_encode" -> (encodeQ _),
    "knn_pq" -> (knnQ _),
    "knn_pq_rerank" -> (knnRerankQ _),
    "knn_ivfpq_given" -> (knnIvfPqQ _),
    "knn_ivfpq_rerank" -> (knnIvfPqRerankQ _),
    "pq_recall" -> (recallQ _),
    "ivfpq_recall" -> (ivfPqRecallQ _))

  /** Shared encode CTE chain: per-dimension rows with the subspace
    * index, quantized subspace distances vector × codeword, argmin
    * codes — the relational mirror of [[codes]].
    */
  private val encodeCtes =
    s"""WITH comp AS (SELECT vec_id, CAST(i AS INT) AS i,
      |         CAST((CAST(i AS INT) - 1) // $SubDim AS INT) AS m,
      |         CAST(CAST(embedding[CAST(i AS INT)] AS FLOAT) AS DOUBLE) AS v
      |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) u(i)),
      |dists AS (SELECT a.vec_id, a.m, b.vec_id AS cid,
      |         CAST(CAST(sum(CAST(CAST((a.v - b.v) * (a.v - b.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |       FROM comp a JOIN comp b
      |         ON a.i = b.i AND b.vec_id < $CodebookIds
      |       GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, m, cid AS code
      |       FROM (SELECT vec_id, m, cid,
      |               row_number() OVER (PARTITION BY vec_id, m
      |                 ORDER BY dsq ASC, cid ASC) AS rn
      |             FROM dists)
      |       WHERE rn = 1)""".stripMargin

  /** [[encodeCtes]] extended with the ADC ranking (LUTs → candidate
    * scores → per-query rank) — shared by the G11 oracle and the G24
    * rerank oracle's stage 1.
    */
  private val adcCtes = encodeCtes + s""",
    |luts AS (SELECT vec_id AS query_id, m, cid, dsq FROM dists
    |       WHERE vec_id < $QueryIds),
    |cand AS (SELECT vec_id AS neighbor_id, m, code FROM codes
    |       WHERE vec_id >= $QueryIds),
    |adist AS (SELECT l.query_id, c.neighbor_id,
    |         CAST(CAST(sum(CAST(CAST(l.dsq AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS adist
    |       FROM cand c JOIN luts l ON l.m = c.m AND l.cid = c.code
    |       GROUP BY 1, 2),
    |ranked AS (SELECT query_id, neighbor_id, adist,
    |         row_number() OVER (PARTITION BY query_id
    |           ORDER BY adist ASC, neighbor_id ASC) AS rank
    |       FROM adist)""".stripMargin

  /** The full IVFPQ CTE chain through the per-query ADC ranking —
    * shared by the G12 oracle and the G25 rerank oracle.
    */
  private def ivfPqCtes(
      candWhere: String = s"vec_id >= $QueryIds"): String =
    s"""WITH comp AS (SELECT vec_id, CAST(i AS INT) AS i,
      |         CAST((CAST(i AS INT) - 1) // $SubDim AS INT) AS m,
      |         CAST(CAST(embedding[CAST(i AS INT)] AS FLOAT) AS DOUBLE) AS v
      |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) u(i)),
      |norms AS (SELECT vec_id,
      |         CAST(CAST(sum(CAST(CAST(v * v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS nsq
      |       FROM comp GROUP BY vec_id),
      |cdots AS (SELECT a.vec_id, b.vec_id AS cid,
      |         CAST(CAST(sum(CAST(CAST(a.v * b.v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dot
      |       FROM comp a JOIN comp b
      |         ON a.i = b.i AND b.vec_id < $CodebookIds
      |       GROUP BY 1, 2),
      |assign AS (SELECT cdots.vec_id, cid AS list_id,
      |         row_number() OVER (PARTITION BY cdots.vec_id
      |           ORDER BY dot / (sqrt(nv.nsq) * sqrt(nc.nsq)) DESC,
      |                    cid ASC) AS rn
      |       FROM cdots JOIN norms nv ON cdots.vec_id = nv.vec_id
      |                  JOIN norms nc ON cdots.cid = nc.vec_id),
      |lists AS (SELECT vec_id, list_id FROM assign WHERE rn = 1),
      |rcomp AS (SELECT a.vec_id, a.i, a.m, l.list_id, a.v - c.v AS rv
      |       FROM comp a JOIN lists l ON a.vec_id = l.vec_id
      |         JOIN comp c ON c.vec_id = l.list_id AND c.i = a.i),
      |rdists AS (SELECT r.vec_id, r.list_id, r.m, cb.vec_id AS cid,
      |         CAST(CAST(sum(CAST(CAST((r.rv - cb.v) * (r.rv - cb.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |       FROM rcomp r JOIN comp cb
      |         ON cb.i = r.i AND cb.vec_id < $CodebookIds
      |       GROUP BY 1, 2, 3, 4),
      |rcodes AS (SELECT vec_id, list_id, m, cid AS code
      |       FROM (SELECT vec_id, list_id, m, cid,
      |               row_number() OVER (PARTITION BY vec_id, m
      |                 ORDER BY dsq ASC, cid ASC) AS rn
      |             FROM rdists)
      |       WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, list_id FROM assign
      |       WHERE vec_id < $QueryIds AND rn <= ${Ivf.GivenProbe}),
      |qres AS (SELECT p.query_id, p.list_id, a.i, a.m, a.v - c.v AS rv
      |       FROM probes p JOIN comp a ON a.vec_id = p.query_id
      |         JOIN comp c ON c.vec_id = p.list_id AND c.i = a.i),
      |luts AS (SELECT q.query_id, q.list_id, q.m, cb.vec_id AS cid,
      |         CAST(CAST(sum(CAST(CAST((q.rv - cb.v) * (q.rv - cb.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |       FROM qres q JOIN comp cb
      |         ON cb.i = q.i AND cb.vec_id < $CodebookIds
      |       GROUP BY 1, 2, 3, 4),
      |cand AS (SELECT vec_id AS neighbor_id, list_id, m, code FROM rcodes
      |       WHERE $candWhere),
      |adist AS (SELECT l.query_id, c.neighbor_id, c.list_id,
      |         CAST(CAST(sum(CAST(CAST(l.dsq AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS adist
      |       FROM cand c JOIN luts l
      |         ON l.list_id = c.list_id AND l.m = c.m AND l.cid = c.code
      |       GROUP BY 1, 2, 3),
      |ranked AS (SELECT query_id, neighbor_id, adist, list_id,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY adist ASC, neighbor_id ASC) AS rank
      |       FROM adist)""".stripMargin

  /** The G12 search oracle with a parameterized candidate filter —
    * the knn_ivf_deleted discipline applied to the composed index
    * (serving after a delete must equal the fresh search over the
    * surviving candidates).
    */
  private[sim] def ivfPqKnnSql(candWhere: String): String =
    ivfPqCtes(candWhere) + s"""
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  adist, list_id
      |FROM ranked WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  override def oracles: Map[String, String] = Map(
    "pq_encode" -> (encodeCtes + s"""
      |SELECT vec_id,
      |${(0 until NumSub).map(m =>
          s"  max(CASE WHEN m = $m THEN code END) AS code_$m")
          .mkString(",\n")}
      |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    "knn_pq" -> (adcCtes + s"""
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adist
      |FROM ranked WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin),
    // two-stage: ADC shortlist (rank <= R) -> exact quantized L2 over
    // ONLY those rows -> re-rank; the relational mirror of [[knnRerank]]
    "knn_pq_rerank" -> (adcCtes + s""",
      |short AS (SELECT query_id, neighbor_id, adist FROM ranked
      |       WHERE rank <= $RerankR),
      |ex AS (SELECT s.query_id, s.neighbor_id, s.adist,
      |         CAST(CAST(sum(CAST(CAST((a.v - b.v) * (a.v - b.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dist
      |       FROM short s
      |       JOIN comp a ON a.vec_id = s.query_id
      |       JOIN comp b ON b.vec_id = s.neighbor_id AND b.i = a.i
      |       GROUP BY 1, 2, 3),
      |rr AS (SELECT query_id, neighbor_id, dist, adist,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY dist ASC, neighbor_id ASC) AS rank
      |       FROM ex)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  dist, adist
      |FROM rr WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin),
    // IVFPQ given-quantizer twin: the G2c assignment/probe chain
    // (cosine routing) composed with residual-PQ codes and per-(query,
    // list) ADC tables — the relational mirror of [[knnIvfPq]],
    // replayed step for step. (The TRAINED production path is
    // `knn_ivfpq` in [[PqTrained]] — rows-only by design, like
    // knn_ivf.)
    "knn_ivfpq_given" -> (ivfPqCtes() + s"""
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  adist, list_id
      |FROM ranked WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin),
    // recall@k of the composed given-quantizer index vs exact
    // squared-L2 ground truth — the pq_recall tail over ivfPqCtes's
    // probe-bounded ranking
    "ivfpq_recall" -> (ivfPqCtes() + s""",
      |adck AS (SELECT query_id, neighbor_id FROM ranked
      |       WHERE rank <= $K),
      |edists AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         CAST(CAST(sum(CAST(CAST((a.v - b.v) * (a.v - b.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |       FROM comp a JOIN comp b
      |         ON a.i = b.i AND a.vec_id < $QueryIds
      |           AND b.vec_id >= $QueryIds
      |       GROUP BY 1, 2),
      |exk AS (SELECT query_id, neighbor_id
      |       FROM (SELECT query_id, neighbor_id,
      |               row_number() OVER (PARTITION BY query_id
      |                 ORDER BY dsq ASC, neighbor_id ASC) AS rank
      |             FROM edists)
      |       WHERE rank <= $K),
      |hits AS (SELECT a.query_id, count(*) AS hits
      |       FROM adck a JOIN exk e
      |         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |       GROUP BY 1)
      |SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
      |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / $K AS recall
      |FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
      |      WHERE vec_id < $QueryIds) q
      |LEFT JOIN hits h ON q.query_id = h.query_id
      |ORDER BY q.query_id""".stripMargin),
    // G25: residual-ADC shortlist (rank <= R) -> exact full-vector
    // quantized L2 -> re-rank; the relational mirror of
    // [[knnIvfPqRerank]]
    "knn_ivfpq_rerank" -> (ivfPqCtes() + s""",
      |short AS (SELECT query_id, neighbor_id, adist FROM ranked
      |       WHERE rank <= $RerankR),
      |ex AS (SELECT s.query_id, s.neighbor_id, s.adist,
      |         CAST(CAST(sum(CAST(CAST((a.v - b.v) * (a.v - b.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dist
      |       FROM short s
      |       JOIN comp a ON a.vec_id = s.query_id
      |       JOIN comp b ON b.vec_id = s.neighbor_id AND b.i = a.i
      |       GROUP BY 1, 2, 3),
      |rr AS (SELECT query_id, neighbor_id, dist, adist,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY dist ASC, neighbor_id ASC) AS rank
      |       FROM ex)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  dist, adist
      |FROM rr WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin),
    // recall@k: the knn_pq ADC chain next to exact squared-L2 ground
    // truth from the same component rows; hits via an IN-join.
    "pq_recall" -> (encodeCtes + s""",
      |luts AS (SELECT vec_id AS query_id, m, cid, dsq FROM dists
      |       WHERE vec_id < $QueryIds),
      |cand AS (SELECT vec_id AS neighbor_id, m, code FROM codes
      |       WHERE vec_id >= $QueryIds),
      |adist AS (SELECT l.query_id, c.neighbor_id,
      |         CAST(CAST(sum(CAST(CAST(l.dsq AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS adist
      |       FROM cand c JOIN luts l ON l.m = c.m AND l.cid = c.code
      |       GROUP BY 1, 2),
      |adck AS (SELECT query_id, neighbor_id
      |       FROM (SELECT query_id, neighbor_id,
      |               row_number() OVER (PARTITION BY query_id
      |                 ORDER BY adist ASC, neighbor_id ASC) AS rank
      |             FROM adist)
      |       WHERE rank <= $K),
      |edists AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         CAST(CAST(sum(CAST(CAST((a.v - b.v) * (a.v - b.v) AS VARCHAR)
      |              AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS dsq
      |       FROM comp a JOIN comp b
      |         ON a.i = b.i AND a.vec_id < $QueryIds
      |           AND b.vec_id >= $QueryIds
      |       GROUP BY 1, 2),
      |exk AS (SELECT query_id, neighbor_id
      |       FROM (SELECT query_id, neighbor_id,
      |               row_number() OVER (PARTITION BY query_id
      |                 ORDER BY dsq ASC, neighbor_id ASC) AS rank
      |             FROM edists)
      |       WHERE rank <= $K),
      |hits AS (SELECT a.query_id, count(*) AS hits
      |       FROM adck a JOIN exk e
      |         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |       GROUP BY 1)
      |SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
      |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / $K AS recall
      |FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
      |      WHERE vec_id < $QueryIds) q
      |LEFT JOIN hits h ON q.query_id = h.query_id
      |ORDER BY q.query_id""".stripMargin))
}
