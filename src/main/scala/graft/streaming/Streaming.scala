package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators (SURVEY §2 J) over the events stream.
  *
  * Each transform is written once against a DataFrame and works in
  * both batch and Structured Streaming: the batch run is the
  * driver-verified oracle, the streaming run (MemoryStream-fed in
  * specs) proves watermark/state semantics. At scale the stream is
  * partitioned by key (user/window), state lives in the state store,
  * and watermarks bound it — no unbounded driver structures.
  */
object Streaming {

  val SessionGapUs: Long = 30L * 60 * 1000000L // 30 min in microseconds

  /** J1 — tumbling 1-hour windows per event type. Works identically
    * on a bounded DataFrame and on readStream input.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("cast(sum(cast(value as decimal(27,6))) as double)").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** J1 streaming variant: watermarked, append-mode windowed agg. */
  def windowedCountsStream(events: DataFrame): DataFrame =
    windowedCounts(events.withWatermark("ts", "2 hours"))

  /** J2 — gap-based sessionization, batch form: a new session starts
    * when the gap to the previous event exceeds the threshold; the
    * session id is the running count of session starts. Exact integer
    * (nanosecond) arithmetic throughout.
    */
  def sessionize(events: DataFrame, gapUs: Long = SessionGapUs): DataFrame = {
    // microsecond precision: DuckDB (the oracle) truncates parquet
    // nanos to its native microsecond timestamps on read
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, n_events: Int, start_ms: Long,
      end_ms: Long)

  /** J2 streaming variant — explicit session state per user via
    * flatMapGroupsWithState with an EVENT-TIME timeout tied to the
    * session gap: once the watermark passes a session's last event +
    * gap, the state emits its session and is removed — per-user state
    * is bounded by active users within the watermark horizon, never
    * grows forever.
    */
  def sessionizeStream(events: Dataset[Event], gapMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session can never
            // be extended — close and drop the state
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.n, s.start, s.last))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case null => st = SessionState(t, t, 1)
                case s if t - s.last > gapMs =>
                  closed += SessionOut(user, s.n, s.start, s.last)
                  st = SessionState(t, t, 1)
                case s => st = SessionState(s.start, t, s.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              // clamp to just past the watermark: a late event can
              // leave last + gap at/behind it, and Spark rejects
              // timeouts not strictly ahead of the watermark
              state.setTimeoutTimestamp(math.max(st.last + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  case class FunnelState(viewMs: Long, clickMs: Long, purchaseMs: Long)
  case class FunnelOut(user_id: Long, stage: Int, at_ms: Long)

  /** J6 — the streaming face of K16's ordered funnel: per-user state
    * tracks the earliest view / click-after-view / purchase-after-
    * click; a row is emitted whenever the user's stage ADVANCES
    * (stage changes are monotone, so output is append-mode). State is
    * bounded two ways: a completed funnel (stage 3) drops its state
    * immediately, and an event-time timeout expires any funnel not
    * advanced within `windowMs` past the watermark — per-user state
    * never outlives the conversion window, the same discipline as the
    * session gap timeout.
    */
  def funnelStream(events: Dataset[Event], windowMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // conversion window closed without completing — drop
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" if st.viewMs < 0 =>
                  st = st.copy(viewMs = t); out += FunnelOut(user, 1, t)
                case "click" if st.viewMs >= 0 && st.clickMs < 0 &&
                    t > st.viewMs =>
                  st = st.copy(clickMs = t); out += FunnelOut(user, 2, t)
                case "purchase" if st.clickMs >= 0 && st.purchaseMs < 0 &&
                    t > st.clickMs =>
                  st = st.copy(purchaseMs = t); out += FunnelOut(user, 3, t)
                case _ => ()
              }
            }
            if (st.purchaseMs >= 0) {
              // funnel complete: no further advance possible
              if (state.exists) state.remove()
            } else if (st.viewMs >= 0) {
              state.update(st)
              val last = Seq(st.viewMs, st.clickMs, st.purchaseMs).max
              // watermark clamp — see sessionizeStream
              state.setTimeoutTimestamp(math.max(last + windowMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  case class TouchState(touch: String, atMs: Long)
  case class AttribOut(user_id: Long, purchase_ms: Long,
      touch_type: String)

  /** J8 — streaming face of the last-touch attribution query
    * ([[graft.analytics.EventOps.attribution]]): per-user state holds
    * only the most recent non-purchase touch (ONE tiny row per user,
    * not the event history); a purchase emits its credited channel
    * immediately in append mode. State expires via event-time timeout
    * once the attribution window passes the last touch — the same
    * bounded-state discipline as the session gap and funnel windows.
    */
  def attributionStream(events: Dataset[Event], windowMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[AttribOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[AttribOut]
            sorted.foreach { e =>
              if (e.event_type == "purchase")
                out += AttribOut(user, e.ts.getTime,
                  if (st == null) "(direct)" else st.touch)
              else st = TouchState(e.event_type, e.ts.getTime)
            }
            if (st != null) {
              state.update(st)
              // watermark clamp — see sessionizeStream: a late touch
              // can leave atMs + window at/behind the watermark
              state.setTimeoutTimestamp(math.max(st.atMs + windowMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** J3 — streaming dedup by key within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** J5 — streaming corpus ingestion: the continuous form of the
    * batch keep-list's quality ∧ exact-dup stages (L2): arriving
    * documents are content-hashed, deduplicated within the watermark
    * horizon (first arrival wins; the hash state is bounded by the
    * watermark, not the stream), and gated on the same H2 quality
    * thresholds the batch pipeline uses. What a training pipeline
    * runs between a document firehose and its corpus store.
    */
  def corpusIngestStream(docs: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame =
    graft.text.Analysis.quality(
        docs.withWatermark("ts", watermarkDelay)
          .withColumn("h", md5(col("text")))
          .dropDuplicates("h"),
        "text")
      .filter(col("n_tokens") >= graft.pipeline.Corpus.MinTokens &&
        col("stopword_ratio") <= graft.pipeline.Corpus.MaxStopwordRatio)
      .select("doc_id", "ts", "h", "n_tokens", "stopword_ratio")

  /** J9 — streaming model serving for the L10 learned corpus filter:
    * each arriving document scored by the BATCH-fitted margin — the
    * outlierStream lambda split (train batch, score continuously)
    * applied to the distilled quality model. Stateless, no watermark
    * or state store: the H2 metrics are already pure projections, and
    * the H5 repetition features are recomputed per-row from array
    * expressions (a stream can't run the batch groupBy shape;
    * per-doc cost O(distinct·len), bounded by document length, zero
    * shuffle) — producing the SAME feature doubles, so the stream
    * margin is bit-equal to the batch margin (spec-pinned).
    */
  def qualityScoreStream(docs: DataFrame,
      model: org.apache.spark.ml.classification.LogisticRegressionModel)
      : DataFrame = {
    val ws = split(lower(col("text")), " ")
    val dws = array_distinct(ws)
    graft.text.Analysis.quality(docs, "text")
      .filter(col("n_chars_m") > 0)
      .withColumn("n_distinct", size(dws))
      .withColumn("top_count",
        array_max(transform(dws, d => size(filter(ws, w => w === d)))))
      .withColumn("repetition_ratio",
        (col("n_tokens") - col("n_distinct")).cast("double")
          / nullif(col("n_tokens"), lit(0)))
      .withColumn("top_token_ratio",
        col("top_count").cast("double") / nullif(col("n_tokens"), lit(0)))
      .withColumn("margin",
        expr(graft.pipeline.QualityModel.marginSql(model)))
      .withColumn("pred_keep", col("margin") > 0)
      .select("doc_id", "ts", "margin", "pred_keep")
  }

  /** J10 — streaming PQ encode (the vector-store INGEST face of G10):
    * arriving vectors are product-quantized in a stateless projection.
    * The 16-codeword codebook packs into ONE static row
    * ([[graft.sim.Pq.packedCodebook]]); the stream-static broadcast
    * cross join pins one broadcast per micro-batch; per subspace the argmin
    * codeword is `array_min` over (distance, cid) structs — the
    * identical (dsq, cid) total order as the batch `min_by`, so
    * stream codes are BIT-EQUAL to batch [[graft.sim.Pq.encode]]
    * (spec-pinned). Zero shuffle, zero state: the shape that rides
    * an ingest firehose at any rate while the batch index rebuilds
    * on its own cadence (the J7 lambda split applied to G10).
    */
  def pqEncodeStream(vecs: DataFrame, corpus: DataFrame): DataFrame = {
    val cb = graft.sim.Pq.packedCodebook(corpus)
    val codeCols = (0 until graft.sim.Pq.NumSub).map { m =>
      val off = m * graft.sim.Pq.SubDim
      expr(s"""array_min(transform(cbk, kv -> named_struct(
        |  'd', qdistsq(embedding, kv.ce, $off, ${graft.sim.Pq.SubDim}),
        |  'cid', kv.cid))).cid""".stripMargin).as(s"code_$m")
    }
    vecs.crossJoin(broadcast(cb)).select(col("vec_id") +: codeCols: _*)
  }

  /** J7 — streaming anomaly flags (the streaming face of the batch
    * ts_outliers): arriving events join a PRECOMPUTED per-type stats
    * profile (a tiny broadcast stream-static join — the profile comes
    * from the batch aggregate over history, the standard lambda
    * split: training moments batch-refreshed, scoring continuous) and
    * rows beyond `zThreshold` standard deviations flow through in
    * append mode. Stateless — no watermark or store needed; the
    * static side pins one broadcast per micro-batch.
    */
  def outlierStream(events: DataFrame, stats: DataFrame,
      zThreshold: Double = 3.0): DataFrame = {
    val mean = col("s") / col("n")
    events.join(broadcast(stats), "event_type")
      .withColumn("sd", sqrt(col("sq") / col("n") - mean * mean))
      .withColumn("z", (col("value") - mean) / col("sd"))
      .filter(col("sd") > 0 && abs(col("z")) > zThreshold)
      .select("event_id", "event_type", "value", "z")
  }

  /** J16 — streaming face of K58's CDC snapshot diff: the NEW
    * snapshot arrives as a stream (tonight's load lands row by row)
    * and each arriving row is classified against the STATIC old
    * snapshot — insert (no old row) or update (any compared column
    * differs, same `chg_mask` bits) — through the batch face's
    * identical [[graft.relational.SnapshotDiff.classified]] algebra,
    * so emitted rows are BIT-EQUAL to the batch diff's (spec-pinned).
    * Stateless stream-static left join (the J7 lambda split: the old
    * snapshot is the batch-refreshed side, classification is
    * continuous) → append mode, no watermark or state store, each
    * input row emits at most once. HONEST delivery contract: a
    * row-by-row stream can never observe a DELETE (absence has no
    * arrival) — deletes are the batch face's to report after the load
    * completes; this face covers the insert/update surface a
    * continuously-ingesting consumer acts on.
    */
  def snapshotDiffStream(newRows: DataFrame, old: DataFrame): DataFrame =
    // no broadcast hint on the static side: the OLD snapshot is a
    // full prior table load in the deployment scenario — table-sized,
    // not dimension-sized — so the planner must stay free to pick a
    // shuffled stream-static join; a forced broadcast would gather
    // the whole prior snapshot on the driver
    graft.relational.SnapshotDiff.classified(
      graft.relational.SnapshotDiff.asNew(newRows).join(
        graft.relational.SnapshotDiff.asOld(old),
        col("k_new") === col("k_old"), "left"))

  /** J4 — stream-stream interval join (the streaming face of the
    * batch q_range_join): each click joined to the same user's
    * follow-up events within `windowSec`. Watermarks on BOTH sides
    * bound the join state — Spark derives from the interval condition
    * how long a buffered row can still match and evicts it once the
    * watermark passes, so state is O(active window), not O(stream).
    */
  def followWithinStream(clicks: DataFrame, others: DataFrame,
      windowSec: Int, watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val o = others.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("o_user"), col("ts").as("o_ts"),
        col("event_type").as("o_type"))
    c.join(o, col("o_user") === col("user_id") &&
      col("o_ts") > col("c_ts") &&
      col("o_ts") <= col("c_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select("click_id", "user_id", "c_ts", "o_ts", "o_type")
  }

  /** J12 — streaming face of K36's deterministic HLL: the register
    * table (event_type, j, mj) maintained continuously over an event
    * stream in UPDATE mode.
    *
    * The sketch state IS the streaming aggregate: max() per register
    * is idempotent and commutative, so no watermark is needed — state
    * is bounded at O(groups × 64) REGARDLESS of stream volume or
    * duplication, the property that makes HLL the canonical streaming
    * cardinality sketch. The batch estimate assembly (grid join +
    * one division) reads the register table on its own cadence — the
    * J7 lambda split, with the stream maintaining the mergeable state
    * instead of a score. Register values are BIT-EQUAL to the batch
    * [[graft.relational.Sketches.hllRegisters]] because it IS the
    * same body (spec-pinned).
    */
  def hllRegisterStream(events: DataFrame): DataFrame =
    graft.relational.Sketches.hllRegisters(events)

  /** J13 — streaming face of K37's count-min sketch: the counter grid
    * (r, b, c) maintained continuously in UPDATE mode.
    *
    * Same bounded-state story as J12 — O(d·w) = 768 cells regardless
    * of stream volume — but the OPPOSITE delivery contract: counters
    * are ADDITIVE (a count aggregate), not max-idempotent, so a
    * re-delivered row inflates its d cells. Under effectively-once
    * delivery the stream state is bit-equal to the batch
    * [[graft.relational.Sketches.cmsCounters]] (it IS the same body);
    * under at-least-once it over-counts by exactly the re-delivered
    * mass — still never an undercount, so est ≥ exact survives
    * re-delivery (both pinned in spec). Estimate/top-k assembly reads
    * the counter table on its own cadence, the J7/J12 lambda split.
    */
  def cmsCounterStream(events: DataFrame): DataFrame =
    graft.relational.Sketches.cmsCounters(events)

  /** J18 — streaming maintenance of the K69 per-partition BLOOM INDEX:
    * the (day, word, bits) grid kept continuously in UPDATE mode, so
    * point-probe pruning metadata is current the moment a row lands
    * instead of waiting for the nightly footer rebuild. Same bounded
    * state as J12 (O(days × [[graft.relational.BloomJoin.BixWords]])
    * words at any volume) and the same delivery contract: bit_or is
    * idempotent AND monotone, so at-least-once re-delivery is exactly
    * a no-op and no watermark is needed. Words are bit-equal to the
    * batch [[graft.relational.BloomJoin.bloomIndexWords]] because it
    * IS the same body (spec-pinned); the report assembly (probe
    * membership, fill, skippability) reads the grid on its own
    * cadence — the J7/J12 lambda split.
    */
  def bloomIndexStream(events: DataFrame): DataFrame =
    graft.relational.BloomJoin.bloomIndexWords(events)

  /** J14 — streaming face of K35/K40's KMV bottom-k state,
    * completing the streaming sketch trio's delivery-contract
    * spectrum: HLL registers merge by max (J12, idempotent), CMS
    * counters by sum (J13, additive — re-delivery inflates), and the
    * KMV set by bounded distinct-insert (idempotent like max, but
    * carrying the ORDER STATISTICS that give exact-below-K counts and
    * the theta set algebra). State is O(groups × K) longs at any
    * volume; a re-delivered row re-inserts an already-present hash —
    * a no-op, so no watermark is needed and at-least-once delivery is
    * exact. The dedup lives INSIDE the aggregate's bounded state
    * ([[graft.plans.BottomKLongsDistinct]]) — a streaming distinct-
    * then-heap would need an unbounded dedup store. Estimate/theta
    * assembly stays batch-side on its own cadence (the lambda split);
    * emitted arrays bit-equal the batch [[graft.relational.Sketches
    * .kmvBottomK]] because it IS the same body (spec-pinned).
    */
  def kmvSketchStream(events: DataFrame): DataFrame =
    graft.relational.Sketches.kmvBottomK(
      graft.relational.Sketches.kmvHashes(events))

  /** J15 — continuous maintenance of the PERSISTED sketch store
    * ([[graft.relational.SketchStore]]): each micro-batch's day
    * states merge into the day-partitioned artifact via
    * `upsertBatch` (read touched days only, re-aggregate, dynamic-
    * overwrite those partitions). Where J12-J14 hold sketch state in
    * the streaming state store for the CURRENT answer, this face
    * keeps the offline artifact current, so batch rollups (K41-K44)
    * are always answerable from parquet without a daily job — the
    * lambda architecture collapsed to one writer. foreachBatch is the
    * right tool: the sink is a partitioned parquet MERGE, which no
    * streaming output mode expresses. foreachBatch is at-least-once,
    * so the batch id is RECORDED in the store (`_applied_batches/`)
    * and a completed batch's replay is a no-op — without that, a
    * crash-replay would permanently double the additive families
    * (see [[graft.relational.SketchStore.upsertBatchOnce]] for the
    * remaining mid-upsert window and the per-family delivery
    * contracts, all spec-pinned).
    */
  def sketchStoreStream(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.relational.SketchStore.upsertBatchOnce(batch, path, batchId)
      }

  /** J17 — the CDC CONSUMER face closing the streaming arc J16
    * opened: the change feed classified against the static old
    * snapshot (the J16 algebra, WIDE — it must carry the full new
    * images to reconstruct rows) lands idempotently in a versioned
    * [[graft.relational.SnapshotStore]] via foreachBatch, each
    * micro-batch becoming one store version (the at-least-once
    * replay guard is the store's batch-id marker). Same honest
    * contract as J16: a row-by-row stream never observes deletes, so
    * the store converges to old ∘ (inserts ∪ updates) — spec-pinned
    * bit-equal to the batch apply over the delete-free diff.
    */
  def snapshotDiffStreamWide(newRows: DataFrame, old: DataFrame): DataFrame =
    graft.relational.SnapshotDiff.classifiedWide(
      graft.relational.SnapshotDiff.asNew(newRows).join(
        graft.relational.SnapshotDiff.asOld(old),
        col("k_new") === col("k_old"), "left"))

  def snapshotApplyStream(diffWide: DataFrame, storeDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    diffWide.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.relational.SnapshotStore.applyDiffOnce(
          batch.sparkSession, storeDir, batch, batchId)
      }

  /** J19 — the GDPR PURGE face completing the compliance arc the way
    * J17 completed ingestion: a stream of right-to-be-forgotten
    * requests (rows carrying `o_orderkey`) consumed via foreachBatch
    * into [[graft.relational.SnapshotStore.purgeKeys]], which
    * rewrites EVERY retained version through
    * [[graft.FsOps.swapDir]]. No batch-id marker is needed here — the purge is
    * idempotent by ALGEBRA (the anti join of an already-purged
    * version removes nothing), so at-least-once re-delivery of a
    * request micro-batch is exactly a no-op (spec-pinned), and a
    * LATER batch's purge composes (anti joins commute). The
    * `_current` pointer is never touched: requests change content,
    * not visibility.
    */
  /** J21 — the INGEST face completing the persisted IVFPQ index's
    * streaming arc (J20 serves queries from the saved index; this is
    * how vectors ARRIVE): each micro-batch of (vec_id, embedding)
    * rows appends through [[graft.sim.Pq.appendIvfPqOnce]] — assign
    * against the SAVED coarse quantizer, residual-encode against the
    * SAVED codebook, append packed codes + refine rows into the
    * partitioned layouts; existing lists are never read or rewritten,
    * so per-batch work is O(batch). foreachBatch is at-least-once, so
    * the batch id is recorded in the index (`_appended/`) and a
    * crash-replayed batch whose marker landed is a no-op — without
    * the marker a replay would permanently duplicate vectors
    * (spec-pinned). The marker narrows, not closes, the window: the
    * append is two write jobs and the marker commits after both, so a
    * crash between an append commit and the marker still re-appends
    * on replay — see [[graft.sim.Pq.appendIvfPqOnce]]'s residual-
    * window caveat (the applyDiffOnce trade). Serving after
    * any prefix of batches equals a fresh index over the vectors so
    * far (the G28 identity: assignment and encoding are per-vector
    * under a pinned quantizer).
    */
  def ivfPqIngestStream(vectors: DataFrame, indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // an empty micro-batch appends nothing; skip the no-op write
        if (!batch.isEmpty)
          graft.sim.Pq.appendIvfPqOnce(
            batch.select("vec_id", "embedding"), indexDir, batchId)
      }

  /** J24 — the INGEST face for the TRAINED IVFPQ index (the J21
    * pattern on G34): micro-batches of (vec_id, embedding) rows
    * assign against the SAVED √n-list quantizer and encode against
    * the SAVED codebook through [[graft.sim.PqTrained.appendTrainedOnce]]
    * — O(batch)·√n per batch, existing lists never read. Batch-id
    * markers make at-least-once re-delivery a no-op; single-layout
    * index, so the marker's residual window is one write job.
    */
  def ivfPqTrainedIngestStream(vectors: DataFrame, indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.sim.PqTrained.appendTrainedOnce(
            batch.select("vec_id", "embedding"), indexDir, batchId)
      }

  /** J22 — the INGEST face for the saved BM25 index (the J21 pattern
    * on D10): each micro-batch of NEW documents appends through
    * [[graft.text.Bm25.appendSavedOnce]] — tokenize only the batch,
    * append its postings and doc lengths, bump the additive totals;
    * per-batch work is O(batch), which is exactly why a streaming
    * corpus feed belongs on the BM25 artifact (Lucene's argument).
    * foreachBatch is at-least-once, so the batch id is recorded in
    * the index (`_appended/`) and a crash-replayed batch whose marker
    * landed is a no-op; see appendSavedOnce's residual-window caveat.
    * Serving after any prefix of batches equals a fresh index over
    * the documents so far (spec-pinned).
    */
  def bm25IngestStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.text.Bm25.appendSavedOnce(
            batch, idCol, textCol, indexDir, batchId)
      }

  /** J23 — the INGEST face for the saved tf-idf index: identical
    * arrival contract to [[bm25IngestStream]] (batch-id idempotent,
    * new ids only), but each batch pays the rederive of the globally
    * idf-coupled layers — O(index) arithmetic, no re-tokenization
    * (see [[graft.text.Tfidf.appendSavedOnce]]). The right cadence is
    * therefore micro-batches of meaningful size (or a trigger that
    * coalesces), not per-document commits.
    */
  def tfidfIngestStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.text.Tfidf.appendSavedOnce(
            batch, idCol, textCol, indexDir, batchId)
      }

  def snapshotPurgeStream(requests: DataFrame, storeDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // an empty micro-batch purges nothing but would still rewrite
        // every version; skip the no-op rewrite
        if (!batch.isEmpty)
          graft.relational.SnapshotStore.purgeKeys(
            batch.sparkSession, storeDir, batch)
      }
}
