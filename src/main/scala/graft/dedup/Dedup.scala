package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family (SURVEY §2 F) — the LLM-training-data ops.
  *
  * Cross-engine hash: the 32-bit value `conv(md5(s)[0:8], 16, 10)` —
  * md5 hex is identical everywhere, so Spark and the DuckDB oracle
  * derive identical integers. MinHash permutations are
  * `(a_k·x + b_k) mod p` with LCG-derived constants, all arithmetic
  * within long range.
  *
  * Shape: fully relational — explode shingles/tokens to rows, hash
  * once per row, then hash-aggregate. (A first cut computed signatures
  * with nested array higher-order functions; Catalyst's
  * CollapseProject inlines the lowered text into every lambda
  * evaluation, turning it O(len·shingles·hashes) per doc. Explodes
  * and aggregations are optimizer barriers, so each value is computed
  * exactly once — and per-row hashing is also the shape that scales:
  * map-side partial aggregation compresses (doc, k) minima before the
  * shuffle.)
  *
  * Candidate generation always goes through bucket keys (LSH bands /
  * simhash bands): the only join is co-partitioned on the bucket key —
  * never an O(n²) cross join. Exact verification (Jaccard, hamming)
  * runs only inside candidate pairs.
  */
object Dedup {

  val P = 1000000007L
  val NumHashes = 32
  val Rows = 4 // minhashes per band
  val Bands: Int = NumHashes / Rows // 8

  /** One row per (doc_id, distinct char-5-gram) — the row-shaped
    * face, used where a per-gram relation is genuinely needed (the
    * spec's brute-force oracle). The production pipeline uses
    * [[shingleSets]]: same content, two fewer shuffles.
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Par.spread(docs) // single-file scan: spread the explode+md5 work
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("txt"))
      .filter(length(col("txt")) >= 5)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(txt) - 4)")).as("i"), col("txt"))
      .select(col("doc_id"), expr("substring(txt, i, 5)").as("g"))
      .distinct()

  /** One row per doc: (doc_id, gs = distinct char-5-gram array).
    *
    * The set shape drops two whole shuffles versus rows: a global
    * `.distinct()` exchange becomes per-doc dedup inside ONE
    * collect_set aggregate — and since a doc's exploded gram rows are
    * co-located in its input partition, the partial aggregate builds
    * each set map-side and the exchange ships one compact set per
    * doc, already deduplicated. Downstream, signatures derive
    * per-element from the array ([[minhashBuckets]]) and exact
    * verification intersects two arrays per candidate pair
    * ([[jaccardVerify]]) instead of re-shuffling gram rows.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Par.spread(docs)
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("txt"))
      .filter(length(col("txt")) >= 5)
      // r19 (guide §2.4 + §1.2): the former explode + substring +
      // collect_set ran an ObjectHashAggregate (no whole-stage
      // codegen) and exchanged one set row per doc — DistinctShingles
      // computes the identical set (content; every consumer is
      // order-insensitive) inside the scan projection, no exchange.
      // The length filter keeps the aggregate form's contract: a doc
      // shorter than the window is ABSENT, not an empty set.
      .select(col("doc_id"),
        graft.plans.VectorExpressions.distinctShingles(col("txt"), 5).as("gs"))

  /** The k MinHash permutation parameters as a broadcastable table. */
  def hashParams(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until NumHashes).map { k =>
      (k.toLong,
        (1103515245L * (k + 1) + 12345L) % P,
        (1103515245L * (k + 101) + 12345L) % P)
    }.toDF("k", "a", "b")
  }

  /** F2 — MinHash signatures + banded LSH buckets from
    * [[shingleSets]]-shaped input, one row per (doc, band): hash each
    * set element in place, then one codegen pass derives all k
    * minima — no per-gram shuffle at any point. The permutation
    * constants are inlined arithmetic (same LCG as hashParams / the
    * DuckDB oracle).
    */
  /** (doc_id, mh = all-k MinHash signature array) from
    * [[shingleSets]]-shaped input.
    */
  def minhashSigs(sets: DataFrame): DataFrame =
    sets
      // explicit partition count: AQE would coalesce these few MB to
      // one partition and serialize the (compute-heavy) signature
      // derivation; byte-based coalescing is blind to CPU cost
      .transform(graft.Par.spreadBy(_, "doc_id"))
      // codegen Md5PrefixArray: the same 32-bit md5-prefix % P per
      // element as the former interpreted transform lambda
      .select(col("doc_id"),
        graft.plans.VectorExpressions.md5PrefixArray(col("gs"), P).as("xs"))
      // codegen MinHashSig: same LCG arithmetic as the DuckDB oracle,
      // primitive loop instead of nested interpreted lambdas
      .select(col("doc_id"),
        graft.plans.VectorExpressions.minhashSig(col("xs"), NumHashes, P)
          .as("mh"))

  def minhashBuckets(sets: DataFrame): DataFrame =
    bandBuckets(minhashSigs(sets))

  /** Banded LSH buckets from a (doc_id, mh) signature table. */
  def bandBuckets(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("mh"),
        explode(expr(s"sequence(0, ${Bands - 1})")).as("band"))
      .withColumn("bucket", expr(
        s"""aggregate(sequence(0, ${Rows - 1}), cast(0 as bigint),
           |  (acc, r) -> acc + element_at(mh, band * $Rows + r + 1)
           |              * cast(pow(31, r) as bigint))""".stripMargin))
      .select("doc_id", "band", "bucket")

  /** Candidate pairs from any (doc_id, band, bucket) table: a
    * self-join co-partitioned on the bucket key.
    */
  def bucketPairs(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val b = buckets.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard for candidate pairs from [[shingleSets]]-shaped
    * input: two hash joins pull each pair's sets, one array
    * intersection per pair — candidate count is O(near-dups), so no
    * gram rows ever shuffle for verification.
    */
  def jaccardVerify(pairs: DataFrame, sets: DataFrame, tau: Double): DataFrame =
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("ga")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double")
          / (size(col("ga")).cast("long") + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")

  /** F3 — 32-bit SimHash over distinct whitespace tokens:
    * tokens → hash/row → ⨯32 bit positions → majority vote per bit →
    * weighted sum. Three hash aggregates, all map-side combinable.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Same collect-then-fold shape as minhashBuckets/shingleSets: ONE
    // aggregate builds each doc's distinct token set (a doc's exploded
    // rows are co-located in its input partition, so the partial
    // aggregate dedups map-side and the exchange ships one compact set
    // per doc) — the former standalone `.distinct()` was a second
    // full (doc_id, token) exchange carrying the same information
    // (guide §2.4: a distinct on data the next aggregate re-groups
    // anyway is an accidental extra shuffle). Hashing moves into a
    // per-element transform over the set (the minhashSigs shape —
    // md5 work is identical, one eval per distinct token), and the
    // majority vote stays the single-pass codegen'd SimHashVote.
    graft.Par.spread(docs) // single-file scan: spread tokenize+hash
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .groupBy("doc_id").agg(collect_set("w").as("ws"))
      .transform(graft.Par.spreadBy(_, "doc_id")) // see minhashBuckets note on AQE
      .select(col("doc_id"),
        graft.plans.VectorExpressions.simHashVote(
          graft.plans.VectorExpressions.md5PrefixArray(col("ws"), -1L))
          .as("simhash"))
  }

  /** SimHash band width (bits) for an n-doc corpus: smallest W in
    * [8, 16] with n ≤ 64·2^W, so per-band bucket occupancy pins at
    * ~64 docs and candidate volume stays ~64·B·n instead of the
    * n²/2^W of a fixed geometry (the same knee `Knn.planesFor`
    * killed for knn_join in round 6). Integer ladder, NO float log:
    * a 1-ulp libm difference between engines at a power-of-two
    * boundary would flip the geometry — the oracle replays this
    * ladder as a CASE over the same thresholds. W is capped at 16
    * (two 16-bit bands must fit the 32-bit hash); past ~4.2M docs
    * occupancy grows again — the documented next step there is a
    * wider simhash, not more bands.
    */
  def simhashBandBits(n: Long): Int = {
    var w = 8
    while (w < 16 && n > 64L * (1L << w)) w += 1
    w
  }

  /** Bands for a width: floor(32 / W) — 4 bands at W=8 down to 2 at
    * W=16. Fewer, wider bands trade recall on distant pairs for the
    * pinned occupancy; the hamming verify keeps precision exact.
    */
  def simhashNumBands(w: Int): Int = 32 / w

  /** SimHash band buckets, geometry derived from the corpus size. */
  def simhashBuckets(sims: DataFrame, n: Long): DataFrame = {
    val w = simhashBandBits(n)
    val b = simhashNumBands(w)
    sims.select(col("doc_id"), col("simhash"),
        explode(expr(s"sequence(0, ${b - 1})")).as("band"))
      .withColumn("bucket", expr(
        s"shiftright(simhash, cast(band * $w as int)) & ${(1L << w) - 1}"))
      .select("doc_id", "band", "bucket")
  }

  /** F3 verify — hamming distance on candidate pairs. */
  def hammingVerify(pairs: DataFrame, sims: DataFrame, maxDist: Int): DataFrame = {
    val a = sims.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = sims.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("hamming", bit_count(expr("sim_a ^ sim_b")))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** F7 substring-dedup window width (chars). */
  val SubstrWin = 30

  /** F7 — cross-document repeated-substring profile (the exact
    * substring-dedup signal from "Deduplicating Training Data Makes
    * Language Models Better": verbatim text reuse shows up as long
    * character windows shared across documents, even when whole-doc
    * similarity is low). Every stride-1 window of [[SubstrWin]]
    * lower-cased chars is hashed; a window is *duplicated* when it
    * occurs in ≥ 2 distinct documents; each doc reports its distinct
    * window count, how many of those are cross-doc duplicated, and
    * the ratio (the "remove docs / spans above X% verbatim overlap"
    * filter a corpus pipeline thresholds on).
    *
    * Scale shape: linear in corpus size end-to-end — one explode to
    * (doc, window-hash) rows, per-doc dedup inside a map-side
    * combinable aggregate, ONE co-partitioned shuffle on the hash for
    * the cross-doc count, and a hash-join back. No doc×doc pairs
    * anywhere (the df aggregate collapses a viral window to one row),
    * so a boilerplate window shared by a million docs costs one
    * reducer row, not 10¹² join rows.
    */
  def substringDup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = SubstrWin): DataFrame = {
    val dw = graft.Par.spread(docs)
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("txt"))
      .filter(length(col("txt")) >= w)
      // 60-bit md5-prefix hash per window: the shuffle key is 8 bytes,
      // not a 32-char hex string; ~2^-61 per-pair collision odds (and
      // the oracle derives the identical integer, so even a collision
      // cannot split the gate). All windows hash in ONE kernel pass
      // per document (r19, guide §1.2): the former explode(sequence)
      // + per-row substring/md5/conv chain copied a substring,
      // hex-encoded the digest and re-parsed 15 chars per window —
      // SubstrWinHashes digests byte-buffer slices directly and is
      // integer-identical (SubstrWinHashesSpec).
      .select(col("doc_id"),
        explode(graft.plans.VectorExpressions
          .substrWinHashes(col("txt"), w)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("_occ")) // distinct (doc, h)
      .select("doc_id", "h")
      // eager: three plan branches below (df count, totals, dup join)
      // would each re-run the explode+hash chain under a lazy persist
      .localCheckpoint(true)
    val shared = dw.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val tot = dw.groupBy("doc_id").agg(count(lit(1)).as("n_win"))
    val dup = dw.join(shared, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ratio", col("n_dup").cast("double") / col("n_win"))
      .orderBy("doc_id")
  }

  /** Candidate grams with document frequency above this are excluded
    * from candidate *generation* (never from the exact verify): a
    * stop-phrase trigram shared by d documents would otherwise emit
    * d² join rows onto one reducer. Bounds any gram's join fanout at
    * MaxGramDf² while exact Jaccard still counts every shared gram.
    */
  val MaxGramDf = 128

  /** (doc_id, distinct word-trigram) rows. Trigrams come from zipping
    * the token array with its two shifted selves — no per-index
    * element_at arithmetic, so documents shorter than three tokens
    * yield an empty array instead of an out-of-bounds error (zip_with
    * null-pads the shorter side; the nulls are filtered).
    */
  def trigramRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("ws"))
      // r19 (guide §1.2): the former nested
      // zip_with/filter/array_distinct chain evaluated four
      // interpreted lambda levels per token — WordTrigrams emits the
      // identical array (values and first-occurrence order; pinned by
      // WordTrigramsSpec) in one codegen'd pass
      .select(col("doc_id"),
        explode(graft.plans.VectorExpressions.wordTrigrams(col("ws"))).as("g"))

  /** F4 — word-trigram Jaccard pairs: candidates from a df-capped
    * gram self-join (see [[MaxGramDf]]), exact Jaccard over the FULL
    * gram sets.
    *
    * The intersection splits as inter = shared-rare + shared-hot:
    * shared-rare falls out of the candidate self-join itself (one
    * pass, no re-verify join), and shared-hot is a correction join
    * that only touches each candidate pair's few hot grams — so the
    * exact Jaccard costs one bounded self-join plus a near-empty
    * patch, never a quadratic reducer on a stop-phrase gram.
    *
    * Recall bound: a pair is a candidate iff it shares at least one
    * rare (df ≤ [[MaxGramDf]]) gram, OR both docs consist entirely of
    * hot grams and their trigram-set MinHash signatures band-collide.
    * The all-hot fallback covers the template-corpus case (thousands
    * of boilerplate near-dups whose every gram is hot) without
    * reopening the quadratic reducer: those docs' candidates come
    * from banded LSH over their trigram sets, never a raw hot-gram
    * join. The one remaining blind spot — a MIXED pair (one doc has
    * rare grams, the other none shared) whose overlap is purely hot —
    * cannot reach jaccard ≥ tau unless hot grams dominate both docs,
    * in which case both docs are nearly-all-hot and band collision
    * catches them with MinHash's standard s^rows-band probability.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = {
    // grams feed the df count, both candidate sides, the hot patch,
    // and the per-doc sizes — ~7 plan branches. Eagerly materialize
    // (localCheckpoint, not lazy persist): the consumer's single
    // action would otherwise re-run the explode+distinct chain once
    // per branch while the cache is still filling.
    val grams = graft.Profiling.phase("ngram.grams") {
      trigramRows(docs, idCol, textCol).localCheckpoint(true) }
    val gdf = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // materialize the df-annotated gram frame ONCE: rare/hot are each
    // consumed by three downstream joins, and deriving them as
    // gram⋈gdf joins re-ran the df aggregate + shuffle per consumer
    // (a 60-exchange DAG at sf0.1 — scheduler pressure at scale);
    // as filters over one checkpointed frame each reuse is a scan
    val gramsDf = graft.Profiling.phase("ngram.gramsDf") {
      grams.join(gdf, "g").localCheckpoint(true) }
    // df >= 2: a gram in exactly ONE doc can never produce a pair in
    // the self-join below (doc_a < doc_b needs two docs sharing g) —
    // singleton grams are typically MOST rare grams, so pruning them
    // shrinks both self-join inputs without touching any pair's
    // shared-gram count (guide §2.3: shuffle fewer bytes). The
    // Jaccard denominators come from docStats (all grams), unchanged.
    val rare = gramsDf
      .filter(col("df") <= MaxGramDf && col("df") >= 2)
      .select("doc_id", "g")
    val hot = gramsDf.filter(col("df") > MaxGramDf).select("doc_id", "g")
    // candidate pairs are consumed by the hot-gram correction AND the
    // final Jaccard chain (materialize so the rare self-join runs
    // once); the per-doc stats aggregate is independent of it — the
    // two checkpoint builds overlap (guide §2.6)
    val Seq(interRare, docStats) = graft.Par.jobs[DataFrame](Seq(
      () => graft.Profiling.phase("ngram.interRare") {
        // (r19, measured-and-rejected: generating each gram's ordered
        // pairs from ONE collect_list aggregate — half the shuffled
        // rows — read 1.8-2.0 s vs 1.3 s here: the nested-transform
        // pair expansion evaluates interpreted, costing more than the
        // join's second exchange saves at this scale.)
        rare.select(col("doc_id").as("doc_a"), col("g"))
          .join(rare.select(col("doc_id").as("doc_b"), col("g")), "g")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ir"))
          .localCheckpoint(true)
      },
      // one per-doc aggregate serves BOTH the Jaccard denominators and
      // the all-hot membership test (a doc is all-hot iff its least-
      // frequent gram is still above the df cap)
      () => graft.Profiling.phase("ngram.docStats") {
        gramsDf.groupBy("doc_id")
          .agg(count(lit(1)).as("n"), min("df").as("mindf"))
          .localCheckpoint(true)
      }))
    val interHot = interRare.select("doc_a", "doc_b")
      .join(hot.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(hot.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ih"))
    val sizes = docStats.select("doc_id", "n")
    // all-hot fallback: docs with NO rare gram are invisible to the
    // rare self-join — band them by trigram-set MinHash instead
    val allHot = docStats.filter(col("mindf") > MaxGramDf).select("doc_id")
    val hotSh = hot.join(allHot, "doc_id").select("doc_id", "g")
    val interAllHot = bucketPairs(minhashBuckets(
        hotSh.groupBy("doc_id").agg(collect_set("g").as("gs"))))
      .join(hotSh.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(hotSh.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    interRare
      .join(interHot, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("ir") + coalesce(col("ih"), lit(0L))).as("inter"))
      .unionByName(interAllHot)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }
}
