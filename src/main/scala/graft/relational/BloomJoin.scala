package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fp, QueryModule}
import graft.sources.Tables

/** K66 — Bloom-filter SEMI-JOIN REDUCTION: the runtime-filter pattern
  * (Spark's own InjectRuntimeFilter, Delta's dynamic file pruning)
  * surfaced as an explicit, deterministic operator. The deployment
  * story completes the join-acceleration trio the skew report opened:
  * K53 diagnoses a join's key distribution, K64 salts the hot head,
  * and this cuts the SHUFFLE VOLUME when the dim side is selective —
  * at 100 TB, shuffling 80 TB of fact rows that a 32 KB filter could
  * have dropped at the scan is the single largest avoidable cost in a
  * selective star join.
  *
  * The filter is a classic (m, k) Bloom bitset, built DISTRIBUTED and
  * DETERMINISTIC (unlike `DataFrameStatFunctions.bloomFilter`, whose
  * driver-side sketch is seed-stable but opaque to an oracle):
  *
  *  - k = [[BloomK]] positions per key from the shared 48-bit md5
  *    family (tags `bf0|`,`bf1|`), pos = h48 mod [[BloomBits]];
  *  - the bitset builds as ONE map-side-combined aggregate — positions
  *    group to 64-bit words by `bit_or` (idempotent, so duplicate dim
  *    keys cost nothing), ONE row assembles the dense
  *    [[BloomWords]]-long word array inside the executors, and the
  *    constant 32 KB result lands in the plan as a LITERAL (the
  *    boundary-literals bounded collect — see [[bloomWordsOf]] for
  *    why a literal beats a broadcast join here);
  *  - the fact-side membership test is a whole-stage-codegen'd filter
  *    directly above the scan (element_at + mask per hash, one shared
  *    md5), applied BEFORE the join shuffle.
  *
  * False positives are dropped by the real join that follows, so the
  * transform is semantics-free — which is exactly what the
  * `q_bloom_join` gate proves: its oracle is the PLAIN SQL join. The
  * `bloom_join_stats` gate goes further and replays the BLOOM ITSELF
  * cross-engine (positions → words → membership → fp/fn counts), so
  * the bit algebra — not just the end result — is oracle-checked; its
  * `n_fn` column is the no-false-negatives invariant as data.
  *
  * Scale shape: filter size is CONSTANT (32 KB at the default m) —
  * independent of either side's row count; the build reads the dim
  * side once map-side; the probe adds k md5s per fact row and removes
  * (1 − selectivity − fp) of the shuffle. Reference has no join
  * planner at all (pandas merges in memory, app/main.py); this is the
  * operator its workload needs the day one table stops fitting.
  */
object BloomJoin extends QueryModule {

  /** Filter bits: 2^18 = 32 KB of words — broadcast-trivial, and at
    * n = 30k dim keys (sf0.1 fixture) the (m, k=2) false-positive
    * rate lands ≈ 4%.
    */
  val BloomBits = 262144
  val BloomWords: Int = BloomBits / 64
  val BloomK = 2

  // both positions slice ONE 48-bit md5 (Kirsch-Mitzenmacher double
  // hashing: two disjoint log2(m)-bit fields of the same hash) — the
  // membership probe costs one md5 per fact row, not k. The gate
  // fixture uses the fixed [[BloomBits]]; a deployment sizes m to the
  // dim ndv (the K38 bloomMExpr discipline — StressJoin exercises
  // that path at ×12/×24 amplification).
  private def shiftOf(bits: Long): Int =
    java.lang.Long.numberOfTrailingZeros(bits)

  private def posExprM(i: Int, key: String, bits: Long): String =
    s"((${Sketches.h48("bf", key)} div ${1L << (shiftOf(bits) * i)}) % $bits)"

  // the slice offset derives from BloomBits exactly like posExprM's —
  // retuning BloomBits cannot desynchronize the oracle replay
  private def sqlPos(i: Int, key: String): String =
    s"((${Sketches.sqlH48("bf", key)} // ${1L << (shiftOf(BloomBits.toLong) * i)}) % $BloomBits)"

  /** Membership of `key` in the constant word array — the codegen'd
    * [[graft.plans.BloomMember]] expression, which evaluates the md5
    * child exactly once per row (see its Scaladoc for why SQL-level
    * composition costs 4×).
    */
  private def memberCondM(words: Array[Long], key: String,
      bits: Long): Column =
    graft.plans.VectorExpressions.bloomMember(
      expr(Sketches.h48("bf", key)), words, bits, BloomK, shiftOf(bits))

  private def memberCond(words: Array[Long], key: String): Column =
    memberCondM(words, key, BloomBits.toLong)

  /** The word array collected to a CONSTANT — [[BloomWords]] longs,
    * 32 KB regardless of either side's row count (the
    * boundary-literals bounded-collect pattern; Spark's own
    * InjectRuntimeFilter ships its bloom to the scan the same way).
    * The build is ONE map-side-combined bit_or aggregate over the dim
    * keys' exploded positions (bit_or idempotent → duplicate keys
    * free; one md5 per key — positions are slices of it, and the
    * Generate input is a projection, where Catalyst DOES eliminate
    * the common subexpression). Collecting a constant rather than
    * cross-joining a 1-row frame matters for the PROBE plan: as a
    * constant inside [[graft.plans.BloomMember]], the membership test
    * is a whole-stage-codegen'd Filter directly above the fact scan;
    * as a broadcast-join condition it is evaluated per-row outside
    * codegen with the md5 re-evaluated per textual slice (measured
    * 3.5× slower end-to-end at sf0.1). An empty dim yields the
    * all-zero array, which rejects every probe — the correct
    * degenerate.
    */
  // collect SPARSE (word, bits) rows (≤ bits/64, same bound) and
  // densify in plain Scala — the 1-row dense-frame route pays an
  // O(words²) linear-scan map lookup inside `transform(sequence…)`
  // (ArrayBasedMapData has no hash index; measured ~1.5 s of the
  // build at sf0.1, vs ~0.3 s sparse)
  private[graft] def bloomWordsOfM(dim: DataFrame, dimKey: String,
      bits: Long): Array[Long] = {
    val positions = (0 until BloomK).map(i =>
      expr(posExprM(i, dimKey, bits)))
    // null dim keys never match an equi-join, and a null key's null
    // position would collect as a (w=null, bits=null) row whose
    // getLong-unboxed 0 ZEROES word 0 — dropping real keys' bits and
    // breaking the no-false-negatives invariant
    val sparse = dim.filter(col(dimKey).isNotNull)
      .select(explode(array(positions: _*)).as("pos"))
      .groupBy(expr("pos div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("bits"))
      .collect()
    val words = new Array[Long]((bits / 64).toInt)
    sparse.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** [[bloomFiltered]] with an explicit filter size (m must be a
    * power of two with 2·log2(m) ≤ 48) — the deployment path that
    * sizes m to the dim ndv; the gate keeps the fixed default.
    */
  def bloomFilteredM(facts: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String, bits: Long): DataFrame = {
    require(java.lang.Long.bitCount(bits) == 1 && bits >= 64 &&
      2 * shiftOf(bits) <= 48,
      s"m=$bits not a valid slice geometry (need a power of two in " +
        "[64, 2^24] so the word array is non-empty)")
    facts.filter(memberCondM(bloomWordsOfM(dim, dimKey, bits),
      factKey, bits))
  }

  private[graft] def bloomWordsOf(dim: DataFrame,
      dimKey: String): Array[Long] =
    bloomWordsOfM(dim, dimKey, BloomBits.toLong)

  /** `facts` filtered to rows whose `factKey` MIGHT appear in
    * `dim.dimKey` — no false negatives, bounded false positives; the
    * reduction lands before the fact shuffle, where it pays.
    */
  def bloomFiltered(facts: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    facts.filter(memberCond(bloomWordsOf(dim, dimKey), factKey))

  // --- gate fixture ----------------------------------------------------

  private def dimOf(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")

  private def factsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice", "l_returnflag")

  /** K66 gate — lineitem bloom-pre-filtered against the ~20%-selective
    * urgent-orders dim, then plainly joined and aggregated. Oracle =
    * the PLAIN join: hash equality proves the bloom pre-filter changed
    * the execution and nothing else.
    */
  def bloomJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val dim = dimOf(spark, dir)
    bloomFiltered(factsOf(spark, dir), "l_orderkey", dim, "o_orderkey")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        Fp.dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** K66b gate — the filter's own effectiveness report, one row:
    * facts seen / true matches / bloom passes / false positives /
    * false negatives (the invariant: always 0) / fp rate among
    * non-matching facts in ppm. The oracle REPLAYS the bloom bit
    * algebra in SQL, so both engines agree on every bit of the
    * filter, not merely on the joined result.
    */
  def bloomJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val dim = dimOf(spark, dir)
    factsOf(spark, dir)
      .withColumn("pass",
        memberCond(bloomWordsOf(dim, "o_orderkey"), "l_orderkey"))
      .join(dim, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .withColumn("is_match", col("o_orderkey").isNotNull)
      .agg(count(lit(1)).as("n_facts"),
        sum(when(col("is_match"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("pass") && !col("is_match"), 1L).otherwise(0L))
          .as("n_fp"),
        sum(when(!col("pass") && col("is_match"), 1L).otherwise(0L))
          .as("n_fn"))
      .withColumn("fp_ppm",
        expr("(n_fp * 1000000) div nullif(n_facts - n_match, 0)"))
      .select("n_facts", "n_match", "n_pass", "n_fp", "n_fn", "fp_ppm")
  }

  // --- K69: per-partition bloom index ----------------------------------

  /** Per-PARTITION filter bits — sized like a parquet footer bloom:
    * 2^15 bits = 512 words per day; at the sf0.1 fixture (~2-3k
    * distinct users/day) the fp rate lands ~1-2%.
    */
  val BixBits = 32768
  val BixWords: Int = BixBits / 64

  // same one-md5 double hashing as the join filter: two disjoint
  // 15-bit slices of a single 48-bit hash
  private def bixPos(i: Int, key: String): String =
    s"((${Sketches.h48("bi", key)} div ${1L << (15 * i)}) % $BixBits)"

  private def sqlBixPos(i: Int, key: String): String =
    s"((${Sketches.sqlH48("bi", key)} // ${1L << (15 * i)}) % $BixBits)"

  /** K69 gate — the per-partition BLOOM INDEX report: what POINT-probe
    * pruning the day layout buys a reader (the complement of K56's
    * zone maps, which answer RANGE pruning on the sort column — a
    * point lookup on a non-layout column like user_id prunes only
    * through per-partition blooms, which is exactly what parquet
    * footer bloom filters and Delta's bloom index are). Per day
    * partition: rows, exact distinct users, the bloom's set-bit count
    * and fill ppm, whether a deterministic probe user (the global min
    * user_id) is actually present, and whether the bloom lets the
    * reader SKIP the partition. A `present ∧ can_skip` row would be a
    * false negative — the invariant the spec pins and the gate hashes
    * (the fp case, `¬present ∧ ¬can_skip`, is visible as data).
    *
    * Scale shape: the per-day word grid builds in ONE explode +
    * map-side-combined groupBy (O(days × words) state); the stats
    * branch is one more pass; everything downstream runs on the
    * O(days)-row metadata frame. The probe user is a broadcast 1-row
    * aggregate, never a collect.
    */
  /** The per-(day, word) bit grid from a (ts, user_id) event frame —
    * the shared body of the batch report and the streaming face
    * ([[graft.streaming.Streaming.bloomIndexStream]]): a plain
    * groupBy-bit_or, so it runs in UPDATE mode on a stream with
    * O(days × words) state; bit_or is idempotent AND monotone, so a
    * re-delivered row is a no-op (the J12 register contract).
    */
  private[graft] def bloomIndexWords(events: DataFrame): DataFrame = {
    val positions = (0 until BloomK).map(i => expr(bixPos(i, "user_id")))
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .select(col("day"), explode(array(positions: _*)).as("pos"))
      .groupBy(col("day"), expr("pos div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("bits"))
  }

  def bloomIndexReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val probe = ev.agg(min("user_id").as("probe_user"))
    val words = bloomIndexWords(Tables.events(spark, dir))
    val perDayBloom = words
      .crossJoin(broadcast(probe))
      .groupBy("day")
      .agg(sum(expr("bit_count(bits)")).as("n_bits_set"),
        // boolean-ize BEFORE max: a bit-63 mask makes `bits & mask`
        // negative in two's-complement longs, and max() would prefer
        // the 0 of a non-probe word over the set bit
        max(expr(s"""case when w = ${bixPos(0, "probe_user")} div 64
          | and (bits & shiftleft(1L,
          |   cast(${bixPos(0, "probe_user")} % 64 as int))) != 0
          | then 1L else 0L end""".stripMargin)).as("m0"),
        max(expr(s"""case when w = ${bixPos(1, "probe_user")} div 64
          | and (bits & shiftleft(1L,
          |   cast(${bixPos(1, "probe_user")} % 64 as int))) != 0
          | then 1L else 0L end""".stripMargin)).as("m1"))
      .withColumn("can_skip", !(col("m0") === 1L && col("m1") === 1L))
      .drop("m0", "m1")
    val perDayStats = ev
      .crossJoin(broadcast(probe))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("user_id").as("n_users"),
        max(when(col("user_id") === col("probe_user"), 1L).otherwise(0L))
          .as("present_i"),
        max("probe_user").as("probe_user"))
      .withColumn("present", col("present_i") === 1L)
      .drop("present_i")
    perDayStats.join(perDayBloom, "day")
      .withColumn("fill_ppm",
        expr(s"(n_bits_set * 1000000) div $BixBits"))
      .select("day", "n_rows", "n_users", "n_bits_set", "fill_ppm",
        "probe_user", "present", "can_skip")
      .orderBy("day")
  }

  // --- K74: the persisted bloom sidecar + pruned point lookup ---------

  /** JVM mirror of the shared 48-bit md5 family — bit-identical to
    * [[Sketches.h48]] (md5 of `tag|value`, first 12 hex chars as a
    * long), for computing a probe's positions driver-side.
    */
  private[graft] def h48Jvm(tag: String, v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag|$v".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16)
  }

  /** Build and persist the per-BATCH bloom sidecar for a compacted
    * layout ([[Compactor.loadCompacted]] shape): (grp, w, bits) rows,
    * one (m=[[BixBits]], k=2) bloom over `user_id` per batch
    * directory — the parquet-footer-bloom / Delta bloom-index
    * artifact as an explicit table. ONE map-side-combined aggregate
    * over the layout; O(batches × [[BixWords]]) output; committed
    * by [[graft.FsOps.swapDir]].
    */
  def saveBatchBlooms(layout: DataFrame, indexPath: String): Unit = {
    val spark = layout.sparkSession
    val positions = (0 until BloomK).map(i => expr(bixPos(i, "user_id")))
    val staged = s"${indexPath}_staging"
    layout
      .select(col("grp"), explode(array(positions: _*)).as("pos"))
      .groupBy(col("grp"), expr("pos div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("bits"))
      .write.mode("overwrite").parquet(staged)
    graft.FsOps.swapDir(graft.FsOps.fs(spark, staged), staged, indexPath)
  }

  /** K74 — the POINT LOOKUP that ACTS on the bloom sidecar: for a
    * probe user, consult the index for the batches that MIGHT contain
    * it (no false negatives — identity with the unpruned filter is
    * guaranteed and gated) and read ONLY those `grp=` directories
    * (partition-pruned scan), then apply the exact predicate. The
    * batch list is one bounded driver collect (≤ #batches — the
    * probe-set pattern); the index read touches at most 2k word rows
    * per batch via the probe's position filter.
    */
  def prunedLookup(spark: SparkSession, layoutPath: String,
      indexPath: String, probeUser: Long): DataFrame = {
    val ps = (0 until BloomK).map(i =>
      (h48Jvm("bi", probeUser.toString) >>> (15 * i)) % BixBits)
    val wordIdx = ps.map(_ / 64L)
    val words = spark.read
      .schema("grp BIGINT, w BIGINT, bits BIGINT").parquet(indexPath)
      .filter(col("w").isin(wordIdx: _*))
    val memberCols = ps.zipWithIndex.map { case (p, i) =>
      // boolean-ized before max (the K69 two's-complement lesson)
      max(when(col("w") === (p / 64L) &&
        expr(s"(bits & shiftleft(1L, ${(p % 64).toInt})) != 0"), 1L)
        .otherwise(0L)).as(s"m$i")
    }
    val keep = words.groupBy("grp")
      .agg(memberCols.head, memberCols.tail: _*)
      .filter((0 until BloomK).map(i => col(s"m$i") === 1L).reduce(_ && _))
      .select("grp").collect().map(_.getLong(0))
    Compactor.loadCompacted(spark, layoutPath)
      .filter(col("grp").isin(keep: _*) && col("user_id") === probeUser)
  }

  /** Compacted layout + bloom sidecar for the gate (bench bills the
    * sidecar build as `builds.bloom_index`; the layout itself is the
    * already-billed `compacted_events`).
    */
  def prebuildIndexed(spark: SparkSession, dir: String): (String, String) =
    graft.Memo.once("BloomJoin.prebuildIndexed", spark, dir) {
      val layout = Compactor.prebuild(spark, dir)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_bloomidx_$h"
      saveBatchBlooms(Compactor.loadCompacted(spark, layout), idx)
      (layout, idx)
    }

  /** K74 gate — the probe user's events served through the pruned
    * read. Oracle = the PLAIN filter over raw events: hash equality
    * proves the index skipped only batches that truly lack the user
    * (a false skip would drop rows and break the hash).
    */
  def bloomPrunedLookupQ(spark: SparkSession, dir: String): DataFrame = {
    val (layout, idx) = prebuildIndexed(spark, dir)
    val probeRow = Tables.events(spark, dir)
      .agg(min("user_id")).collect()(0)
    // an empty corpus has no probe user: degrade to the empty frame
    // (schema-stable), never a null unboxing
    val base =
      if (probeRow.isNullAt(0))
        Compactor.loadCompacted(spark, layout).filter(lit(false))
      else prunedLookup(spark, layout, idx, probeRow.getLong(0))
    base
      .select("event_id", "user_id", "event_type", "value", "day")
      .orderBy("event_id")
  }

  override def queries: Map[String, Q] = Map(
    "q_bloom_join" -> (bloomJoinAgg _),
    "bloom_join_stats" -> (bloomJoinStats _),
    "bloom_index_report" -> (bloomIndexReport _),
    "bloom_pruned_lookup" -> (bloomPrunedLookupQ _))

  override def oracles: Map[String, String] = Map(
    "q_bloom_join" ->
      s"""SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  ${Fp.sqlSum2("l_extendedprice")} AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "bloom_join_stats" ->
      s"""WITH dimk AS (SELECT o_orderkey AS k FROM orders
        |    WHERE o_orderpriority = '1-URGENT'),
        |pos AS (SELECT ${sqlPos(0, "k")} AS pos FROM dimk
        |  UNION ALL SELECT ${sqlPos(1, "k")} FROM dimk),
        |-- HUGEINT: DuckDB range-checks BIGINT << 63; int128 carries the
        |-- same low-64 bit pattern Spark's wrapping long shift produces
        |words AS (SELECT pos // 64 AS w,
        |    bit_or((1::HUGEINT) << CAST(pos % 64 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |f AS (SELECT l_orderkey AS k,
        |    ${sqlPos(0, "l_orderkey")} AS p0,
        |    ${sqlPos(1, "l_orderkey")} AS p1
        |  FROM lineitem),
        |chk AS (SELECT f.k,
        |    (COALESCE(w0.bits, 0) & ((1::HUGEINT) << CAST(f.p0 % 64 AS INT)))
        |      <> 0
        |    AND
        |    (COALESCE(w1.bits, 0) & ((1::HUGEINT) << CAST(f.p1 % 64 AS INT)))
        |      <> 0 AS pass,
        |    dimk.k IS NOT NULL AS is_match
        |  FROM f
        |  LEFT JOIN words w0 ON w0.w = f.p0 // 64
        |  LEFT JOIN words w1 ON w1.w = f.p1 // 64
        |  LEFT JOIN dimk ON dimk.k = f.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_facts,
        |  CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN pass AND NOT is_match THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fp,
        |  CAST(sum(CASE WHEN NOT pass AND is_match THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fn,
        |  CAST((sum(CASE WHEN pass AND NOT is_match THEN 1 ELSE 0 END)
        |      * 1000000)
        |    // nullif(count(*) - sum(CASE WHEN is_match THEN 1 ELSE 0 END),
        |        0) AS BIGINT) AS fp_ppm
        |FROM chk""".stripMargin,
    "bloom_index_report" ->
      s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |probe AS (SELECT min(user_id) AS probe_user FROM ev),
        |pos AS (SELECT day, ${sqlBixPos(0, "user_id")} AS pos FROM ev
        |  UNION ALL SELECT day, ${sqlBixPos(1, "user_id")} FROM ev),
        |words AS (SELECT day, pos // 64 AS w,
        |    bit_or((1::HUGEINT) << CAST(pos % 64 AS INT)) AS bits
        |  FROM pos GROUP BY 1, 2),
        |pdb AS (SELECT day,
        |    CAST(sum(bit_count(bits)) AS BIGINT) AS n_bits_set,
        |    max(CASE WHEN w = ${sqlBixPos(0, "probe_user")} // 64
        |      AND (bits & ((1::HUGEINT)
        |        << CAST(${sqlBixPos(0, "probe_user")} % 64 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS m0,
        |    max(CASE WHEN w = ${sqlBixPos(1, "probe_user")} // 64
        |      AND (bits & ((1::HUGEINT)
        |        << CAST(${sqlBixPos(1, "probe_user")} % 64 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS m1
        |  FROM words CROSS JOIN probe GROUP BY day),
        |pds AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    max(CASE WHEN user_id = probe_user THEN 1 ELSE 0 END) = 1
        |      AS present,
        |    max(probe_user) AS probe_user
        |  FROM ev CROSS JOIN probe GROUP BY day)
        |SELECT s.day, s.n_rows, s.n_users, b.n_bits_set,
        |  CAST((b.n_bits_set * 1000000) // $BixBits AS BIGINT) AS fill_ppm,
        |  s.probe_user, s.present,
        |  NOT (b.m0 = 1 AND b.m1 = 1) AS can_skip
        |FROM pds s JOIN pdb b USING (day)
        |ORDER BY day""".stripMargin,
    // the oracle is the PLAIN point filter over raw events: a false
    // skip would drop that batch's rows and break the hash
    "bloom_pruned_lookup" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(ts AS DATE) AS day
        |FROM events
        |WHERE user_id = (SELECT min(user_id) FROM events)
        |ORDER BY event_id""".stripMargin)
}
