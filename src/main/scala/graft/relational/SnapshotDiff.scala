package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** K58 — CDC-style snapshot diff: the table_changes / change-data-feed
  * operator a versioned lake exposes between two loads of the same
  * table (which rows appeared, vanished, or changed — and WHICH
  * columns changed). The reference's pipeline re-loads Eurostat cubes
  * wholesale (etl/main.py:75-96 fetches, load_modes replaces); a
  * deployment at 100 TB can't re-publish a full table to find out what
  * tonight's load actually changed — it diffs.
  *
  * The two snapshots are carved deterministically from `orders` by the
  * shared md5 coin (the L1 split discipline: any worker re-derives any
  * row's role, both engines agree bit-for-bit): coin 0 = row absent
  * from OLD (an insert), coin 1 = absent from NEW (a delete), coin 2 =
  * price bumped in NEW, coin 3 = status recoded in NEW — everything
  * else unchanged. The diff itself is the real operator: ONE
  * co-partitioned full-outer hash join on the primary key, change
  * classification and the per-column `chg_mask` bitmask (bit 0 price,
  * bit 1 status, bit 2 orderdate) as codegen'd comparisons, unchanged
  * rows filtered out — so output is bounded by CHURN, not table size,
  * and nothing ever gathers on the driver. Null-safe by the SQL
  * null-comparison contract both engines share (NULL <> NULL is NULL →
  * not a change); the injected +1.0 / recode are deterministic IEEE
  * ops, identical in either engine.
  */
object SnapshotDiff extends QueryModule {

  /** The snapshot coin: 48-bit md5 prefix mod 10 — the Sketches.h48
    * family with a role modulus.
    */
  private def coinExpr: String =
    "cast(conv(substring(md5(concat('snp|', cast(o_orderkey as string))), 1, 12), 16, 10) as bigint) % 10"

  private def sqlCoin: String =
    "CAST('0x' || substr(md5('snp|' || CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT) % 10"

  /** The coin-carved (old, new) snapshot pair over an orders frame,
    * both in the ORIGINAL column names — shared by the batch diff and
    * the streaming face's spec feed.
    */
  private[graft] def carved(orders: DataFrame): (DataFrame, DataFrame) = {
    // NOTE deliberately not materialized: snapshot_apply reads the
    // coined frame through 3 branches (both diff sides + the anti
    // join), but a localCheckpoint here measured NEUTRAL-to-worse at
    // sf0.1 (0.92→1.04 s warm — the md5 coin re-passes are cheaper
    // than a table-sized materialization), and at 100 TB a
    // table-sized checkpoint is exactly the storage bill repeated
    // pushdown-pruned scans avoid.
    val o = orders
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
      .withColumn("c", expr(coinExpr))
    val old = o.filter(col("c") =!= 0).drop("c")
    val neu = o.filter(col("c") =!= 1).select(
      col("o_orderkey"),
      when(col("c") === 2, col("o_totalprice") + lit(1.0))
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("c") === 3, lit("X"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"),
      col("o_orderdate"))
    (old, neu)
  }

  /** Rename a snapshot to the diff's old/new side. */
  private[graft] def asOld(snap: DataFrame): DataFrame =
    snap.select(col("o_orderkey").as("k_old"),
      col("o_totalprice").as("old_price"),
      col("o_orderstatus").as("old_status"),
      col("o_orderdate").as("old_date"))

  private[graft] def asNew(snap: DataFrame): DataFrame =
    snap.select(col("o_orderkey").as("k_new"),
      col("o_totalprice").as("new_price"),
      col("o_orderstatus").as("new_status"),
      col("o_orderdate").as("new_date"))

  /** Kind/mask classification over a joined old×new frame — the
    * shared body of the batch full-outer diff and the streaming
    * left-join face ([[graft.streaming.Streaming.snapshotDiffStream]]
    * runs this identical algebra, so stream rows bit-equal batch
    * rows). No sort here: streams can't order.
    *
    * Change detection is NULL-SAFE (`not(a <=> b)` / the oracle's
    * `IS DISTINCT FROM`): a column transitioning NULL→value or
    * value→NULL is a real update a CDC feed must report, while plain
    * `<>` yields NULL there and the row would silently classify as
    * unchanged. The carved TPC-H columns are never null, so the gate
    * can't see the difference — the null-transition contract is
    * spec-pinned instead (SnapshotDiffSpec).
    */
  private def chg(a: String, b: String): Column = !(col(a) <=> col(b))

  /** The classification columns shared by the narrow gate face and
    * the WIDE face [[classifiedWide]] the apply/SCD2 consumers need
    * (they must carry the date column to reconstruct full rows).
    */
  private def classifyCols(joined: DataFrame): DataFrame =
    joined
      .withColumn("kind",
        when(col("k_old").isNull, "insert")
          .when(col("k_new").isNull, "delete")
          .when(chg("old_price", "new_price") ||
            chg("old_status", "new_status") ||
            chg("old_date", "new_date"), "update")
          .otherwise("unchanged"))
      .filter(col("kind") =!= "unchanged")
      .withColumn("o_orderkey", coalesce(col("k_old"), col("k_new")))
      .withColumn("chg_mask", when(col("kind") === "update",
        when(chg("old_price", "new_price"), lit(1L)).otherwise(lit(0L)) +
          when(chg("old_status", "new_status"), lit(2L)).otherwise(lit(0L)) +
          when(chg("old_date", "new_date"), lit(4L)).otherwise(lit(0L)))
        .otherwise(lit(0L)))

  private[graft] def classified(joined: DataFrame): DataFrame =
    classifyCols(joined)
      .select("o_orderkey", "kind", "chg_mask", "old_price", "new_price",
        "old_status", "new_status")

  /** [[classified]] plus the full old/new column set — the change
    * FEED a downstream consumer applies ([[applyDiff]]) or versions
    * ([[scd2FromDiff]]); still churn-bounded.
    */
  private[graft] def classifiedWide(joined: DataFrame): DataFrame =
    classifyCols(joined)
      .select("o_orderkey", "kind", "chg_mask",
        "old_price", "new_price", "old_status", "new_status",
        "old_date", "new_date")

  /** The carved wide diff — shared input of the apply/SCD2 faces and
    * the versioned store's gate fixture ([[SnapshotStore.prebuild]]).
    */
  private[relational] def carvedDiffWide(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (old, neu) = carved(Tables.orders(spark, dir))
    (old, classifiedWide(asOld(old).join(asNew(neu),
      col("k_old") === col("k_new"), "full_outer")))
  }

  /** [[carvedDiffWide]] MATERIALIZED and memoized — for the three
    * snapshot-store prebuilds, which each consume the pair to land a
    * version chain: unshared, each chain re-ran the carve + the
    * full-outer diff join. The in-session QUERIES (snapshot_apply,
    * snapshot_scd2, …) deliberately keep the lazy form — for a single
    * consumer the checkpoint measured slower (see [[carved]]'s note).
    */
  private[relational] def carvedDiffWideMat(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.Memo.once("SnapshotDiff.carvedDiffWideMat", spark, dir) {
      val (old, diff) = carvedDiffWide(spark, dir)
      (old.localCheckpoint(true), diff.localCheckpoint(true))
    }

  /** K60 — APPLY a change feed: old ∘ diff = new, the MERGE INTO a
    * CDC consumer runs instead of re-publishing the table (the K58
    * header's point: at 100 TB you ship churn, not snapshots). One
    * co-partitioned LEFT ANTI join of the standing snapshot against
    * the diff's delete/update keys (both sides hash on the primary
    * key — the only shuffle, and the diff side is churn-sized) plus a
    * union of the diff's insert/update images; unchanged rows are
    * never rewritten by the feed. The identity apply(old, diff(old,
    * new)) == new is both spec-pinned and hash-gated (the oracle
    * replays this same kept-∪-upserts algebra from the diff CTEs, so
    * the gate proves the apply REBUILDS new, not merely selects it).
    */
  def applyDiff(old: DataFrame, diffWide: DataFrame): DataFrame = {
    val changedKeys = diffWide
      .filter(col("kind").isin("delete", "update"))
      .select("o_orderkey")
    val kept = old.join(changedKeys, Seq("o_orderkey"), "left_anti")
    val upserts = diffWide
      .filter(col("kind").isin("insert", "update"))
      .select(col("o_orderkey"), col("new_price").as("o_totalprice"),
        col("new_status").as("o_orderstatus"),
        col("new_date").as("o_orderdate"))
    kept.unionByName(upserts)
  }

  def snapshotApply(spark: SparkSession, dir: String): DataFrame = {
    // rides the memoized materialized pair (r19): in the bench the
    // snapshot_store build has already paid it, so the query reads
    // blocks; first-consumer sessions pay the one-time checkpoint
    val (old, diff) = carvedDiffWideMat(spark, dir)
    applyDiff(old, diff).orderBy("o_orderkey")
  }

  /** The SCD2 effective date the diff's changes land under. */
  private[relational] val DiffEffectiveDate = "1996-06-01"

  /** K61 — SCD2 versioning CONSUMING the change feed (the A9
    * etl_scd2 shape, but fed by the K58 diff instead of comparing
    * full snapshots — the verdict's "dimension versioning consumes
    * change feeds" arc): untouched keys stay one open version;
    * an update CLOSES the old version at the effective date and
    * opens the new image; a delete closes with no successor; an
    * insert opens at the effective date. Three churn-sized
    * projections of the diff + one anti join — the apply plan with
    * version bookkeeping; output is |dim| + churn rows.
    */
  def scd2FromDiff(old: DataFrame, diffWide: DataFrame): DataFrame = {
    val eff = lit(DiffEffectiveDate)
    val closedKeys = diffWide
      .filter(col("kind").isin("delete", "update"))
      .select("o_orderkey")
    val untouched = old.join(closedKeys, Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        lit("1995-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
    val closed = diffWide
      .filter(col("kind").isin("delete", "update"))
      .select(col("o_orderkey"), col("old_price").as("o_totalprice"),
        col("old_status").as("o_orderstatus"),
        lit("1995-01-01").as("valid_from"),
        eff.as("valid_to"),
        lit(false).as("is_current"))
    val opened = diffWide
      .filter(col("kind").isin("insert", "update"))
      .select(col("o_orderkey"), col("new_price").as("o_totalprice"),
        col("new_status").as("o_orderstatus"),
        eff.as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
    untouched.unionByName(closed).unionByName(opened)
  }

  def snapshotScd2(spark: SparkSession, dir: String): DataFrame = {
    val (old, diff) = carvedDiffWideMat(spark, dir) // see snapshotApply
    scd2FromDiff(old, diff)
      .orderBy("o_orderkey", "valid_from", "is_current")
  }

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame =
    // the narrow gate face is a projection of the memoized wide diff
    // (classified = classifyCols.select(narrow), classifiedWide the
    // same over more columns) — rides the snapshot_store build's
    // blocks like snapshotApply
    carvedDiffWideMat(spark, dir)._2
      .select("o_orderkey", "kind", "chg_mask", "old_price", "new_price",
        "old_status", "new_status")
      .orderBy("o_orderkey")

  /** K59 — the CDC SUMMARY a pipeline alerts on (diff volume is the
    * canary for a bad load: a delete spike means a truncated extract,
    * an update spike a backfill): per kind — row count, per-column
    * change counts (the chg_mask bits summed out), and churn as ppm
    * of the table. One aggregate over the K58 diff (already
    * churn-bounded) + the broadcast 1-row table count; O(kinds)
    * output at any table size. All-integer arithmetic.
    */
  def snapshotDiffSummary(spark: SparkSession, dir: String): DataFrame = {
    val d = carvedDiffWideMat(spark, dir)._2 // see snapshotDiff
    val t = Tables.orders(spark, dir).agg(count(lit(1)).as("n_table"))
    d.groupBy("kind")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("chg_mask & 1")).as("n_price_chg"),
        sum(expr("(chg_mask & 2) div 2")).as("n_status_chg"),
        sum(expr("(chg_mask & 4) div 4")).as("n_date_chg"))
      .crossJoin(broadcast(t))
      .withColumn("churn_ppm", expr("(n_rows * 1000000) div n_table"))
      .select("kind", "n_rows", "n_price_chg", "n_status_chg",
        "n_date_chg", "churn_ppm", "n_table")
      .orderBy("kind")
  }

  override def queries: Map[String, Q] = Map(
    "snapshot_diff" -> (snapshotDiff _),
    "snapshot_diff_summary" -> (snapshotDiffSummary _),
    "snapshot_apply" -> (snapshotApply _),
    "snapshot_scd2" -> (snapshotScd2 _))

  /** The diff CTE chain (through the churn-filtered, mask-carrying
    * `dd`) shared by the K58 row-level oracle, the K59 summary, and
    * the store faces ([[SnapshotStore]] time travel / table_changes).
    */
  private[relational] def diffCtes: String =
    s"""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus,
      |    o_orderdate, $sqlCoin AS c FROM orders),
      |old AS (SELECT o_orderkey AS k_old, o_totalprice AS old_price,
      |    o_orderstatus AS old_status, o_orderdate AS old_date
      |  FROM o WHERE c <> 0),
      |neu AS (SELECT o_orderkey AS k_new,
      |    CASE WHEN c = 2 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS new_price,
      |    CASE WHEN c = 3 THEN 'X' ELSE o_orderstatus END AS new_status,
      |    o_orderdate AS new_date
      |  FROM o WHERE c <> 1),
      |j AS (SELECT * FROM old FULL OUTER JOIN neu ON k_old = k_new),
      |d AS (SELECT COALESCE(k_old, k_new) AS o_orderkey,
      |    CASE WHEN k_old IS NULL THEN 'insert'
      |         WHEN k_new IS NULL THEN 'delete'
      |         WHEN old_price IS DISTINCT FROM new_price
      |           OR old_status IS DISTINCT FROM new_status
      |           OR old_date IS DISTINCT FROM new_date THEN 'update'
      |         ELSE 'unchanged' END AS kind,
      |    old_price, new_price, old_status, new_status,
      |    old_date, new_date, k_old, k_new
      |  FROM j),
      |dd AS (SELECT o_orderkey, kind,
      |    CAST(CASE WHEN kind = 'update' THEN
      |        CASE WHEN old_price IS DISTINCT FROM new_price
      |             THEN 1 ELSE 0 END
      |      + CASE WHEN old_status IS DISTINCT FROM new_status
      |             THEN 2 ELSE 0 END
      |      + CASE WHEN old_date IS DISTINCT FROM new_date
      |             THEN 4 ELSE 0 END
      |      ELSE 0 END AS BIGINT) AS chg_mask,
      |    old_price, new_price, old_status, new_status
      |  FROM d WHERE kind <> 'unchanged')""".stripMargin

  /** [[diffCtes]] extended with the apply algebra (kept ∪ upserts) —
    * shared by the K60 apply oracle, the K65 store serve, and the K71
    * purged serve.
    */
  private[relational] def applyCtes: String = diffCtes + """,
    |chg AS (SELECT o_orderkey FROM d WHERE kind IN ('delete','update')),
    |kept AS (SELECT o.k_old AS o_orderkey, o.old_price AS o_totalprice,
    |    o.old_status AS o_orderstatus, o.old_date AS o_orderdate
    |  FROM old o LEFT JOIN chg ON o.k_old = chg.o_orderkey
    |  WHERE chg.o_orderkey IS NULL),
    |ups AS (SELECT o_orderkey, new_price AS o_totalprice,
    |    new_status AS o_orderstatus, new_date AS o_orderdate
    |  FROM d WHERE kind IN ('insert','update'))""".stripMargin

  override def oracles: Map[String, String] = Map(
    "snapshot_diff" -> (diffCtes + """
      |SELECT o_orderkey, kind, chg_mask,
      |  old_price, new_price, old_status, new_status
      |FROM dd
      |ORDER BY o_orderkey""".stripMargin),
    "snapshot_diff_summary" -> (diffCtes + """,
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_table FROM orders)
      |SELECT kind, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(chg_mask & 1) AS BIGINT) AS n_price_chg,
      |  CAST(sum((chg_mask & 2) // 2) AS BIGINT) AS n_status_chg,
      |  CAST(sum((chg_mask & 4) // 4) AS BIGINT) AS n_date_chg,
      |  CAST((count(*) * 1000000) // t.n_table AS BIGINT) AS churn_ppm,
      |  t.n_table
      |FROM dd CROSS JOIN t
      |GROUP BY kind, t.n_table
      |ORDER BY kind""".stripMargin),
    // the apply oracle REPLAYS the merge algebra (kept ∪ upserts)
    // from the diff CTE chain — never a bare SELECT FROM neu — so the
    // hash gate proves old ∘ diff reconstructs new
    "snapshot_apply" -> (applyCtes + """
      |SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderdate
      |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ups)
      |ORDER BY o_orderkey""".stripMargin),
    "snapshot_scd2" -> (diffCtes + s""",
      |chgk AS (SELECT o_orderkey FROM d WHERE kind IN ('delete','update')),
      |unt AS (SELECT o.k_old AS o_orderkey, o.old_price AS o_totalprice,
      |    o.old_status AS o_orderstatus, '1995-01-01' AS valid_from,
      |    CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      |  FROM old o LEFT JOIN chgk ON o.k_old = chgk.o_orderkey
      |  WHERE chgk.o_orderkey IS NULL),
      |cls AS (SELECT o_orderkey, old_price AS o_totalprice,
      |    old_status AS o_orderstatus, '1995-01-01' AS valid_from,
      |    '$DiffEffectiveDate' AS valid_to, FALSE AS is_current
      |  FROM d WHERE kind IN ('delete','update')),
      |opn AS (SELECT o_orderkey, new_price AS o_totalprice,
      |    new_status AS o_orderstatus, '$DiffEffectiveDate' AS valid_from,
      |    CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      |  FROM d WHERE kind IN ('insert','update'))
      |SELECT o_orderkey, o_totalprice, o_orderstatus, valid_from,
      |  valid_to, is_current
      |FROM (SELECT * FROM unt UNION ALL SELECT * FROM cls
      |      UNION ALL SELECT * FROM opn)
      |ORDER BY o_orderkey, valid_from, is_current""".stripMargin))
}
