package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness

/** Dev tool: scaling check for the round-15 join-acceleration trio —
  * plain vs bloom-prefiltered (K66) vs salted (K64) joins on an
  * amplified corpus (each replica offsets the keys, so ndv scales
  * with volume like a real corpus). The bloom sizes m to the dim ndv
  * (the K38 bloomMExpr discipline, next power of two ≥ 16·n) —
  * exactly what a deployment does; the gate's fixed 32 KB m would
  * saturate past ~30k keys and is reported alongside for honesty.
  * Usage: runMain graft.tools.StressJoin [sfDir] [mult1,mult2,...] [out.json]
  */
object StressJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).getOrElse("12,24").split(",").map(_.toInt)
    val spark = graft.Engine.session("graft-stress-join")
    spark.sparkContext.setLogLevel("WARN")

    def amp(t: String, key: String, mult: Int): DataFrame =
      graft.Amplify(graft.sources.Tables.table(spark, sfDir, t), mult, Seq(key))
    def skewSplitOff[T](f: => T): T = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      try f finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }

    val info = ArrayBuffer[(String, Any)]("sf" -> sfDir)
    val stats = mults.toSeq.flatMap { mult =>
      val facts = amp("lineitem", "l_orderkey", mult)
        .select("l_orderkey", "l_extendedprice", "l_returnflag")
        .localCheckpoint(true)
      val urgent = amp("orders", "o_orderkey", mult)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
        .localCheckpoint(true)
      val nFact = facts.count()
      val nDim = urgent.count()
      // m sized to ndv: next pow2 >= 16 * nDim (the K38 discipline),
      // floored at 64 so the word-array geometry stays valid on a
      // near-empty dim
      val mBits = java.lang.Long.highestOneBit(
        math.max(16L * nDim, 64L) * 2 - 1)
      val nMatch = facts
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .count()
      // salted vs plain on the full (3.19x-skew) orders join
      val fullDim = amp("orders", "o_orderkey", mult)
        .select("o_orderkey", "o_orderpriority").localCheckpoint(true)
      val factsPk = facts.withColumn("li_pk",
        expr("l_orderkey * 10 + monotonically_increasing_id() % 10"))
      // HOT-KEY fixtures (round 16): a fraction of fact ROWS remapped
      // onto ONE existing dim key — the straggler/OOM shape the salt
      // arm exists for (the r15 fixture's 3.19× ratio over 7-row keys
      // had no straggler to fix, and salting lost). Two fractions:
      // 20% (a noticeable hot head) and 80% (one key owning the
      // corpus — the shape that serializes a stage through one task).
      // Each measured three ways: plain with Spark's AQE runtime skew
      // split ON (the built-in mitigation), plain with it OFF (the
      // shape AQE cannot split — e.g. a non-splittable downstream
      // requirement), and the K64 salted two-path (mitigation off, so
      // the win is the salt's own).
      val hotKey = fullDim.agg(min("o_orderkey")).collect()(0).getLong(0)
      val skewed = Seq(20 -> 1, 80 -> 4).map { case (pct, hotMod) =>
        val factsSkew = factsPk.withColumn("l_orderkey",
            expr(s"CASE WHEN l_orderkey % 5 < $hotMod THEN ${hotKey}L " +
              "ELSE l_orderkey END"))
          .localCheckpoint(true)
        info += s"hot${pct}_cnt_x$mult" ->
          factsSkew.filter(col("l_orderkey") === hotKey).count()
        pct -> factsSkew
      }
      info ++= Seq(s"n_fact_x$mult" -> nFact, s"n_dim_x$mult" -> nDim,
        s"m_bits_x$mult" -> mBits, s"n_match_x$mult" -> nMatch)

      def item(name: String)(f: => Long) = Harness.Item(s"${name}_x$mult", () => f)
      val items = Seq(
        item("plain_sel") {
          facts.join(urgent, col("l_orderkey") === col("o_orderkey"))
            .groupBy("l_returnflag").agg(count(lit(1))).count()
        },
        item("bloom_sel") {
          graft.relational.BloomJoin
            .bloomFilteredM(facts, "l_orderkey", urgent, "o_orderkey", mBits)
            .join(urgent, col("l_orderkey") === col("o_orderkey"))
            .groupBy("l_returnflag").agg(count(lit(1))).count()
        },
        // its rows are the bloom survivors
        item("bloom_filter") {
          graft.relational.BloomJoin
            .bloomFilteredM(facts, "l_orderkey", urgent, "o_orderkey", mBits)
            .count()
        },
        item("plain_full") {
          factsPk.join(fullDim, col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(count(lit(1))).count()
        },
        item("salted_full") {
          graft.relational.SkewJoin
            .salted(factsPk, fullDim, "l_orderkey", "o_orderkey", "li_pk")
            .groupBy("o_orderpriority").agg(count(lit(1))).count()
        }) ++ skewed.flatMap { case (pct, factsSkew) =>
          def plain = factsSkew.join(fullDim, col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(count(lit(1))).count()
          Seq(
            item(s"plain_hot${pct}_aqe")(plain),
            item(s"plain_hot${pct}_noaqe")(skewSplitOff(plain)),
            item(s"salted_hot$pct")(skewSplitOff {
              graft.relational.SkewJoin
                .salted(factsSkew, fullDim, "l_orderkey", "o_orderkey", "li_pk")
                .groupBy("o_orderpriority").agg(count(lit(1))).count()
            }))
        }
      // min of 2 back-to-back sweeps per item
      val st = Harness.sweep(spark, "STRESSJOIN", items, 2, warm = true)
      st.find(_.name == s"bloom_filter_x$mult").flatMap(_.rows).foreach { nSurv =>
        info += s"fp_ppm_x$mult" ->
          (if (nFact == nMatch) 0L else (nSurv - nMatch) * 1000000L / (nFact - nMatch))
      }
      st
    }
    Harness.write(args.lift(2), Harness.artifact("StressJoin", stats, info.toSeq))
    spark.stop()
  }
}
