package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev lab: measure candidate implementations of the neardup verify
  * join (the round-19 target: the two joins shipping multi-KB gram
  * arrays to every candidate pair). Prints corpus shape stats, then
  * times each variant (noop-style count over the filtered pairs).
  * Usage: runMain graft.tools.NearDupLab [sfDir] [reps]
  */
object NearDupLab {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Engine.session("graft-neardup-lab")
    import graft.dedup.Dedup

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val sh = Dedup.shingleSets(docs, "doc_id", "text").localCheckpoint(true)
    val sigs = Dedup.minhashSigs(sh).localCheckpoint(true)
    val cand = Dedup.bucketPairs(Dedup.bandBuckets(sigs)).localCheckpoint(true)

    val nDocs = sh.count()
    val nCand = cand.count()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      .localCheckpoint(true)
    val nCandDocs = candDocs.count()
    val gramStats = sh.select(size(col("gs")).as("n")).agg(
      sum("n"), avg("n"), max("n")).collect()(0)
    println(s"LAB docs=$nDocs cand_pairs=$nCand cand_docs=$nCandDocs " +
      s"gram_rows=${gramStats.get(0)} avg_set=${gramStats.get(1)} max_set=${gramStats.get(2)}")

    def time(name: String)(mk: () => DataFrame): Unit = {
      for (i <- 1 to reps) {
        val t0 = System.nanoTime()
        val n = mk().count()
        println(f"LAB $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      }
    }

    // A: current production verify
    time("A_current") { () => Dedup.jaccardVerify(cand, sh, 0.5) }

    // B: int-dict remap (simple global row_number dict) + int verify
    val t0 = System.nanoTime()
    val grams = sh.select(explode(col("gs")).as("g")).distinct()
    val dict = grams.withColumn("gid",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("g"))
        .cast("int"))
      .localCheckpoint(true)
    val nGrams = dict.count()
    val isets = sh.select(col("doc_id"), explode(col("gs")).as("g"))
      .join(dict, "g")
      .groupBy("doc_id").agg(collect_list(col("gid")).as("gs"))
      .localCheckpoint(true)
    isets.count()
    println(f"LAB B_dict_build: ${(System.nanoTime() - t0) / 1e9}%.2f s n_grams=$nGrams")
    time("B_int_verify") { () => Dedup.jaccardVerify(cand, isets, 0.5) }

    // C: semi-join prune sets to candidate docs, then string verify
    time("C_pruned") { () =>
      val pruned = sh.join(candDocs, "doc_id")
      Dedup.jaccardVerify(cand, pruned, 0.5)
    }

    // D: prune + int
    time("D_pruned_int") { () =>
      val pruned = isets.join(candDocs, "doc_id")
      Dedup.jaccardVerify(cand, pruned, 0.5)
    }

    // checks: B pair set equals A pair set (jaccard identical)
    val a = Dedup.jaccardVerify(cand, sh, 0.5)
    val b = Dedup.jaccardVerify(cand, isets, 0.5)
    val diff = a.unionByName(b).distinct().count()
    println(s"LAB equal_check: a=${a.count()} b=${b.count()} union_distinct=$diff")

    println("LAB plan A:")
    Dedup.jaccardVerify(cand, sh, 0.5).explain("formatted")
    println("LAB plan C (production r19: candidate-doc pruned):")
    Dedup.jaccardVerify(cand, sh.join(candDocs, "doc_id"), 0.5)
      .explain("formatted")
    spark.stop()
  }
}
