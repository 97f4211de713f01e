package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** H9 `bpe_merges` — byte-pair-encoding merge induction (the
  * tokenizer TRAINING step, beyond D5's frequency counting): starting
  * from character symbols over the word-frequency table, repeatedly
  * count adjacent symbol pairs and merge the most frequent pair
  * (Sennrich et al. 2016 shape). Reference analogue: none — the
  * reference ships no tokenizer; this is the corpus→tokenizer pass an
  * LLM-data pipeline adds.
  *
  * Scale shape: everything runs on the WORD-FREQUENCY table (vocab
  * rows, not corpus rows — the classic BPE trick), so each round is
  * one explode + one map-side-combinable aggregate + a 1-row argmax
  * broadcast back into a map-only `replace`. Rounds are Scala-side
  * (merge count is a tokenizer hyperparameter, inherently sequential)
  * with an eager checkpoint per round — same step-boundary discipline
  * as the GBT horizon loop.
  *
  * Cross-engine determinism: symbols are encoded as a
  * `|a||b||c|`-delimited string; the merge is ONE `replace(syms,
  * "|a||b|", "|ab|")` — both engines scan left-to-right
  * non-overlapping, and the doubled inner delimiter makes a match
  * possible only at whole-symbol boundaries (a leading `|a|` can't
  * start mid-symbol, a trailing `|b|` can't stop mid-symbol), so the
  * greedy merge is bit-identical. Ties on pair count break by (a, b)
  * string order.
  */
object Bpe {

  /** Number of merge rounds learned. */
  val Merges = 3

  // One BPE training per (session, corpus plan, text column):
  // bpe_merges and bpe_fertility both consume the identical learned
  // state — unshared, each re-ran the full multi-round merge loop
  // (the NearDup/Tfidf memo discipline).
  private def trained(docs: DataFrame, textCol: String)
      : (DataFrame, DataFrame) =
    graft.Memo.once("Bpe.trained", docs.sparkSession, graft.Memo.planKey(docs),
      textCol)(trainedBuild(docs, textCol))

  /** The training loop: learns [[Merges]] merges AND carries the
    * word-frequency table through them — (merge table, final word
    * table with each word's post-merge symbol string). The word table
    * is vocab-rows-sized throughout, never corpus-sized.
    */
  private def trainedBuild(docs: DataFrame, textCol: String)
      : (DataFrame, DataFrame) = {
    // word-frequency table: the only corpus-sized pass
    val words = docs
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        """substring(concat('|', regexp_replace(w, '(.)', '$1||')), 1,
          |  length(concat('|', regexp_replace(w, '(.)', '$1||'))) - 1)"""
          .stripMargin))
      .select("w", "freq", "syms")

    var cur = words.localCheckpoint(true)
    var out: DataFrame = null
    var exhausted = false
    for (i <- 1 to Merges if !exhausted) {
      // adjacent-pair counts weighted by word frequency
      val pairs = cur
        .withColumn("arr", expr(
          "split(substring(syms, 2, length(syms) - 2), '\\\\|\\\\|')"))
        .withColumn("p", explode(expr(
          "zip_with(slice(arr, 1, size(arr) - 1), " +
            "slice(arr, 2, size(arr) - 1), (x, y) -> struct(x as a, y as b))")))
        .filter(size(col("arr")) > 1)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
      val top = pairs
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .withColumn("merge_no", lit(i))
        .withColumn("merged", concat(col("a"), col("b")))
        .select("merge_no", "a", "b", "merged", "cnt")
        .localCheckpoint(true)
      // a vocabulary can run out of adjacent pairs before the merge
      // budget does (every word down to one symbol): an empty argmax
      // frame must STOP the loop, not cross-join the word table to
      // empty (the 1-row check is on a vocab-sized limit(1) frame)
      if (top.isEmpty) { exhausted = true }
      else {
        out = if (out == null) top else out.unionByName(top)
        // apply the merge: one scalar broadcast into a map-only replace
        cur = cur.crossJoin(broadcast(top.select(col("a").as("m_a"), col("b").as("m_b"))))
          .withColumn("syms", expr(
            "replace(syms, concat('|', m_a, '||', m_b, '|'), " +
              "concat('|', m_a, m_b, '|'))"))
          .select("w", "freq", "syms")
          .localCheckpoint(true)
      }
    }
    (if (out == null) // pathological corpus: no learnable pair at all
       cur.limit(0).selectExpr("0 AS merge_no", "w AS a", "w AS b",
         "w AS merged", "freq AS cnt")
     else out.orderBy("merge_no"), cur)
  }

  /** Learn [[Merges]] merges over `textCol`'s whitespace words.
    * Output: one row per merge — (merge_no, a, b, merged, cnt).
    */
  def merges(docs: DataFrame, textCol: String): DataFrame =
    trained(docs, textCol)._1

  /** H11 `bpe_fertility` — the tokenizer-EVAL surface: apply the
    * learned merges to the whole corpus and report each document's
    * subword fertility (subwords per word — the number a tokenizer
    * team actually tracks across languages/domains before committing
    * a vocab). The merge application already happened on the
    * vocab-sized word table inside training, so scoring is one
    * corpus-sized explode + a broadcast word→n_syms join + one
    * combinable aggregate; fertility divides two exact longs.
    */
  def fertility(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val wordSyms = trained(docs, textCol)._2
      .withColumn("n_syms", size(split(
        expr("substring(syms, 2, length(syms) - 2)"), "\\|\\|")))
      .select("w", "n_syms")
    docs.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("|"))
      // not a forced broadcast: the vocab is ≪ corpus but can still
      // be 10⁸ words at 100 TB — AQE picks broadcast when it fits
      .join(wordSyms, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_syms").as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_words"))
      .orderBy("doc_id")
  }
}
