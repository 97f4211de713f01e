package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness

/** Dev tool: measure the text-index ingest cost model the J22/J23
  * docs CLAIM — BM25 appends are O(batch) (every stored table
  * additive, idf derived at serve), tf-idf appends pay an O(index)
  * rederive of the globally idf-coupled layers — and the serve-side
  * effect of accumulation + compaction. Per run: amplify the
  * documents table `mult`× (new doc ids, same text — the append
  * contract takes new ids), seed each index with half the corpus,
  * append the other half in equal batches timing each append, serve
  * after every append, compact, serve again.
  *
  * Usage: runMain graft.tools.StressTextIngest [sfDir] [mult] [batches] [out.json]
  */
object StressTextIngest {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(8)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.Engine.session("graft-stress-text")
    spark.sparkContext.setLogLevel("WARN")

    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    val docs = graft.Amplify(base, mult, Seq("doc_id")).localCheckpoint(true)
    val n = docs.count()
    val seed = docs.filter(col("doc_id") % 2 === 0)
    // the RAG question: its terms occur in the synthetic documents, so
    // every serve scores a non-empty top-k
    val query = graft.text.RagQueries.question

    val stats = Seq("bm25", "tfidf").flatMap { kind =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_stress_text_$kind").toString
      def item(name: String)(f: => Any) = Harness.Item(s"${kind}_$name", () => f)
      def serve(name: String) = item(name) {
        val rows =
          if (kind == "bm25")
            graft.text.Bm25.servedTopK(spark, dir, query, 10).count()
          else graft.text.Tfidf.searchSaved(spark, dir, query, 10).count()
        // an empty top-k times no scoring: the harness records it as err
        if (rows == 0)
          throw new IllegalStateException(s"$kind serve of '$query' returned no rows")
        rows
      }
      val appends = (0 until nBatches).flatMap { b =>
        val batch = docs.filter(col("doc_id") % 2 === 1 &&
          pmod(col("doc_id"), lit(2L * nBatches)) === (2 * b + 1))
        Seq(item(s"append_$b") {
          if (kind == "bm25")
            graft.text.Bm25.appendSavedOnce(batch, "doc_id", "text",
              dir, b.toLong)
          else graft.text.Tfidf.appendSavedOnce(batch, "doc_id", "text",
            dir, b.toLong)
        }, serve(s"serve_after_$b"))
      }
      val seedBuild = item("seed_build") {
        if (kind == "bm25")
          graft.text.Bm25.save(spark, seed, "doc_id", "text", dir)
        else graft.text.Tfidf.save(
          graft.text.Tfidf.index(seed, "doc_id", "text"), dir)
      }
      val compact = item("compact") {
        if (kind == "bm25") graft.text.Bm25.compactSaved(spark, dir)
        else graft.text.Tfidf.compactSaved(spark, dir)
      }
      Harness.sweep(spark, "STRESSTEXT",
        (seedBuild +: appends) ++ Seq(compact, serve("serve_compacted")), 1)
    }
    Harness.write(args.lift(3), Harness.artifact("StressTextIngest", stats,
      Seq("sf" -> sfDir, "n_docs" -> n, "mult" -> mult)))
    spark.stop()
  }
}
