package graft.tools

import org.apache.spark.sql.SparkSession

/** Upper-rung geometry fixture (round-10 VERDICT item #1): a
  * deterministic synthetic corpus big enough to cross the
  * size-derived geometry thresholds the sf0.01/sf0.1 gates never
  * reach — simhash band width W > 8 (needs > 16,384 docs,
  * `Dedup.simhashBandBits`), knn hyperplane count p > 8 (> 16,384
  * vectors, `Knn.planesFor`), and an IVF list count past the 16-list
  * floor (√n > 16). The oracles replay each ladder as a CASE over the
  * same thresholds, so running Verify + the DuckDB compare on this
  * fixture hash-verifies the upper rungs end to end — the one class
  * of code the standard gate has never exercised
  * (`scripts/upper_rung.py` orchestrates; `UpperRungSpec` pins the
  * Spark-side census).
  *
  * Everything derives from md5 of (purpose-tag, id, position) — no
  * rand(), no Date.now — so the fixture is bit-identical on every
  * regeneration and both engines read the same parquet.
  */
object UpperRung {

  /** > 64·2^8 docs → simhash W = 9 (the first upper rung). */
  val DefaultDocs = 20000L

  /** > 64·2^8 vectors → planesFor p = 9; √n ≈ 130 lists > 16. */
  val DefaultVecs = 17000L

  /** uniform [-1, 1) from a tag string — the md5-coin discipline. */
  private def u(tag: String): String =
    s"(cast(conv(substring(md5($tag), 1, 8), 16, 10) as double)" +
      " / 4294967296.0) * 2.0 - 1.0"

  /** Documents: 4-doc families sharing 11-of-12 six-char words (the
    * family base keyed on doc_id div 4; member m > 0 perturbs word
    * 3m) — so simhash finds real near-dup pairs inside families and
    * none across, at whatever band geometry the ladder picks. All
    * texts non-empty: degenerate-row behavior is the censuses' job
    * (`EmptyInputSpec`), this fixture isolates geometry.
    */
  def writeDocuments(spark: SparkSession, dir: String, n: Long): Unit = {
    spark.range(n).selectExpr(
      "id AS doc_id",
      """concat_ws(' ', transform(sequence(0, 11), k -> CASE
        |  WHEN id % 4 != 0 AND k = (id % 4) * 3
        |  THEN substring(md5(concat('urp|', cast(id as string), '|',
        |    cast(k as string))), 1, 6)
        |  ELSE substring(md5(concat('urw|', cast(id div 4 as string), '|',
        |    cast(k as string))), 1, 6) END)) AS text""".stripMargin,
      "'en' AS lang",
      "concat('src', cast(id % 4 as string)) AS source")
      .coalesce(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Embeddings: 40 md5-derived cluster centers, each vector
    * 0.8·center + 0.2·noise, stored float32 (the `Tables.embeddings`
    * contract) — cosine structure is real (in-cluster pairs clear
    * semdedup's τ = 0.45, cross-cluster mostly don't), and the first
    * 16 vec_ids land in 16 distinct clusters so the given-centroid
    * quantizer spreads.
    */
  def writeEmbeddings(spark: SparkSession, dir: String, n: Long): Unit = {
    val cl = "cast(id % 40 as string)"
    spark.range(n).selectExpr(
      "id AS vec_id",
      s"""transform(sequence(0, 63), d -> cast(
         |  0.8 * (${u(s"concat('urc|', $cl, '|', cast(d as string))")})
         |  + 0.2 * (${u("concat('urn|', cast(id as string), '|', cast(d as string))")})
         |  as float)) AS embedding""".stripMargin,
      "concat('c', cast(id % 8 as string)) AS label")
      .coalesce(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def writeFixture(spark: SparkSession, dir: String,
      nDocs: Long = DefaultDocs, nVecs: Long = DefaultVecs): Unit = {
    writeDocuments(spark, dir, nDocs)
    writeEmbeddings(spark, dir, nVecs)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_upper_rung")
    val nDocs = if (args.length > 1) args(1).toLong else DefaultDocs
    val nVecs = if (args.length > 2) args(2).toLong else DefaultVecs
    val spark = graft.Engine.session("graft-upper-rung")
    writeFixture(spark, outDir, nDocs, nVecs)
    println(s"upper-rung fixture at $outDir: $nDocs docs " +
      s"(simhash W=${graft.dedup.Dedup.simhashBandBits(nDocs)}), " +
      s"$nVecs vectors (planes p=${graft.sim.Knn.planesFor(nVecs)}, " +
      s"ivf lists=${graft.sim.Ivf.numLists(nVecs)})")
    spark.stop()
  }
}
