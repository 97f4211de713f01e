package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** G15 — the persisted-index lifecycle: save → load → serve must be
  * indistinguishable from the in-session build, and the serve-time
  * candidate scan must be partition-pruned to the probed lists (the
  * property that makes a saved index worth having at 100 TB).
  */
class IndexStoreSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  private lazy val ixDir: String = {
    val d = Files.createTempDirectory("graft_ix").toString
    IndexStore.saveGiven(emb, d)
    d
  }

  test("served knn from a saved index is bit-identical to the fresh build") {
    val fresh = Ivf.knnGivenCentroids(emb, col("vec_id") < 5, 3)
    val served = IndexStore.servedKnnGiven(spark, ixDir, col("vec_id") < 5, 3)
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("serve-time candidate scan is partition-pruned to the probed lists") {
    val served = IndexStore.servedKnnGiven(spark, ixDir, col("vec_id") < 5, 3)
    val plan = served.queryExecution.executedPlan.toString
    // the lists scan must carry the probe set as PARTITION filters —
    // a post-scan Filter would mean the full corpus is read
    val pruned = "PartitionFilters: \\[[^\\]]*list_id[^\\]]*IN".r
      .findFirstIn(plan)
    assert(pruned.isDefined, s"no partition IN-filter on list_id in:\n$plan")
  }

  test("an empty query batch serves an empty result, not a scan or a crash") {
    val served = IndexStore.servedKnnGiven(spark, ixDir, col("vec_id") < 0, 3)
    assert(served.count() == 0)
  }

  test("the driver-query face round-trips through the content-addressed dir") {
    val served = IndexStore.knnServedQ(spark, sf)
    val fresh = Ivf.knnGivenCentroidsQ(spark, sf)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("tfidf search from a saved index is bit-identical to the fresh build") {
    import graft.text.{RagQueries, Tfidf}
    val docs = Tables.documents(spark, sf)
    val ixDir = Files.createTempDirectory("graft_tfidf_ix").toString
    Tfidf.save(Tfidf.index(docs, "doc_id", "text"), ixDir)
    val fresh = Tfidf.searchTopK(spark, docs, "doc_id", "text",
      RagQueries.question, 5)
    val served = Tfidf.searchSaved(spark, ixDir, RagQueries.question, 5)
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("pq ADC search from the saved compressed corpus is bit-identical to the fresh build") {
    val fresh = Pq.knn(emb)
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val served = Pq.servedKnn(spark,
      IndexStore.prebuildSavedPq(spark, sf), queries,
      col("vec_id") >= Pq.QueryIds)
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("ivfpq served from the saved composed index is bit-identical " +
      "to the fresh build, rerank face included") {
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val d = IndexStore.prebuildSavedIvfPq(spark, sf)
    val served = Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds)
    val fresh = Pq.knnIvfPq(emb.select("vec_id", "embedding"))
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
    val servedRr = Pq.servedIvfPqRerank(spark, d, queries,
      col("vec_id") >= Pq.QueryIds)
    val freshRr = Pq.knnIvfPqRerank(emb.select("vec_id", "embedding"))
    assert(servedRr.schema == freshRr.schema)
    assert(servedRr.collect().toSeq == freshRr.collect().toSeq)
  }

  test("ivfpq serve-time scans are partition-pruned: codes to the " +
      "probed lists, refine to the shortlist's lists") {
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val d = IndexStore.prebuildSavedIvfPq(spark, sf)
    val pruned = "PartitionFilters: \\[[^\\]]*list_id[^\\]]*IN".r
    val plan = Pq.servedIvfPqKnn(spark, d, queries,
        col("vec_id") >= Pq.QueryIds)
      .queryExecution.executedPlan.toString
    assert(pruned.findFirstIn(plan).isDefined,
      s"no partition IN-filter on the codes scan in:\n$plan")
    // the refine sidecar is touched ONLY by the rerank face, and only
    // through a partition IN-filter on the shortlist's lists
    // the shortlist stage is checkpoint-materialized, so the rerank's
    // final plan shows exactly one file scan — the refine sidecar —
    // and it must carry the shortlist's lists as partition filters
    val planRr = Pq.servedIvfPqRerank(spark, d, queries,
        col("vec_id") >= Pq.QueryIds)
      .queryExecution.executedPlan.toString
    assert(pruned.findFirstIn(planRr).isDefined &&
      planRr.contains("refine"),
      s"refine scan absent or not partition-pruned in:\n$planRr")
    assert(!plan.contains("refine"),
      "the ADC serve path read the raw-vector sidecar")
  }

  test("ivfpq served: an empty query batch is empty, not a crash") {
    val queries = emb.filter(col("vec_id") < 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val d = IndexStore.prebuildSavedIvfPq(spark, sf)
    assert(Pq.servedIvfPqKnn(spark, d, queries, lit(true)).count() == 0)
    assert(Pq.servedIvfPqRerank(spark, d, queries, lit(true)).count() == 0)
  }

  test("ivfpq incremental append equals a full rebuild over the " +
      "union corpus, both served faces") {
    val n = emb.count()
    val cut = n / 2 // well above the 16 codebook/centroid ids
    val d = Files.createTempDirectory("graft_ivfpq_append").toString
    Pq.saveIvfPq(emb.filter(col("vec_id") < cut)
      .select("vec_id", "embedding"), d)
    Pq.appendIvfPq(emb.filter(col("vec_id") >= cut)
      .select("vec_id", "embedding"), d)
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val served = Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds)
    val fresh = Pq.knnIvfPq(emb.select("vec_id", "embedding"))
    assert(served.collect().toSeq == fresh.collect().toSeq)
    val servedRr = Pq.servedIvfPqRerank(spark, d, queries,
      col("vec_id") >= Pq.QueryIds)
    val freshRr = Pq.knnIvfPqRerank(emb.select("vec_id", "embedding"))
    assert(servedRr.collect().toSeq == freshRr.collect().toSeq)
  }

  test("ivfpq compaction: one file per list in both layouts, serving " +
      "unchanged") {
    val n = emb.count()
    val cut = n / 2
    val d = Files.createTempDirectory("graft_ivfpq_compact").toString
    Pq.saveIvfPq(emb.filter(col("vec_id") < cut)
      .select("vec_id", "embedding"), d)
    Pq.appendIvfPq(emb.filter(col("vec_id") >= cut)
      .select("vec_id", "embedding"), d)
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    def serve() = Pq.servedIvfPqRerank(spark, d, queries,
      col("vec_id") >= Pq.QueryIds).collect().toSeq
    val before = serve()
    def partFiles(sub: String): Map[String, Int] = {
      val root = new java.io.File(s"$d/$sub")
      root.listFiles().filter(_.getName.startsWith("list_id=")).map { p =>
        p.getName -> p.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(partFiles("codes").values.exists(_ > 1) ||
      partFiles("refine").values.exists(_ > 1),
      "fixture should have multi-file lists before compaction")
    Pq.compactIvfPq(spark, d)
    assert(partFiles("codes").values.forall(_ == 1) &&
      partFiles("refine").values.forall(_ == 1),
      "layouts not compacted to one file per list")
    assert(serve() == before)
  }

  test("ivfpq delete removes exactly the requested ids, rewrites only " +
      "touched lists, serves the remaining corpus") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_ivfpq_del").toString
    Pq.saveIvfPq(emb.select("vec_id", "embedding"), d)
    val n = emb.count()
    val delIds = Seq(n / 2, n / 2 + 1, n / 2 + 2).map(_.toLong)
    // untouched lists keep their files byte-identical (mtime check)
    def fileStamps(sub: String): Map[String, Long] = {
      val root = new java.io.File(s"$d/$sub")
      root.listFiles().filter(_.getName.startsWith("list_id="))
        .map(p => p.getName -> p.lastModified()).toMap
    }
    val schemaCodes = "vec_id BIGINT, " +
      (0 until Pq.NumSub).map(m => s"code_$m BIGINT").mkString(", ") +
      ", list_id BIGINT"
    val touched = spark.read.schema(schemaCodes).parquet(s"$d/codes")
      .filter(col("vec_id").isin(delIds: _*))
      .select("list_id").distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty)
    val stampsBefore = fileStamps("codes")
    Pq.deleteIvfPq(spark, d, delIds.toDF("vec_id"))
    val stampsAfter = fileStamps("codes")
    for ((dirName, t0) <- stampsBefore
         if !touched.contains(dirName.stripPrefix("list_id=").toLong))
      assert(stampsAfter(dirName) == t0,
        s"untouched list $dirName was rewritten")
    // the deleted ids are gone from both layouts
    for (sub <- Seq("codes", "refine")) {
      val remaining = spark.read.parquet(s"$d/$sub")
        .filter(col("vec_id").isin(delIds: _*)).count()
      assert(remaining == 0, s"$sub still holds deleted ids")
    }
    // serving equals the fresh build over the corpus minus deleted
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val served = Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds)
    val fresh = Pq.knnIvfPq(emb.filter(!col("vec_id").isin(delIds: _*))
      .select("vec_id", "embedding"))
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  /** A list-partitioned index family for the delete crash tests: the
    * composed IVFPQ index (codes + refine) and the flat IVF index
    * (lists) commit deletes through the same per-list swap and
    * recovery. `rows` reads (vec_id, list_id) of the first layout;
    * `served` serves the saved index at a dir, `fresh` builds over a
    * corpus frame.
    */
  private case class ListIndex(name: String, subs: Seq[String],
      save: String => Unit,
      delete: (String, org.apache.spark.sql.DataFrame) => Unit,
      compact: String => Unit,
      rows: String => org.apache.spark.sql.DataFrame,
      served: String => Seq[org.apache.spark.sql.Row],
      fresh: org.apache.spark.sql.DataFrame => Seq[org.apache.spark.sql.Row])

  private lazy val listIndexes = Seq(
    ListIndex("ivfpq", Seq("codes", "refine"),
      d => Pq.saveIvfPq(emb.select("vec_id", "embedding"), d),
      (d, ids) => Pq.deleteIvfPq(spark, d, ids),
      d => Pq.compactIvfPq(spark, d),
      d => spark.read.schema("vec_id BIGINT, " +
        (0 until Pq.NumSub).map(m => s"code_$m BIGINT").mkString(", ") +
        ", list_id BIGINT").parquet(s"$d/codes"),
      d => Pq.servedIvfPqKnn(spark, d,
        emb.filter(col("vec_id") < Pq.QueryIds)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq")),
        col("vec_id") >= Pq.QueryIds).collect().toSeq,
      e => Pq.knnIvfPq(e.select("vec_id", "embedding")).collect().toSeq),
    ListIndex("ivf", Seq("lists"),
      d => IndexStore.saveGiven(emb, d),
      (d, ids) => IndexStore.deleteGiven(spark, d, ids),
      d => IndexStore.compactGiven(spark, d),
      readLists,
      d => IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
        .collect().toSeq,
      e => Ivf.knnGivenCentroids(e, col("vec_id") < 5, 3).collect().toSeq))

  test("ivfpq delete crash recovery: a list stranded under _delete_old " +
      "rolls back into the live layout before the next maintenance pass") {
    import spark.implicits._
    val n = emb.count()
    val delIds = Seq(n / 2, n / 2 + 1, n / 2 + 2).map(_.toLong)
    for (ix <- listIndexes) {
      val d = Files.createTempDirectory(s"graft_${ix.name}_recover").toString
      ix.save(d)
      // crash simulation: a prior delete renamed one list out of each
      // live layout and died before renaming the rewrite in — the
      // sidecar holds the only copy (the r17 ADVICE scenario, where
      // the next delete's stale sweep silently destroyed it)
      val stranded = new java.io.File(s"$d/${ix.subs.head}").listFiles()
        .map(_.getName).filter(_.startsWith("list_id=")).sorted.head
      for (sub <- ix.subs) {
        val oldRoot = new java.io.File(s"$d/${sub}_delete_old")
        assert(oldRoot.mkdirs())
        assert(new java.io.File(s"$d/$sub/$stranded")
          .renameTo(new java.io.File(s"$d/${sub}_delete_old/$stranded")))
      }
      // the natural recovery: just run the next maintenance pass
      ix.delete(d, delIds.toDF("vec_id"))
      assert(new java.io.File(s"$d/${ix.subs.head}/$stranded").exists(),
        s"${ix.name}: stranded list was not rolled back")
      // serving equals the fresh build over corpus minus deleted — the
      // stranded list's vectors included
      assert(ix.served(d) == ix.fresh(emb.filter(!col("vec_id").isin(delIds: _*))),
        s"${ix.name}: serve after recovery differs from the fresh build")
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete(); ()
  }

  private def copyDirTree(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      if (f.isDirectory) copyDirTree(f, new java.io.File(dst, f.getName))
      else java.nio.file.Files.copy(f.toPath,
        new java.io.File(dst, f.getName).toPath)
    }
  }

  test("ivfpq delete crash recovery: a crash between the codes and " +
      "refine passes is repaired by re-running the delete") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_ivfpq_halfcrash").toString
    Pq.saveIvfPq(emb.select("vec_id", "embedding"), d)
    val n = emb.count()
    val delIds = Seq(n / 2, n / 2 + 1, n / 2 + 2).map(_.toLong)
    def refine = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
      .parquet(s"$d/refine")
    val touched = refine
      .filter(col("vec_id").isin(delIds: _*))
      .select("list_id").distinct().collect().map(_.getLong(0))
    assert(touched.nonEmpty)
    // snapshot the pre-delete refine state of the touched lists
    val backup = Files.createTempDirectory("graft_ivfpq_bk").toString
    for (lid <- touched)
      copyDirTree(new java.io.File(s"$d/refine/list_id=$lid"),
        new java.io.File(s"$backup/list_id=$lid"))
    Pq.deleteIvfPq(spark, d, delIds.toDF("vec_id"))
    // crash simulation: the codes pass committed but the refine pass
    // never ran — restore the pre-delete refine lists
    for (lid <- touched) {
      val live = new java.io.File(s"$d/refine/list_id=$lid")
      deleteTree(live)
      copyDirTree(new java.io.File(s"$backup/list_id=$lid"), live)
    }
    assert(refine
      .filter(col("vec_id").isin(delIds: _*)).count() == delIds.size)
    // the natural recovery: re-run the same delete. The r18 review
    // found the old touched-from-codes computation made this a no-op
    // (ids already gone from codes), stranding the raw embeddings.
    Pq.deleteIvfPq(spark, d, delIds.toDF("vec_id"))
    assert(refine
      .filter(col("vec_id").isin(delIds: _*)).count() == 0,
      "re-run left deleted embeddings in refine/")
  }

  test("ivfpq delete: a list EMPTIED by a delete stays deleted " +
      "through crash recovery (the emptied sidecar is never rolled back)") {
    import spark.implicits._
    for (ix <- listIndexes) {
      val d = Files.createTempDirectory(s"graft_${ix.name}_emptied").toString
      ix.save(d)
      val sub = ix.subs.head
      // the smallest list's full membership — deleting it empties the
      // list and its directory must drop
      val lid = ix.rows(d).groupBy("list_id").count()
        .orderBy("count", "list_id").collect()(0).getLong(0)
      val members = ix.rows(d).filter(col("list_id") === lid)
        .select("vec_id").as[Long].collect().toSeq
      val preDir = Files.createTempDirectory(s"graft_${ix.name}_pre").toString
      copyDirTree(new java.io.File(s"$d/$sub/list_id=$lid"),
        new java.io.File(s"$preDir/list_id=$lid"))
      ix.delete(d, members.toDF("vec_id"))
      assert(!new java.io.File(s"$d/$sub/list_id=$lid").exists())
      // nothing for the rollback heuristic to chew on
      assert(!new java.io.File(s"$d/${sub}_delete_old").exists())
      // crash simulation: the delete parked the emptied list under the
      // emptied sidecar but died before the final sweep
      copyDirTree(new java.io.File(s"$preDir/list_id=$lid"),
        new java.io.File(s"$d/${sub}_delete_emptied/list_id=$lid"))
      // the next maintenance pass runs recovery first — the r18 review
      // found the old single-sidecar design resurrected the rows here
      ix.compact(d)
      assert(!new java.io.File(s"$d/$sub/list_id=$lid").exists(),
        s"${ix.name}: crash recovery resurrected an emptied list")
      assert(ix.rows(d).filter(col("vec_id").isin(members: _*)).count() == 0)
    }
  }


  test("incremental append equals a full rebuild over the union corpus") {
    val n = emb.count()
    val cut = n / 2 // well above the 16 centroid ids
    val d = Files.createTempDirectory("graft_ix_append").toString
    IndexStore.saveGiven(emb.filter(col("vec_id") < cut), d)
    IndexStore.appendGiven(emb.filter(col("vec_id") >= cut), d)
    val served = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
    val fresh = Ivf.knnGivenCentroids(emb, col("vec_id") < 5, 3)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("compaction rewrites to one file per list and serves unchanged") {
    val n = emb.count()
    val cut = n / 2
    val d = Files.createTempDirectory("graft_ix_compact").toString
    IndexStore.saveGiven(emb.filter(col("vec_id") < cut), d)
    IndexStore.appendGiven(emb.filter(col("vec_id") >= cut), d)
    val before = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect().toSeq
    def partFiles: Map[String, Int] = {
      val root = new java.io.File(s"$d/lists")
      root.listFiles().filter(_.getName.startsWith("list_id=")).map { p =>
        p.getName -> p.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(partFiles.values.exists(_ > 1),
      "fixture should have multi-file lists before compaction")
    IndexStore.compactGiven(spark, d)
    assert(partFiles.values.forall(_ == 1),
      s"lists not compacted to one file each: $partFiles")
    val after = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect().toSeq
    assert(after == before)
  }

  test("the query-vector STREAM serves the batch top-k bit-equal") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val out = IndexStore.knnServeStream(
      src.toDF().toDF("query_id", "eq"), ixDir, col("vec_id") >= 5, 3)
    val q = out.writeStream.format("memory").queryName("knn_serve_stream")
      .outputMode("update").start()
    try {
      src.addData(emb.filter(col("vec_id") < 5)
        .as[(Long, Array[Float])].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("knn_serve_stream").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getInt(1)))
    val want = IndexStore.servedKnnGiven(spark, ixDir, col("vec_id") < 5, 3)
      .collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }

  test("the query-vector stream over the SAVED IVFPQ index serves the " +
      "batch residual-ADC top-k bit-equal") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = IndexStore.prebuildSavedIvfPq(spark, sf)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val out = Pq.ivfPqServeStream(
      src.toDF().toDF("query_id", "eq"), d,
      col("vec_id") >= Pq.QueryIds)
    val q = out.writeStream.format("memory")
      .queryName("ivfpq_serve_stream").outputMode("update").start()
    try {
      src.addData(emb.filter(col("vec_id") < Pq.QueryIds)
        .select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ivfpq_serve_stream").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getInt(1)))
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val want = Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds).collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }

  test("ivfpq rebalance: mass conserved in both layouts, membership " +
      "rules hold, and moved vectors RE-ENCODE against new centroids") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_ivfpq_rebal").toString
    Pq.saveIvfPq(emb.select("vec_id", "embedding"), d)
    val schemaCodes = "vec_id BIGINT, " +
      (0 until Pq.NumSub).map(m => s"code_$m BIGINT").mkString(", ") +
      ", list_id BIGINT"
    def codes = spark.read.schema(schemaCodes).parquet(s"$d/codes")
    def refine = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
      .parquet(s"$d/refine")
    def membership: Map[Long, Long] = codes.select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = membership
    val preCounts = pre.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = pre.size.toLong
    val nl = preCounts.size.toLong
    val p = IndexStore.RebalancePolicy.Tight
    val splits = preCounts.filter { case (_, n) =>
      n * nl * p.splitDen > p.splitNum * total }.keySet
    val merges = preCounts.filter { case (_, n) =>
      n * nl * p.mergeDen < p.mergeNum * total }.keySet
    val keeps = preCounts.keySet -- splits -- merges
    assert(splits.nonEmpty && merges.nonEmpty,
      "fixture must exercise both actions under the tight band")
    assert(Pq.rebalanceIvfPq(spark, d, p))
    val post = membership
    // mass conserved, both layouts aligned, merge dirs dissolved
    assert(post.size == pre.size)
    assert(refine.count() == pre.size)
    assert(codes.select("list_id").distinct().collect().map(_.getLong(0))
      .toSet == refine.select("list_id").distinct().collect()
      .map(_.getLong(0)).toSet)
    val cids = spark.read.parquet(s"$d/centroids")
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(cids == post.values.toSet,
      "centroids/ diverged from the landed list directories")
    assert(merges.forall(m => !post.values.toSet.contains(m)))
    // membership rules: keeps unmoved; merge members whole to a keep
    pre.foreach { case (v, l) =>
      if (keeps(l)) assert(post(v) == l, s"keep member $v moved")
    }
    merges.foreach { m =>
      val landed = pre.collect { case (v, l) if l == m => post(v) }.toSet
      assert(landed.size == 1 && keeps(landed.head),
        s"merge list $m scattered or landed outside keeps: $landed")
    }
    // RE-ENCODE correctness, recomputed independently from the DISK
    // artifacts: every stored code is the argmin codeword of the
    // vector's residual against its (possibly new) centroid
    val cents = spark.read.parquet(s"$d/centroids")
      .select(col("cid").as("list_id"), col("ce"))
    val cb = spark.read.parquet(s"$d/codebook")
      .select(col("cid").as("cb_cid"), col("ce").as("cbe"))
    val resid = refine.join(broadcast(cents), "list_id")
      .withColumn("resid", expr(
        "zip_with(embedding, ce, (x, c) -> cast(x as double) - cast(c as double))"))
      .select("vec_id", "list_id", "resid")
    val expectCols = (0 until Pq.NumSub).map(m =>
      max(when(col("m") === m, col("code"))).as(s"code_$m"))
    val expected = resid.crossJoin(broadcast(cb))
      .select(col("vec_id") :: col("list_id") :: col("cb_cid") ::
        (0 until Pq.NumSub).map(m =>
          Pq.subDistSqD("resid", "cbe", m).as(s"d$m")).toList: _*)
      .selectExpr("vec_id", "list_id", "cb_cid",
        s"stack(${Pq.NumSub}, ${(0 until Pq.NumSub)
          .map(m => s"$m, d$m").mkString(", ")}) as (m, dsq)")
      .groupBy("vec_id", "list_id", "m")
      .agg(min_by(col("cb_cid"), struct(col("dsq"), col("cb_cid")))
        .as("code"))
      .groupBy("vec_id", "list_id")
      .agg(expectCols.head, expectCols.tail: _*)
    // exceptAll resolves positionally — align column order first
    val cols = codes.columns.map(col)
    val expAligned = expected.select(cols: _*)
    val codesAligned = codes.select(cols: _*)
    assert(codesAligned.exceptAll(expAligned).isEmpty &&
      expAligned.exceptAll(codesAligned).isEmpty,
      "stored codes diverge from an independent re-encode of the " +
        "landed refine vectors against the landed centroids")
    // serving still answers every query with a full top-k
    val queries = emb.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    assert(Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds).collect().length == 15)
  }

  test("ivf_list_stats conserves the corpus and centers balance at 1") {
    import spark.implicits._
    val stats = IndexStore.listStatsQ(spark, sf).collect()
    val n = emb.count()
    assert(stats.map(_.getAs[Long]("n_vectors")).sum == n)
    // Σ share_ppm ≤ 1e6 with only truncation slack (< 1 ppm per list)
    val ppm = stats.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - stats.length)
    // balance = occupancy / ideal: averages to 1 by construction
    val meanBal = stats.map(_.getAs[Double]("balance")).sum / stats.length
    assert(math.abs(meanBal - 1.0) < 1e-9, s"mean balance $meanBal")
  }

  // mirror IndexStore.loadLists: partition-dir inference types
  // list_id INT where the saved layout carries LONG
  private def readLists(d: String) = spark.read
    .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, list_id BIGINT")
    .parquet(s"$d/lists")

  private def listFiles(d: String): Map[String, Set[String]] = {
    val root = new java.io.File(s"$d/lists")
    root.listFiles().filter(_.getName.startsWith("list_id=")).map { p =>
      p.getName -> p.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    }.toMap
  }

  test("delete removes exactly the requested ids and rewrites only touched lists") {
    val d = Files.createTempDirectory("graft_ix_del").toString
    IndexStore.saveGiven(emb, d)
    val n = emb.count()
    val before = listFiles(d)
    val lists = readLists(d)
    val touched = lists
      .filter(col("vec_id") >= 100 && col("vec_id") < 120)
      .select("list_id").distinct().collect()
      .map(r => s"list_id=${r.getLong(0)}").toSet
    IndexStore.deleteGiven(spark, d,
      spark.range(100, 120).withColumnRenamed("id", "vec_id"))
    val after = listFiles(d)
    assert(readLists(d).count() == n - 20)
    assert(readLists(d)
      .filter(col("vec_id") >= 100 && col("vec_id") < 120).count() == 0)
    // untouched list directories keep their exact part files — the
    // rewrite is bounded by the touched lists, not the index
    for ((lid, files) <- before if !touched(lid))
      assert(after(lid) == files, s"untouched $lid was rewritten")
    // the post-delete serve equals a fresh build over the remaining
    // corpus (deleted ids ≥ 16 leave the pinned quantizer unchanged)
    val served = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
    val fresh = Ivf.knnGivenCentroids(
      emb.filter(col("vec_id") < 100 || col("vec_id") >= 120),
      col("vec_id") < 5, 3)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("deleting a whole list drops its directory; re-append restores the serve") {
    val d = Files.createTempDirectory("graft_ix_del_all").toString
    IndexStore.saveGiven(emb, d)
    val lists = readLists(d)
    // the smallest list — its members include its own centroid id
    // (self-cosine 1), so this exercises deleting a centroid's CORPUS
    // row while the saved quantizer stays pinned
    val lid = lists.groupBy("list_id").count()
      .orderBy(col("count"), col("list_id")).first().getLong(0)
    val members = lists.filter(col("list_id") === lid).select("vec_id")
    val memberIds = members.collect().map(_.getLong(0)).toSet
    IndexStore.deleteGiven(spark, d, members)
    assert(!new java.io.File(s"$d/lists/list_id=$lid").exists(),
      s"emptied list directory list_id=$lid should be gone")
    // delete then append of the same rows is an identity on the serve
    IndexStore.appendGiven(
      emb.filter(col("vec_id").isInCollection(memberIds)), d)
    val restored = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
    val original = IndexStore.servedKnnGiven(spark, ixDir, col("vec_id") < 5, 3)
    assert(restored.collect().toSeq == original.collect().toSeq)
  }

  test("the delete gate face serves the remaining corpus through the pruned path") {
    val served = IndexStore.knnDeletedQ(spark, sf)
    val fresh = Ivf.knnGivenCentroids(
      emb.filter(col("vec_id") < IndexStore.DeletedLo ||
        col("vec_id") >= IndexStore.DeletedHi),
      col("vec_id") < 5, 3)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("bm25 served from the saved artifact is bit-identical to the fresh build") {
    import graft.text.{Bm25, RagQueries}
    val docs = Tables.documents(spark, sf)
    val d = Files.createTempDirectory("graft_bm25_ix").toString
    Bm25.save(spark, docs, "doc_id", "text", d)
    val fresh = Bm25.topK(spark, docs, "doc_id", "text",
      RagQueries.question, 5)
    val served = Bm25.servedTopK(spark, d, RagQueries.question, 5)
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
    // and the postings scan carries the query's terms as a PUSHED
    // filter — row-group pruning over the term-clustered file
    val plan = served.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan)
    assert(pushed.isDefined, s"no pushed In(term…) filter in:\n$plan")
  }

  test("hybrid RRF served from the persisted indexes matches the fresh pipeline") {
    import graft.text.RagQueries
    val served = IndexStore.hybridRrfServedQ(spark, sf)
    val fresh = RagQueries.hybridRrf(spark, sf)
    assert(served.schema == fresh.schema)
    assert(served.collect().toSeq == fresh.collect().toSeq)
  }

  test("serve-time weights scan pushes the query's term set into parquet") {
    import graft.text.{RagQueries, Tfidf}
    val served = Tfidf.searchSaved(spark,
      IndexStore.prebuildSavedTfidf(spark, sf), RagQueries.question, 5)
    val plan = served.queryExecution.executedPlan.toString
    // the weights scan must carry In(term, …) as a PUSHED filter —
    // row-group pruning over the term-clustered file is the whole
    // point of the saved layout
    val pushed = "PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan)
    assert(pushed.isDefined, s"no pushed In(term…) filter in:\n$plan")
  }

  test("embedding_drift: cells reconcile with list stats, terms non-negative") {
    val rows = IndexStore.embeddingDriftQ(spark, sf).collect()
    val stats = IndexStore.listStatsQ(spark, sf).collect()
      .map(r => r.getAs[Long]("list_id") -> r.getAs[Long]("n_vectors")).toMap
    assert(rows.map(_.getAs[Long]("list_id")).toSet == stats.keySet)
    rows.foreach { r =>
      // old + new = the list's G17 occupancy; halves partition exactly
      assert(r.getAs[Long]("n_old") + r.getAs[Long]("n_new") ==
        stats(r.getAs[Long]("list_id")))
      // (p_old - p_new) and ln(p_old/p_new) always share a sign, so
      // every PSI term is >= 0 — negative means the algebra broke
      assert(r.getAs[Double]("psi_term") >= 0.0)
      assert(r.getAs[Double]("p_old") > 0.0 && r.getAs[Double]("p_new") > 0.0)
    }
    assert(rows.map(r => r.getAs[Long]("n_old") + r.getAs[Long]("n_new")).sum ==
      Tables.embeddings(spark, sf).count())
  }

  test("embedding_drift: mirrored halves (A/A) report exactly zero PSI") {
    import spark.implicits._
    // new half duplicates the old half's vectors -> identical per-list
    // occupancy -> every smoothed share pair equal -> psi_term == 0.0
    // exactly (0 * ln(1), no float slack needed)
    val n = 40L
    val old = (0L until n).map { k =>
      k -> Array.tabulate(16)(i =>
        (math.sin(k * 17 + i * 3) * 10).toFloat)
    }
    val mirrored = old ++ old.map { case (k, v) => (k + n) -> v }
    val dir = java.nio.file.Files.createTempDirectory("drift_aa").toString
    mirrored.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = IndexStore.embeddingDriftQ(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_old") == r.getAs[Long]("n_new"))
      assert(r.getAs[Double]("psi_term") == 0.0)
    }
  }

  test("ivf_rebalance_plan: integer thresholds decide split/merge/keep") {
    import spark.implicits._
    // 4 lists, total 32, mean 8: 20 > 2×mean → split into ceil(2.5)=3;
    // 1 < mean/4 → merge; 8 and 3 inside the band → keep
    val counts = Seq((0L, 20L), (1L, 8L), (2L, 3L), (3L, 1L))
      .toDF("list_id", "n_vectors")
    val near = Seq((0L, 1L), (1L, 0L), (2L, 1L), (3L, 2L))
      .toDF("list_id", "nearest_cid")
    val byId = IndexStore.rebalanceOf(counts, near).collect()
      .map(r => r.getAs[Long]("list_id") -> r).toMap
    assert(byId(0L).getAs[String]("action") == "split")
    assert(byId(0L).getAs[Long]("split_into") == 3L)
    assert(byId(0L).isNullAt(byId(0L).fieldIndex("merge_into")))
    assert(byId(1L).getAs[String]("action") == "keep")
    assert(byId(2L).getAs[String]("action") == "keep")
    assert(byId(3L).getAs[String]("action") == "merge")
    assert(byId(3L).getAs[Long]("merge_into") == 2L)
    assert(byId.values.forall(_.getAs[Long]("total") == 32L))
  }

  test("ivf_rebalance_plan: merge target is the cosine-nearest other centroid") {
    val rows = IndexStore.rebalancePlanQ(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.head.getAs[Long]("total")
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == total)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      val L = r.getAs[Long]("n_lists")
      val expected =
        if (n * L > 2 * total) "split"
        else if (n * L * 4 < total) "merge" else "keep"
      assert(r.getAs[String]("action") == expected)
      assert(r.getAs[Long]("split_into") == (n * L + total - 1) / total)
      if (expected != "merge")
        assert(r.isNullAt(r.fieldIndex("merge_into")))
      else {
        val m = r.getAs[Long]("merge_into")
        assert(m != r.getAs[Long]("list_id") && m >= 0 && m < 16)
      }
    }
  }

  // --- G23: the rebalance EXECUTOR -----------------------------------

  private def listCounts(d: String): Map[Long, Long] =
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, list_id BIGINT")
      .parquet(s"$d/lists")
      .groupBy("list_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("rebalance executes splits and merges; mass is conserved") {
    val d = Files.createTempDirectory("graft_ix_rebal").toString
    IndexStore.saveGiven(emb, d)
    val pre = listCounts(d)
    val total = pre.values.sum
    val nl = pre.size.toLong
    val p = IndexStore.RebalancePolicy.Tight
    val splits = pre.filter { case (_, n) =>
      n * nl * p.splitDen > p.splitNum * total }.keySet
    val merges = pre.filter { case (_, n) =>
      n * nl * p.mergeDen < p.mergeNum * total }.keySet
    assert(splits.nonEmpty && merges.nonEmpty,
      "fixture must exercise both actions under the tight band")
    IndexStore.rebalanceGiven(spark, d, p)
    val post = listCounts(d)
    // mass conserved across the rewrite
    assert(post.values.sum == total)
    // merge source directories dissolved
    assert(merges.forall(m => !post.contains(m)),
      "a merge list survived the rebalance")
    // split parents replaced by smaller sub-lists: every new list id
    // (a quantile-seeded member) carries fewer rows than its parent
    val newIds = post.keySet -- pre.keySet
    assert(newIds.nonEmpty, "splits produced no new sub-lists")
    assert(newIds.forall(id => post(id) < splits.map(pre).max),
      "a sub-list did not shrink below the split maximum")
    // the post-rebalance quantizer is exactly the surviving lists
    val cids = spark.read.parquet(s"$d/centroids")
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(cids == post.keySet,
      "centroids/ diverged from the landed list directories")
    // serving still answers every query with a full top-k
    val served = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect()
    assert(served.length == 15)
    // no staging residue after a completed commit
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$d/lists_rebalance_staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$d/centroids_old")))
  }

  test("rebalance under the standard band is a no-op on a balanced index") {
    // the gate corpus assigns near-uniformly: every list sits inside
    // the 2×/¼ band, so the standard-policy pass must not touch disk
    val d = Files.createTempDirectory("graft_ix_rebal_noop").toString
    IndexStore.saveGiven(emb, d)
    val before = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect().toSeq
    val pre = listCounts(d)
    IndexStore.rebalanceGiven(spark, d, IndexStore.RebalancePolicy.Standard)
    assert(listCounts(d) == pre)
    val after = IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect().toSeq
    assert(after == before)
  }

  test("rebalanceUntilBand converges under the standard band on a " +
      "skewed layout: terminates all-keep, corpus whole every pass") {
    val d = Files.createTempDirectory("graft_ix_rebal_conv").toString
    IndexStore.saveGiven(emb, d)
    val schema =
      "vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, list_id BIGINT"
    // synthetic SKEWED occupancy: one fat list (half the corpus), two
    // starving lists, the rest untouched — the executor never assumes
    // argmax-consistent membership, so relabeling is a legal fixture
    val relabeled = spark.read.schema(schema).parquet(s"$d/lists")
      .withColumn("list_id",
        when(col("list_id") < 8, 0L)
          .when(col("list_id") === 9,
            when(col("vec_id") % 2 === 0, 9L).otherwise(10L))
          .otherwise(col("list_id")))
      .localCheckpoint(true)
    val survivors = relabeled.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    relabeled.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$d/lists_skewed")
    val cents = spark.read.parquet(s"$d/centroids")
      .filter(col("cid").isin(survivors: _*)).localCheckpoint(true)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/lists"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/lists_skewed"),
      new org.apache.hadoop.fs.Path(s"$d/lists"))
    cents.write.mode("overwrite").parquet(s"$d/centroids")

    def corpus: Set[Long] = spark.read.schema(schema)
      .parquet(s"$d/lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fullCorpus = corpus
    val p = IndexStore.RebalancePolicy.Standard
    def outOfBand(counts: Map[Long, Long]): Set[Long] = {
      val total = counts.values.sum
      val nl = counts.size.toLong
      counts.filter { case (_, n) =>
        n * nl * p.splitDen > p.splitNum * total ||
          n * nl * p.mergeDen < p.mergeNum * total }.keySet
    }
    val pre = listCounts(d)
    assert(outOfBand(pre).nonEmpty,
      "fixture must start outside the standard band")
    // drive pass by pass (each commits eagerly), checking the corpus
    // is whole after EVERY committed pass — the crash-between-passes
    // contract (this loop caught the orphaned-merge-centroid mass
    // loss pre-fix)
    var passes = 0
    var acted = true
    while (acted && passes < 8) {
      acted = IndexStore.rebalanceGiven(spark, d, p)
      if (acted) {
        passes += 1
        assert(corpus == fullCorpus,
          s"pass $passes lost or invented vectors")
      }
    }
    assert(passes < 8, "rebalance did not converge within the cap")
    assert(passes >= 1, "fixture should need at least one pass")
    assert(outOfBand(listCounts(d)).isEmpty,
      s"final layout not all-keep: ${outOfBand(listCounts(d))}")
    // the public loop reports 0 further passes on a converged index
    assert(IndexStore.rebalanceUntilBand(spark, d, p) == 0)
    // serving still answers every query with a full top-k
    assert(IndexStore.servedKnnGiven(spark, d, col("vec_id") < 5, 3)
      .collect().length == 15)
  }

  test("rebalanceUntilBand reports the cap on an unsatisfiable band " +
      "instead of looping forever") {
    // the tight ±10% band on 500 near-uniform vectors oscillates
    // (dissolution concentrates past the split threshold, splits
    // overshoot) — the cap return value is the operator's widen-the-
    // band signal, and mass stays conserved throughout
    val d = Files.createTempDirectory("graft_ix_rebal_cap").toString
    IndexStore.saveGiven(emb, d)
    val total = listCounts(d).values.sum
    val passes = IndexStore.rebalanceUntilBand(spark, d,
      IndexStore.RebalancePolicy.Tight, maxPasses = 3)
    assert(passes == 3, "tight band unexpectedly converged (fixture drift?)")
    assert(listCounts(d).values.sum == total,
      "capped iteration lost vectors")
  }

  test("dissolved lists land whole in their cosine-nearest keep list") {
    val d = Files.createTempDirectory("graft_ix_rebal_tgt").toString
    IndexStore.saveGiven(emb, d)
    def membership: Map[Long, Long] = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, nsq DOUBLE, list_id BIGINT")
      .parquet(s"$d/lists")
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val preMembers = membership
    val pre = listCounts(d)
    val total = pre.values.sum
    val nl = pre.size.toLong
    val p = IndexStore.RebalancePolicy.Tight
    val merges = pre.filter { case (_, n) =>
      n * nl * p.mergeDen < p.mergeNum * total }.keySet
    val splits = pre.filter { case (_, n) =>
      n * nl * p.splitDen > p.splitNum * total }.keySet
    val keeps = pre.keySet -- merges -- splits
    IndexStore.rebalanceGiven(spark, d, p)
    val postMembers = membership
    merges.foreach { m =>
      val members = preMembers.collect { case (v, l) if l == m => v }
      val landed = members.map(postMembers).toSet
      assert(landed.size == 1, s"merge list $m scattered: $landed")
      assert(keeps(landed.head),
        s"merge list $m landed in a non-keep list ${landed.head}")
    }
    // keep members never move
    preMembers.collect { case (v, l) if keeps(l) => (v, l) }.foreach {
      case (v, l) => assert(postMembers(v) == l, s"keep member $v moved")
    }
  }

  test("J21 ivfpq ingest stream: vector micro-batches append " +
      "idempotently and the served index equals fresh-over-union") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = emb.filter(col("vec_id") < 400)
    val d = Files.createTempDirectory("graft_ivfpq_ingest").toString
    val ckpt = Files.createTempDirectory("graft_ivfpq_ingest_ck").toString
    // seed the index over the low band (contains the quantizer ids)
    Pq.saveIvfPq(all.filter(col("vec_id") < 200), d)
    val b1 = all.filter(col("vec_id") >= 200 && col("vec_id") < 300)
      .as[(Long, Array[Float])].collect().toSeq
    val b2 = all.filter(col("vec_id") >= 300)
      .as[(Long, Array[Float])].collect().toSeq
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streaming.ivfPqIngestStream(
        src.toDF().toDF("vec_id", "embedding"), d)
      .option("checkpointLocation", ckpt).start()
    try {
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val schemaCodes = "vec_id BIGINT, " +
      (0 until Pq.NumSub).map(m => s"code_$m BIGINT").mkString(", ") +
      ", list_id BIGINT"
    def nCodes = spark.read.schema(schemaCodes)
      .parquet(s"$d/codes").count()
    assert(nCodes == 400)
    // at-least-once re-delivery: replaying a COMMITTED batch id is a
    // no-op (the _appended marker), not a duplicate append
    graft.sim.Pq.appendIvfPqOnce(
      b1.toDF("vec_id", "embedding"), d, 0L)
    assert(nCodes == 400, "re-delivered batch duplicated vectors")
    // served-after-ingest == fresh index over the union corpus
    val queries = all.filter(col("vec_id") < Pq.QueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val got = Pq.servedIvfPqKnn(spark, d, queries,
      col("vec_id") >= Pq.QueryIds).collect().toSeq
    val dFresh = Files.createTempDirectory("graft_ivfpq_ingest_f").toString
    Pq.saveIvfPq(all, dFresh)
    val want = Pq.servedIvfPqKnn(spark, dFresh, queries,
      col("vec_id") >= Pq.QueryIds).collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }
}
