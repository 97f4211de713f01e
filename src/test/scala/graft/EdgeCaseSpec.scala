package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Degenerate-input robustness: empty strings, single tokens, and
  * texts shorter than k-gram/shingle windows must flow through the
  * text/dedup operators without errors (they are filtered or yield
  * empty results, never crash).
  */
class EdgeCaseSpec extends SparkSpec {

  private def tiny = {
    import spark.implicits._
    Seq(
      (1L, ""),
      (2L, "a"),
      (3L, "ab"),
      (4L, "the the the"),
      (5L, "hello world this is a reasonable document for testing"))
      .toDF("doc_id", "text")
  }

  test("quality/token metrics survive empty and single-char texts") {
    val q = graft.text.Analysis.quality(tiny, "text").collect()
    assert(q.length == 5)
    val t = graft.text.Analysis.tokenCounts(tiny, "text").collect()
    assert(t.length == 5)
  }

  test("fingerprints skip texts shorter than the window") {
    val f = graft.text.Fingerprint.fingerprints(tiny, "doc_id", "text")
    val ids = f.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L) && !ids.contains(2L))
    assert(ids.contains(5L))
  }

  test("tf-idf postings: stopword-only text produces no postings") {
    val p = graft.text.Tfidf.postings(tiny, "doc_id", "text")
    val ids = p.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L)) // empty
    assert(!ids.contains(4L)) // "the the the" all stopwords
    assert(ids.contains(5L))
    // doc 5 has bigrams
    assert(p.filter(col("id") === 5L && col("term").contains(" ")).count() > 0)
  }

  test("minhash pipeline tolerates sub-shingle-length docs") {
    val sh = graft.dedup.Dedup.shingleSets(tiny, "doc_id", "text")
    val ids = sh.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L))
    val buckets = graft.dedup.Dedup.minhashBuckets(sh)
    assert(buckets.count() > 0)
  }

  test("ngram jaccard tolerates docs with fewer than three tokens") {
    // docs 1-3 have <3 whitespace tokens: they must contribute zero
    // trigrams (not crash on out-of-range indexing)
    val g = graft.dedup.Dedup.trigramRows(tiny, "doc_id", "text")
    val ids = g.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(4L, 5L))
    // and the full pair pipeline runs end-to-end on the tiny corpus
    val pairs = graft.dedup.Dedup
      .ngramJaccardPairs(tiny, "doc_id", "text", 0.5).collect()
    assert(pairs.isEmpty)
  }

  test("simhash handles empty token sets without crashing") {
    val sims = graft.dedup.Dedup.simhash(tiny, "doc_id", "text").collect()
    assert(sims.length == 5) // empty text still yields a (degenerate) hash
  }

  test("memo planKey distinguishes same-schema checkpointed frames") {
    import spark.implicits._
    // two DIFFERENT checkpoints with identical schemas: canonicalized
    // plan text alone cannot tell them apart (exprIds normalize and a
    // LogicalRDD leaf has no identity in canonical form) — the key
    // must differ or a memo built on one silently serves the other
    val a = Seq((1L, "a")).toDF("id", "v").localCheckpoint(true)
    val b = Seq((2L, "b")).toDF("id", "v").localCheckpoint(true)
    assert(graft.Memo.planKey(a) != graft.Memo.planKey(b))
    // while repeated keying of the same frame is stable
    assert(graft.Memo.planKey(a) == graft.Memo.planKey(a))
    // the same hole for UN-checkpointed local frames: a LocalRelation
    // prints only its output attributes, so two same-schema local
    // frames with different rows must still key apart (caught live —
    // a cross-suite model-cache collision between two toDF panels)
    val la = Seq((1L, "a")).toDF("id", "v")
    val lb = Seq((2L, "b")).toDF("id", "v")
    assert(graft.Memo.planKey(la) != graft.Memo.planKey(lb))
    assert(graft.Memo.planKey(la) == graft.Memo.planKey(la))
  }

  test("memo planKey distinguishes same-schema parquet corpora by path") {
    import spark.implicits._
    // the round-10 wrong-answer bug: a parquet LogicalRelation's
    // canonical text carries no file path, so two same-schema corpora
    // in one session shared a key — the upper-rung fixture was served
    // the 500-vector testdata IVF index. Keys must differ by path.
    val dirA = "/tmp/graft_memo_path_a"
    val dirB = "/tmp/graft_memo_path_b"
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(dirA)
    Seq((2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(dirB)
    val a = spark.read.parquet(dirA)
    val b = spark.read.parquet(dirB)
    assert(graft.Memo.planKey(a) != graft.Memo.planKey(b))
    // …while a RE-READ of the same dir still keys identically (the
    // whole point of the memo — one build per corpus per session)
    assert(graft.Memo.planKey(a) == graft.Memo.planKey(spark.read.parquet(dirA)))
  }

  test("memo hits on a same-corpus re-read and misses across corpora") {
    import spark.implicits._
    val dirA = "/tmp/graft_memo_hit_a"
    val dirB = "/tmp/graft_memo_hit_b"
    Seq((1L, 10.0)).toDF("id", "x").write.mode("overwrite").parquet(dirA)
    Seq((2L, 20.0)).toDF("id", "x").write.mode("overwrite").parquet(dirB)
    var builds = 0
    def memoOf(dir: String) =
      graft.Memo.small("edgecase_hitmiss", spark.read.parquet(dir)) {
        builds += 1
        spark.read.parquet(dir).groupBy().count()
      }
    val firstA = memoOf(dirA)
    assert(builds == 1)
    memoOf(dirA) // same corpus, fresh read → HIT (no rebuild)
    assert(builds == 1, "path-qualified keys must not disable memoization")
    val firstB = memoOf(dirB) // different corpus → MISS (new build)
    assert(builds == 2)
    assert(firstA.head.getLong(0) == 1L && firstB.head.getLong(0) == 1L)
  }

  // --- memo key properties: generated pairs of inputs that must NOT
  // share a registry entry, each checked by counting builds

  private val keySeed = org.scalacheck.rng.Seed(7L)

  /** Deterministic sample of size n from a generator. */
  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.iterate(keySeed)(_.next).slice(1, n + 1)
      .map(s => g.pureApply(Gen.Parameters.default, s)).toSeq

  private val rowsGen: Gen[List[(Long, String)]] = Gen.choose(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 99L), Gen.listOfN(3, Gen.alphaLowerChar)
      .map(_.mkString))))

  private val distinctRowPairs: Gen[(List[(Long, String)], List[(Long, String)])] =
    Gen.zip(rowsGen, rowsGen).suchThat { case (a, b) => a != b }

  /** Builds run when keying `a`, then `b`, then `a` again (freshly
    * derived) under one fresh tag: 2 when the keys differ and a
    * repeat hits. */
  private def builds(tag: String)(a: () => Seq[Any], b: () => Seq[Any]): Int = {
    var n = 0
    Memo.once(tag, spark, a(): _*) { n += 1 }
    Memo.once(tag, spark, b(): _*) { n += 1 }
    Memo.once(tag, spark, a(): _*) { n += 1 }
    n
  }

  test("memo key property: same-schema local frames with different rows") {
    import spark.implicits._
    sample(distinctRowPairs, 20).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(builds(s"EdgeCaseSpec.local$i")(
        () => Seq(Memo.planKey(ra.toDF("id", "v"))),
        () => Seq(Memo.planKey(rb.toDF("id", "v")))) == 2, s"$ra vs $rb")
    }
  }

  test("memo key property: same-schema parquet dirs; a re-read still hits") {
    import spark.implicits._
    sample(Gen.zip(rowsGen, rowsGen), 3).zipWithIndex.foreach { case ((ra, rb), i) =>
      val (dirA, dirB) = (s"/tmp/graft_memo_prop_${i}_a", s"/tmp/graft_memo_prop_${i}_b")
      ra.toDF("id", "v").write.mode("overwrite").parquet(dirA)
      rb.toDF("id", "v").write.mode("overwrite").parquet(dirB)
      assert(builds(s"EdgeCaseSpec.parquet$i")(
        () => Seq(Memo.planKey(spark.read.parquet(dirA))),
        () => Seq(Memo.planKey(spark.read.parquet(dirB)))) == 2, s"$dirA vs $dirB")
    }
  }

  test("memo key property: two checkpoints of same-schema frames") {
    import spark.implicits._
    // the rows may even be equal: each checkpoint is its own input
    sample(Gen.zip(rowsGen, rowsGen), 5).zipWithIndex.foreach { case ((ra, rb), i) =>
      val a = ra.toDF("id", "v").localCheckpoint(true)
      val b = rb.toDF("id", "v").localCheckpoint(true)
      assert(builds(s"EdgeCaseSpec.checkpoint$i")(
        () => Seq(Memo.planKey(a)), () => Seq(Memo.planKey(b))) == 2)
    }
  }

  test("memo key property: the same plan with different key parts") {
    import spark.implicits._
    val key = Memo.planKey(Seq((1L, "a b c")).toDF("doc_id", "text"))
    val taus = Gen.zip(Gen.choose(1, 99), Gen.choose(1, 99))
      .suchThat { case (x, y) => x != y }.map { case (x, y) => (x / 100.0, y / 100.0) }
    (sample(taus, 10) :+ ((0.5, 0.6))).zipWithIndex.foreach { case ((ta, tb), i) =>
      assert(builds(s"EdgeCaseSpec.tau$i")(
        () => Seq(key, ta), () => Seq(key, tb)) == 2, s"tau $ta vs $tb")
    }
    assert(builds("EdgeCaseSpec.textCol")(
      () => Seq(key, "doc_id", "text"), () => Seq(key, "doc_id", "title")) == 2)
    // …and through the real sites: a second build is a new value
    val docs = tiny.withColumn("title", upper(col("text")))
    assert(graft.dedup.NearDup.index(docs, 0.5) ne graft.dedup.NearDup.index(docs, 0.6))
    assert(graft.dedup.NearDup.index(docs, 0.5) eq graft.dedup.NearDup.index(docs, 0.5))
    assert(graft.text.Tfidf.index(docs, "doc_id", "text") ne
      graft.text.Tfidf.index(docs, "doc_id", "title"))
    assert(graft.text.Tfidf.index(docs, "doc_id", "text") eq
      graft.text.Tfidf.index(docs, "doc_id", "text"))
  }

  test("memo key property: key parts are never joined into one string") {
    // ("a|b", "c") and ("a", "b|c") join to the same "a|b|c"
    val tokens = Gen.choose(3, 5).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar)
        .map(_.mkString))))
    val splits = tokens.flatMap(ts => Gen.zip(Gen.choose(1, ts.size - 1),
      Gen.choose(1, ts.size - 1)).suchThat { case (i, j) => i != j }.map(ij => (ts, ij)))
    sample(splits, 20).zipWithIndex.foreach { case ((ts, (i, j)), n) =>
      def parts(at: Int) = Seq(ts.take(at).mkString("|"), ts.drop(at).mkString("|"))
      assert(parts(i).mkString("|") == parts(j).mkString("|"))
      assert(builds(s"EdgeCaseSpec.joined$n")(() => parts(i), () => parts(j)) == 2,
        s"${parts(i)} vs ${parts(j)}")
    }
    assert(builds("EdgeCaseSpec.joined")(
      () => Seq("a|b", "c"), () => Seq("a", "b|c")) == 2)
  }

  test("substring_dedup tolerates sub-window docs and empty corpora") {
    import spark.implicits._
    val out = graft.dedup.Dedup.substringDup(tiny, "doc_id", "text").collect()
    // only doc 5 reaches the 30-char window; nothing shares, so no dups
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(5L))
    assert(out.forall(_.getAs[Long]("n_dup") == 0L))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.Dedup.substringDup(empty, "doc_id", "text").count() == 0)
  }

  test("incremental dedup with an all-new or all-indexed corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a long enough document body that shingles nicely into grams"),
      (2L, "a long enough document body that shingles nicely into grams"))
      .toDF("doc_id", "text")
    // all indexed: nothing to probe -> no pairs
    val allOld = docs.sparkSession.createDataFrame(
      Seq((1L, false), (2L, false))).toDF("doc_id", "is_new")
    assert(graft.dedup.DedupQueries.incrementalPairs(docs, allOld).count() == 0)
    // all new: within-batch dedup still pairs them once
    val allNew = docs.sparkSession.createDataFrame(
      Seq((1L, true), (2L, true))).toDF("doc_id", "is_new")
    val rows = graft.dedup.DedupQueries.incrementalPairs(docs, allNew).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("new_id") == 2L
      && rows.head.getAs[Long]("dup_of") == 1L)
  }

  test("funnel and cohorts survive an empty event stream") {
    import spark.implicits._
    import java.sql.Timestamp
    val empty = Seq.empty[(Long, String, Timestamp)]
      .toDF("user_id", "event_type", "ts")
    assert(graft.streaming.StreamQueries.funnel(empty).count() == 0)
    assert(graft.streaming.StreamQueries.cohorts(
      empty.select("user_id", "ts")).count() == 0)
  }

  test("MAD outliers emit nothing for constant or empty streams") {
    import spark.implicits._
    import graft.analytics.EventOps
    // constant series: mad = 0 -> guard suppresses every row (no
    // divide-by-zero, no NaN ordering surprises)
    val const = (1L to 20L).map(i => (i, "x", 5.0))
      .toDF("event_id", "event_type", "value")
    assert(EventOps.anomalyMadOf(const).count() == 0)
    val empty = Seq.empty[(Long, String, Double)]
      .toDF("event_id", "event_type", "value")
    assert(EventOps.anomalyMadOf(empty).count() == 0)
  }

  test("ts_decompose needs 24 points before emitting anything") {
    import spark.implicits._
    import java.sql.Timestamp
    // 10 hourly points < 24-window -> no full window, empty result
    val few = (0 until 10).map { i =>
      ("x", new Timestamp(i * 3600L * 1000L), 1.0 + i)
    }.toDF("event_type", "ts", "value")
    assert(graft.analytics.EventOps.tsDecomposeOf(few).count() == 0)
  }

  test("graph ops survive an empty pair set") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Double)]
      .toDF("doc_a", "doc_b", "jaccard")
    assert(graft.dedup.Graph.degreeOf(none).count() == 0)
    assert(graft.dedup.Graph.pagerankOf(none).count() == 0)
  }

  test("attribution with no purchases yields no conversions") {
    import spark.implicits._
    import java.sql.Timestamp
    val e = Seq((1L, 1L, "view", new Timestamp(1000L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    assert(graft.analytics.EventOps.attributionOf(e).count() == 0)
  }

  test("given-centroids ops on a corpus smaller than the centroid set") {
    import spark.implicits._
    // 3 vectors, all ids < GivenCentroids: every vector is its own
    // centroid (cos=1 with itself beats anything else) and nothing
    // in a singleton list can be dropped
    val dim = 64
    def oneHot(i: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    val emb = (0 until 3).map(i => (i.toLong, oneHot(i)))
      .toDF("vec_id", "embedding")
    val sd = graft.sim.Ivf.semdedupGivenCentroids(emb).collect()
    assert(sd.length == 3)
    assert(sd.forall(_.getAs[Boolean]("keep")))
    assert(sd.forall(r => r.getAs[Long]("list_id") == r.getAs[Long]("vec_id")))
    // no vector passes the query predicate -> empty search, no crash
    import org.apache.spark.sql.functions.col
    assert(graft.sim.Ivf.knnGivenCentroids(emb, col("vec_id") < 0, 3)
      .count() == 0)
  }

  test("neardup dispatch survives an empty embedding corpus") {
    import spark.implicits._
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.dedup.DedupQueries.neardupAuto(none, 0.45).count() == 0)
  }

  test("gbt family degrades to empty on an untrainable panel") {
    import spark.implicits._
    // a single 5-year series: both supervised (post-dropna) rows land
    // in the test split, so there are ZERO train rows — no model can
    // fit. The GBT entry points must return empty (not throw from
    // MLlib), and selection must fall back to the Holt candidate
    // (n = 5 qualifies it: n ≥ 5 and n > test_size + 2)
    val o = (2000 to 2004).map(y => ("G", "P", y, 100.0 + 3.0 * (y - 2000)))
      .toDF("geo", "indicator", "year", "value")
    assert(graft.forecast.Gbt.forecast(o).isEmpty)
    assert(graft.forecast.Gbt.forecastGiven(o).isEmpty)
    assert(graft.forecast.Gbt.holdoutRmse(o).isEmpty)
    assert(graft.forecast.Gbt.holdoutRmseGiven(o).isEmpty)
    assert(graft.forecast.Gbt.modelFor(o).isEmpty)
    val sel = graft.forecast.Forecast.modelSelectGiven(o).collect()
    assert(sel.length == 1)
    assert(sel.head.getAs[String]("model_used") == "holt")
    assert(sel.head.isNullAt(sel.head.fieldIndex("rmse_gbt")))
    val fs = graft.forecast.Forecast.forecastSeriesGiven(o).collect()
    // holt winner: full 5-row history + 5 forecast rows
    assert(fs.count(_.getAs[String]("type") == "historical") == 5)
    assert(fs.count(_.getAs[String]("type") == "forecast") == 5)
    // fully empty panel: every entry point yields empty, no crash
    val none = Seq.empty[(String, String, Int, Double)]
      .toDF("geo", "indicator", "year", "value")
    assert(graft.forecast.Gbt.forecast(none).isEmpty)
    assert(graft.forecast.Forecast.modelSelectGiven(none).isEmpty)
    assert(graft.forecast.Forecast.forecastSeriesGiven(none).isEmpty)
  }

  test("dsir survives an empty corpus and a target no doc matches") {
    import spark.implicits._
    val none = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    assert(graft.pipeline.Corpus.dsir(none, Seq("src0"), 10).isEmpty)
    // no doc in the target: the target distribution degrades to the
    // uniform add-one prior — weights still finite, draw still total
    val docs = (0L until 8L).map(i => (i, "srcX", s"alpha beta tok$i"))
      .toDF("doc_id", "source", "text")
    val out = graft.pipeline.Corpus.dsir(docs, Seq("src0"), 10).collect()
    assert(out.length == 8)
    out.foreach { r =>
      assert(!r.getAs[Double]("logw").isNaN &&
        !r.getAs[Double]("logw").isInfinite)
      assert(!r.getAs[Double]("score").isNaN &&
        !r.getAs[Double]("score").isInfinite)
    }
  }
}
