package graft

import org.apache.spark.sql.functions._

import graft.Harness.Item
import graft.sources.Tables
import graft.tools.TimeItems

/** The rung harness: the [[Amplify]] fixture's shape (row counts,
  * disjoint per-copy keys, zero cross-copy text pairs), [[Harness]]'s
  * sweep contract (a throwing item is recorded and later items run;
  * warm mode times builds once), its artifact, `TimeItems`' argument
  * check, and a source scan that keeps the harness the only timer in
  * `src/main`.
  */
class RungSpec extends SparkSpec {

  test("amplified rows are mult × base rows and per-copy key ranges are disjoint") {
    val base = Tables.table(spark, sf, "orders")
    val n = base.count()
    for (mult <- Seq(2, 3); k <- Seq("o_orderkey", "o_custkey")) {
      val amp = Amplify(base, mult, Seq("o_orderkey", "o_custkey"))
      assert(amp.count() == mult * n)
      val copies = amp.groupBy(floor(col(k) / Amplify.KeyOffset).as("copy"))
        .agg(min(k), max(k), count(lit(1)))
        .orderBy("copy").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(copies.map(_._1).toSeq == (0 until mult).map(_.toLong), k)
      assert(copies.forall(_._4 == n), s"$k rows per copy: ${copies.toSeq}")
      copies.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 < b._2, s"$k copies ${a._1} and ${b._1} overlap")
      }
    }
  }

  test("×2 permuted text gives exactly 2 × the ×1 ngram-Jaccard pairs, none across copies") {
    val docs = Tables.table(spark, sf, "documents")
    def pairs(mult: Int) = dedup.Dedup.ngramJaccardPairs(
      Amplify(docs, mult, Seq("doc_id"), Amplify.letters("text")), "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val one = pairs(1)
    val two = pairs(2)
    assert(one.nonEmpty, "the base corpus has no near-dup pairs: the check is vacuous")
    assert(two.length == 2 * one.length)
    assert(two.forall { case (a, b) => a / Amplify.KeyOffset == b / Amplify.KeyOffset },
      "a pair crosses copies")
  }

  test("a throwing item records its error and later items still run") {
    val stats = Harness.sweep(spark, "RUNGSPEC", Seq(
      Item("boom", () => throw new IllegalStateException("planted")),
      Item("after", () => spark.range(3).count())), sweeps = 2)
    assert(!stats(0).ok && stats(0).runs.size == 2)
    assert(stats(0).json.contains("\"err\":\"IllegalStateException: planted\""))
    assert(stats(1).secs.size == 2 && stats(1).rows.contains(3L))
  }

  test("the artifact parses with one entry per item, each carrying rows") {
    val stats = Harness.sweep(spark, "RUNGSPEC",
      Seq(1L, 5L, 7L).map(k => Item(s"range_$k", () => spark.range(k).count())), sweeps = 2)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Harness.artifact("RungSpec", stats, Seq("sf" -> sf, "mult" -> 2)))
    val items = json.get("items")
    assert(items.size == 3)
    for (k <- Seq(1L, 5L, 7L)) {
      val e = items.get(s"range_$k")
      assert(e.get("rows").asLong == k && e.get("n").asInt == 2 &&
        e.get("codegen_compiles").size == 2, e.toString)
    }
    assert(json.get("facts").get("sf").asText == sf && json.get("facts").get("mult").asInt == 2)
  }

  test("warm mode clears memos before sweep 1 only and times builds on sweep 1 only") {
    def sweep(warm: Boolean): (Seq[Harness.Stat], Int) = {
      var builds = 0
      val stats = Harness.sweep(spark, "RUNGSPEC", Seq(
        Item("build", () => Memo.once("RungSpec.warm", spark, warm) { builds += 1 }, build = true),
        Item("query", () => spark.range(2).count())), sweeps = 3, warm = warm)
      (stats, builds)
    }
    val (warm, warmBuilds) = sweep(warm = true)
    assert(warm(0).runs.size == 1 && warm(0).json.contains("\"n\":1,"), warm(0).json)
    assert(warm(1).runs.size == 3 && warmBuilds == 1)
    val (cold, coldBuilds) = sweep(warm = false)
    assert(cold(0).runs.size == 3 && cold(1).runs.size == 3 && coldBuilds == 3)
  }

  test("TimeItems resolves names to builds then queries, and rejects bad arguments") {
    val builds = Seq("b1", "b2", "b3")
    val queries = Set("q1", "q2")
    def resolve(args: String*) = TimeItems.resolve(args, builds, queries)
    assert(resolve() == Left(TimeItems.Usage))
    assert(resolve("q2,b3,b1", "sf", "2") == Right((Seq("b1", "b3", "q2"), 2)))
    assert(resolve("all") == Right((builds, 1)))
    assert(resolve("q1", "sf", "0") == Left(TimeItems.Usage))
    assert(resolve("q1", "sf", "x") == Left(TimeItems.Usage))
    resolve("q1,nosuch") match {
      case Left(msg) => assert(msg.contains("nosuch") && msg.endsWith(TimeItems.Usage))
      case r => fail(s"unknown name accepted: $r")
    }
  }

  test("no System.nanoTime in src/main outside the harness and Profiling") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    val allowed = Set("graft/Harness.scala", "graft/Profiling.scala")
    val offending = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.indices.collect {
        case i if lines(i).contains("nanoTime") && !allowed(rel) =>
          s"$rel:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offending.isEmpty,
      offending.mkString("timers outside graft.Harness:\n", "\n", ""))
  }
}
