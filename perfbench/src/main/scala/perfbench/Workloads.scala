package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Caches
import graft.analytics.{Chatbot, Dashboard, Insights}
import graft.dedup.{Dedup, DedupQueries, NearDup}
import graft.etl.Observations
import graft.forecast.ForecastQueries
import graft.pipeline.Corpus
import graft.sim.Pq
import graft.sources.Tables
import graft.text.Tfidf

/** Full materialization of a result: every row and every projected
  * column is computed and shipped to the client. Never `count()`,
  * which lets Catalyst prune the projections it does not need.
  */
object Materialize {
  def rows(df: DataFrame): Array[Row] = df.collect()

  /** Order-insensitive digest of materialized rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** One timed operation: wall and process CPU milliseconds. */
final case class Op(kind: String, ms: Double, cpuMs: Double, traced: Boolean)

/** What a run measured and what went wrong in it. */
final class RunLog {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Output checks handed to run.py (DuckDB oracle replays). */
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String)]

  def fail(msg: String): Unit = failures += msg

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Time `f` as one operation of `kind`. */
  def timed[A](kind: String, traced: Boolean)(f: => A): A = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    ops += Op(kind, (System.nanoTime() - t0) / 1e6,
      (os.getProcessCpuTime - c0) / 1e6, traced)
    r
  }

  /** Largest heap in use right after a full GC, that is the largest
    * live set, sampled between rounds (outside the timed window).
    */
  var peakHeapMb = 0.0
  def sampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  /** Run one output check; a thrown error is a failed check too. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) fail(s"check failed: $name") }
    catch { case e: Exception => fail(s"$name: $e") }
  }

  /** Digests seen per operation key; a later different one fails. */
  private val digests = mutable.Map.empty[String, String]
  def sameAsBefore(key: String, rows: Array[Row]): Unit = {
    val d = Materialize.digest(rows)
    digests.get(key) match {
      case Some(prev) if prev != d => fail(s"result of $key changed across repeats")
      case None => digests(key) = d
      case _ =>
    }
  }
}

/** A seeded workload over generated inputs. */
trait Workload {
  /** Build the state the timed operations read (memos, indexes). */
  def prebuild(): Unit = ()
  /** Run the timed code once before timing it (JIT, codegen caches). */
  def warmup(log: RunLog): Unit = ()
  /** Closed loop, one client, for at least `seconds`. */
  def measure(seconds: Double, traced: Boolean, log: RunLog): Unit
  /** Output checks, outside the timed window. */
  def check(log: RunLog): Unit
  /** Items one operation delivers, for `throughput_per_s`. */
  def itemsPerOp: Double
  /** Workload-specific entries for the run-context record. */
  val context = mutable.LinkedHashMap.empty[String, Any]
}

object Workload {
  val Modules: Seq[String] =
    Seq("etl", "analytics", "forecast", "text", "sim", "dedup", "pipeline")

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run each group of tasks in order on its own thread; rethrow the
    * first failure once all threads have ended.
    */
  def inThreads(groups: Seq[Seq[() => Unit]]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = groups.map(g => new Thread(() =>
      try g.foreach(_()) catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** From the untraced operations:
    * - `latency_ms`: geometric mean over operation kinds of each kind's
    *   median latency, so every kind weighs the same whatever its cost;
    * - `cpu_ms`: the same over process CPU time (all threads), which
    *   CPU time stolen by other tenants of the host does not inflate;
    * - `throughput_per_s`: `itemsPerOp` items per operation over the
    *   client's busy time (requests, or corpus documents, per second).
    */
  def endToEnd(log: RunLog, itemsPerOp: Double): Seq[(String, Double, String)] = {
    val ops = log.ops.filter(!_.traced).toSeq
    def geoMeanOfKindMedians(f: Op => Double): Double = {
      val perKind = ops.groupBy(_.kind).values.map(v => Stats.median(v.map(f))).toSeq
      math.exp(Stats.mean(perKind.map(math.log)))
    }
    Seq(("latency_ms", geoMeanOfKindMedians(_.ms), "ms"),
      ("cpu_ms", geoMeanOfKindMedians(_.cpuMs), "ms"),
      ("throughput_per_s", itemsPerOp * ops.size / (ops.map(_.ms).sum / 1000.0), "1/s"))
  }
}

/** The analysts' interactive surface: dashboard, insight, chatbot and
  * forecast requests over the observations panel, in seeded rounds of
  * all 13 request kinds.
  */
final class DashboardWorkload(spark: SparkSession, dir: String,
    requests: Seq[(Int, String, String)], checkDir: String, tr: Trace)
    extends Workload {

  private val kinds = requests.filter(_._1 == 0).map(_._2)

  private def op(kind: String, arg: String): (String, () => DataFrame) =
    kind match {
      case "top_n_latest" => ("analytics", () => Dashboard.topNLatest(spark, dir))
      case "country_trend" => ("analytics", () => Dashboard.countryTrend(spark, dir))
      // re-runs Observations.build on every call: the ETL leg
      case "explorer_filter" => ("etl", () => Dashboard.explorerFilter(spark, dir))
      case "top_countries_mean" =>
        ("analytics", () => Dashboard.topCountriesMean(spark, dir))
      case "top_countries_sum" =>
        ("analytics", () => Dashboard.topCountriesSum(spark, dir))
      case "pivot_heatmap" => ("analytics", () => Dashboard.pivotHeatmap(spark, dir))
      case "insights_trend" => ("analytics", () => Insights.insightsTrend(spark, dir))
      case "insight_text" => ("analytics", () => Insights.insightText(spark, dir))
      case "fastest_rising" => ("analytics", () => Insights.fastestRising(spark, dir))
      case "chat_intent" | "chat_semantic" =>
        ("analytics", () => Chatbot.answer(spark, dir, arg)._2)
      case "forecast_series" =>
        ("forecast", () => ForecastQueries.forecastSeries(spark, dir))
      case "forecast_series_given_model" =>
        ("forecast", () => ForecastQueries.forecastSeriesGivenQ(spark, dir))
    }

  /** The first measured result of each kind, for the oracle replay. */
  private val firstResult = mutable.Map.empty[String, (StructType, Array[Row])]

  private def request(kind: String, arg: String): (StructType, Array[Row]) = {
    val (module, f) = op(kind, arg)
    val df = tr.call(module, kind)(f())
    (df.schema, tr.action(kind)(Materialize.rows(df)))
  }

  private def argOf(kind: String): String =
    requests.find(_._2 == kind).map(_._3).getOrElse("")

  /** Clear every memo, then run one request of each kind: this builds
    * what the requests read (the observations panel, the trend
    * statistics, the chatbot's TF-IDF index, the forecast models) and,
    * in a fresh JVM, warms up every request's code path.
    */
  override def prebuild(): Unit = {
    Caches.clearAll()
    context("prebuild_ms") = kinds.map { k =>
      val s = System.nanoTime()
      request(k, argOf(k))
      k -> (System.nanoTime() - s) / 1e6
    }.toMap
  }

  override def measure(seconds: Double, traced: Boolean, log: RunLog): Unit = {
    val rounds = requests.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    val t0 = System.nanoTime()
    var i = 0
    var r = 0
    // whole rounds, as many as come closest to `seconds`
    while (r == 0 || Workload.elapsedS(t0) * (1 + 0.5 / r) < seconds) {
      rounds(r % rounds.size).foreach { case (_, kind, arg) =>
        val expect = if (kind == "chat_intent") Chatbot.Intent else Chatbot.Semantic
        if (kind.startsWith("chat_") && Chatbot.route(arg) != expect)
          log.fail(s"$kind question routed wrongly: $arg")
        val traceThis = traced && i % 2 == 0
        log.attempted += 1
        try {
          if (traceThis) {
            tr.begin()
            tr.memo("etl.Observations.panel")(Observations.panel(spark, dir))
          }
          val rows = log.timed(kind, traceThis)(request(kind, arg))
          if (traceThis) tr.end(kind)
          log.sameAsBefore(s"$kind|$arg", rows._2)
          if (!firstResult.contains(kind)) firstResult(kind) = rows
        } catch {
          case e: Exception =>
            if (traceThis) tr.end(kind)
            log.fail(s"$kind failed: $e")
        }
        i += 1
      }
      r += 1
      log.sampleHeap()
    }
  }

  /** Each request kind that has an oracle SQL entry dumps the rows its
    * first measured request returned, for the DuckDB replay. A chatbot
    * intent answer is the fastest-rising query. Semantic chatbot
    * answers and the trained forecast have no oracle and are checked
    * for repeat identity only, as is the given-model forecast: its
    * oracle SQL squares panel sums in DECIMAL(18), which DuckDB
    * overflows once a panel cell sums past about 1e7 (always at sf0.1).
    */
  override def check(log: RunLog): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    kinds.filter(_ != "forecast_series_given_model").foreach { kind =>
      val oracleName = if (kind == "chat_intent") "fastest_rising" else kind
      for (sql <- oracles.get(oracleName); (schema, rows) <- firstResult.get(kind)) {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$kind")
        log.oracleChecks += ((kind, sql))
      }
    }
  }

  override def itemsPerOp: Double = 1.0
}

/** The data engineers' batch pipeline: one pass clears every memo and
  * runs exact dedup, near-dup index and clustering, the keep verdicts,
  * SimHash, n-gram Jaccard pairs, the TF-IDF index, embedding near-dup
  * pairs and the IVFPQ index save over a permuted multi-copy corpus.
  */
final class CorpusWorkload(spark: SparkSession, dir: String, scratch: String,
    copies: Int, copyOffset: Long, tr: Trace) extends Workload {

  private val docs = Tables.documents(spark, dir).select("doc_id", "text")
  private val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
  private var last: Map[String, Array[Row]] = Map.empty

  /** The pipeline's stages in pass order; each puts its materialized
    * results into `out`. With `guard`, a memoized build right after
    * Caches.clearAll must launch a Spark job, or the pass fails.
    */
  private def stages(log: RunLog, out: mutable.Map[String, Array[Row]],
      guard: Boolean): Seq[() => Unit] = {
    def put(name: String)(df: => DataFrame): Unit = {
      val rows = tr.action(name)(Materialize.rows(df))
      out.synchronized(out(name) = rows)
    }
    def step(module: String, name: String)(f: => DataFrame): () => Unit = () => {
      val df = tr.call(module, name)(f)
      put(name)(df)
    }
    def cold[A](entry: String, module: String, name: String)(f: => A): A = {
      val (v, launched) = tr.memo(entry)(tr.call(module, name)(f))
      if (guard && !launched) log.fail(s"$entry served a memo hit after Caches.clearAll")
      v
    }
    Seq(
      step("dedup", "exact_md5")(DedupQueries.dedupExact(spark, dir)),
      () => {
        val nd = cold("dedup.NearDup.index", "dedup", "neardup_index")(NearDup.index(docs))
        put("neardup_pairs")(nd.pairs)
        put("neardup_labels")(nd.labels)
      },
      step("pipeline", "verdicts")(Corpus.verdictsOf(docs)),
      step("dedup", "simhash")(Dedup.simhash(docs, "doc_id", "text")),
      step("dedup", "ngram_jaccard")(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)),
      () => {
        val ix = cold("text.Tfidf.index", "text", "tfidf_index")(
          Tfidf.index(docs, "doc_id", "text"))
        put("tfidf_norms")(ix.norms)
      },
      step("dedup", "embedding_neardup")(DedupQueries.neardupPairs(emb, 0.45)),
      () => tr.call("sim", "save_ivfpq")(Pq.saveIvfPq(emb, s"$scratch/ivfpq")))
  }

  /** One pipeline pass from cold memos, its stages on `threads` threads. */
  private def pass(log: RunLog, threads: Int = 1): Map[String, Array[Row]] = {
    val out = mutable.Map.empty[String, Array[Row]]
    Caches.clearAll()
    val all = stages(log, out, guard = threads == 1)
    Workload.inThreads(all.indices.groupBy(_ % threads).values.toSeq
      .map(_.sorted.map(all)))
    out.toMap
  }

  private def timedPass(log: RunLog, traced: Boolean): Unit = {
    log.attempted += 1
    try {
      if (traced) tr.begin()
      val res = log.timed("pass", traced)(pass(log))
      if (traced) tr.end("pass")
      log.sampleHeap()
      keep(log, res)
    } catch {
      case e: Exception =>
        if (traced) tr.end("pass")
        log.fail(s"pass failed: $e")
    }
  }

  /** One untimed pass, its stages on two threads: in a fresh JVM most
    * of a pass is JIT and codegen, which a smaller corpus would not
    * make cheaper, but which overlaps well.
    */
  override def warmup(log: RunLog): Unit = keep(log, pass(log, threads = 2))

  /** Every pass must reproduce the first pass's results exactly. */
  private def keep(log: RunLog, res: Map[String, Array[Row]]): Unit = {
    res.foreach { case (k, rows) => log.sameAsBefore(k, rows) }
    last = res
  }

  /** Whole passes, as many as come closest to `seconds`. A traced run
    * alternates traced and untraced passes and runs at least one of each.
    */
  override def measure(seconds: Double, traced: Boolean, log: RunLog): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || Workload.elapsedS(t0) * (1 + 0.5 / i) < seconds ||
        (traced && i < 2)) {
      timedPass(log, traced && i % 2 == 0)
      i += 1
    }
  }

  private def copyOf(id: Long): Long = id / copyOffset

  override def check(log: RunLog): Unit = {
    def pairsWithinCopies(step: String): Boolean =
      last.get(step).exists(_.forall { r =>
        copyOf(r.getAs[Long]("doc_a")) == copyOf(r.getAs[Long]("doc_b")) })
    log.check("no near-dup pair crosses corpus copies")(pairsWithinCopies("neardup_pairs"))
    log.check("no n-gram pair crosses corpus copies")(pairsWithinCopies("ngram_jaccard"))
    // letter substitution is a bijection on texts, so every copy has
    // the same exact-duplicate structure
    log.check("exact-dup verdicts are equal in every copy") {
      last.get("verdicts").exists { rows =>
        val dropped = rows.filter(r => !r.getAs[Boolean]("keep_exact"))
          .groupBy(r => copyOf(r.getAs[Long]("doc_id"))).view.mapValues(_.length)
        (0L until copies).map(c => dropped.getOrElse(c, 0)).toSet.size == 1
      }
    }
  }

  /** Corpus documents: the verdicts hold one row per document. */
  override def itemsPerOp: Double =
    last.get("verdicts").map(_.length.toDouble).getOrElse(0.0)
}
