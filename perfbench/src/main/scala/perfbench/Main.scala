package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Benchmark JVM: runs one workload over inputs that run.py generated,
  * and writes what it measured as one JSON object. run.py owns the
  * command line contract, input generation and the DuckDB replays.
  *
  * Usage: perfbench.Main --workload W --input DIR --scratch DIR
  *   --seconds S --trace 0|1 --out FILE [--spans FILE]
  *   [--copies N --copy-offset N]
  */
object Main {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(value: Any): String = mapper.writeValueAsString(value)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val input = args("input")
    val scratch = args("scratch")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"

    val t0 = System.nanoTime()
    val spark = graft.Engine.session("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val collector = new Collector
    sc.addSparkListener(collector)
    spark.listenerManager.register(collector)
    val tr = new Trace(sc, collector)
    val log = new RunLog

    val w: Workload = workload match {
      case "dashboard" =>
        val reqs = Files.readAllLines(Paths.get(input, "requests.tsv")).asScala
          .map(_.split("\t", -1)).map(a => (a(0).toInt, a(1), a(2))).toSeq
        new DashboardWorkload(spark, input, reqs, s"$scratch/check", tr)
      case "corpus_build" =>
        new CorpusWorkload(spark, input, scratch, args("copies").toInt,
          args("copy-offset").toLong, tr)
      case other => sys.error(s"unknown workload $other")
    }

    val p0 = System.nanoTime()
    w.prebuild()
    val prebuildS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime()
    w.warmup(log)
    val warmupS = (System.nanoTime() - w0) / 1e9
    w.measure(seconds, traced, log)
    val c0 = System.nanoTime()
    w.check(log)
    val checkS = (System.nanoTime() - c0) / 1e9

    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        val layers = tr.layerMetrics(Workload.Modules)
        // per operation kind: traced minus untraced median latency
        val overhead = log.ops.groupBy(_.kind).values.flatMap { v =>
          val on = v.filter(_.traced).map(_.ms).toSeq
          val off = v.filterNot(_.traced).map(_.ms).toSeq
          if (on.isEmpty || off.isEmpty) None
          else Some(Stats.median(on) - Stats.median(off))
        }.toSeq
        layers :+ (("trace.overhead_ms", Stats.median(overhead), "ms"))
      } else
        Workload.endToEnd(log, w.itemsPerOp)

    args.get("spans").filter(_ => traced).foreach { f =>
      Files.writeString(Paths.get(f), Trace.spansJson(tr.allSpans))
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val context = w.context.toMap ++ Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "spark_version" -> spark.version,
      "spark_conf" -> sc.getConf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" ||
          k.startsWith("spark.driver.memory") }.sortBy(_._1).toMap,
      "prebuild_s" -> prebuildS,
      "warmup_s" -> warmupS,
      "check_s" -> checkS,
      "peak_heap_mb" -> log.peakHeapMb,
      "loop" -> "closed",
      "clients" -> 1,
      "measured_ops" -> log.ops.size,
      "op_ms" -> log.ops.map(o => Seq(o.kind, math.round(o.ms))).toSeq)

    val result = json(Map(
      "session_s" -> sessionS,
      "prebuild_s" -> prebuildS,
      "warmup_s" -> warmupS,
      "attempted" -> log.attempted,
      "failures" -> log.failures.toSeq,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "oracle_checks" -> log.oracleChecks.map { case (k, sql) => Map("kind" -> k, "sql" -> sql) }.toSeq,
      "context" -> context))
    Files.writeString(Paths.get(args("out")), result + "\n")
    spark.stop()
  }
}

