package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.dedup.NearDup
import graft.sim.IndexStore
import graft.sources.Tables
import graft.text.Tfidf

/** [[Memo.once]] is graft's one registry of session-scoped state; these
  * specs pin its contract: one build per key under concurrency, no
  * caching of failures, per-key (not global) locking, re-entrant
  * builds, stopped-session eviction, and bench clearing that really
  * makes the next memoized build cold. A source scan keeps the
  * registry the only session cache in `src/main`.
  */
class MemoRegistrySpec extends SparkSpec {

  /** Spark jobs started by `body`, counted by a listener: jobs are
    * tagged with a job group, and a sentinel job flushes the
    * asynchronous listener bus before counting. */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val groups = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("memo-registry-spec", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("memo-registry-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groups.synchronized(!groups.contains("memo-registry-spec-sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      groups.synchronized {
        assert(groups.contains("memo-registry-spec-sentinel"), "sentinel job never seen")
        groups.count(_ == "memo-registry-spec")
      }
    } finally sc.removeSparkListener(listener)
  }

  /** Run `n` tasks on `n` threads at once; their results in order. */
  private def inThreads[A](n: Int)(task: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse((0 until n).toList)(i => Future(task(i))), 60.seconds)
    finally pool.shutdownNow()
  }

  test("8 concurrent first calls for one key run one build and share its value") {
    val builds = new AtomicInteger
    val ready = new CountDownLatch(8)
    val vs = inThreads(8) { _ =>
      ready.countDown()
      ready.await() // all 8 threads call at once
      Memo.once("MemoRegistrySpec.race", spark, "k") {
        builds.incrementAndGet()
        Thread.sleep(200) // hold the build open while the others arrive
        new Object
      }
    }
    assert(builds.get == 1)
    assert(vs.forall(_ eq vs.head))
  }

  test("a build that throws caches nothing; the next call builds again") {
    var calls = 0
    intercept[IllegalStateException] {
      Memo.once("MemoRegistrySpec.fail", spark, "k") {
        calls += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(Memo.once("MemoRegistrySpec.fail", spark, "k") { calls += 1; 42 } == 42)
    assert(Memo.once("MemoRegistrySpec.fail", spark, "k") { calls += 1; 0 } == 42)
    assert(calls == 2)
  }

  test("builds of different keys do not wait for each other") {
    // build A waits for build B to start: a registry-wide lock would
    // make B wait for A, and A would time out
    val bStarted = new CountDownLatch(1)
    val done = inThreads(2) { i =>
      if (i == 0) Memo.once("MemoRegistrySpec.perKey", spark, "a") {
        bStarted.await(20, TimeUnit.SECONDS)
      } else {
        Thread.sleep(100) // let A take its lock first
        Memo.once("MemoRegistrySpec.perKey", spark, "b") { bStarted.countDown(); true }
      }
    }
    assert(done == Seq(true, true))
  }

  test("a build may call once for another key") {
    // nested builds are real: BloomJoin.prebuildIndexed calls
    // Compactor.prebuild, the trend memos read the panel memo
    val outer = Memo.once("MemoRegistrySpec.outer", spark, "k") {
      Memo.once("MemoRegistrySpec.inner", spark, "k")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(Memo.once("MemoRegistrySpec.inner", spark, "k")("rebuilt") == "inner")
  }

  test("a stopped session's entry is evicted and not served to the next session") {
    // needs its own JVM: stopping the shared spec session would break
    // every later suite
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = (javaBin +: org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptionArray().toSeq) ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), "graft.MemoStoppedSessionCheck")
    val out = java.io.File.createTempFile("graft_memo_stopped", ".out")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(out)
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    val p = pb.start()
    val done = p.waitFor(180, TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); p.waitFor() }
    val text = new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
    out.delete()
    assert(done, "child JVM timed out")
    val result = text.linesIterator.find(_.startsWith("RESULT ")).getOrElse(
      fail(s"no RESULT line from the child JVM:\n${text.takeRight(3000)}"))
    assert(result == "RESULT builds=2 value=second entries=1")
  }

  test("after Caches.clearAll the registry is empty and memoized builds run cold") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val entries: Seq[(String, () => Any)] = Seq(
      "NearDup.index" -> (() => NearDup.index(docs)),
      "Tfidf.index" -> (() => Tfidf.index(docs, "doc_id", "text")),
      "IndexStore.prebuildSaved" -> (() => IndexStore.prebuildSaved(spark, sf)))
    entries.foreach { case (_, f) => f() }
    assert(Memo.size >= entries.size)
    Caches.clearAll()
    assert(Memo.size == 0)
    entries.foreach { case (name, f) =>
      assert(jobsIn(f()) >= 1, s"$name served a memo hit after Caches.clearAll")
      assert(jobsIn(f()) == 0, s"$name rebuilt on a warm call")
    }
  }

  test("no session cache outside the registry in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    // allowed: the registry itself, the file-listing reader cache that
    // Caches.clearAll deliberately keeps, and the two model-derived
    // oracle text maps (String → String, not session memos)
    val allowedFiles = Set("graft/Memo.scala", "graft/sources/Tables.scala")
    val allowedDynOracles = Set("graft/pipeline/Corpus.scala",
      "graft/forecast/ForecastQueries.scala")
    val offending = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.indices.collect {
        case i if (lines(i).contains("isStopped") || lines(i).contains("TrieMap")) &&
            !allowedFiles(rel) &&
            !(allowedDynOracles(rel) && lines(i).contains("TrieMap.empty[String, String]") &&
              i > 0 && lines(i - 1).trim == "private val dynOracles =") =>
          s"$rel:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offending.isEmpty,
      offending.mkString("session caches outside graft.Memo:\n", "\n", ""))
  }
}

/** Child-JVM half of the stopped-session spec: build an entry in one
  * session, stop it, then ask for the same key in a new session. */
object MemoStoppedSessionCheck {
  def main(args: Array[String]): Unit = {
    var builds = 0
    val first = Engine.session("memo-stopped-first")
    Memo.once("MemoStoppedSessionCheck.value", first, "k") { builds += 1; "first" }
    first.stop()
    val second = Engine.session("memo-stopped-second")
    val v = Memo.once("MemoStoppedSessionCheck.value", second, "k") {
      builds += 1; "second"
    }
    println(s"RESULT builds=$builds value=$v entries=${Memo.size}")
    second.stop()
  }
}
