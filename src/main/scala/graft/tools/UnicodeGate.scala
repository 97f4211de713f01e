package graft.tools

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Non-ASCII HASH-GATE fixture (round-10 VERDICT item #6): the sf0.01
  * documents corpus plus a deterministic non-ASCII slab — the
  * UnicodeTextSpec content classes (CJK with no whitespace,
  * surrogate-pair emoji with skin-tone modifiers, combining
  * diacritics, RTL Arabic, Cyrillic, zero-width characters inside
  * tokens, math symbols) — so the H/F/D text operators are verified
  * against DuckDB on content where java.util.regex, UTF8String
  * semantics and md5-of-UTF-8 could plausibly disagree with DuckDB's
  * RE2/UTF-8 implementations. UnicodeTextSpec pins Spark-side
  * invariants; this fixture puts the same content classes inside the
  * cross-engine hash gate (`scripts/unicode_gate.py` orchestrates).
  *
  * Slab shape: 7 content classes × 8 members. Members 0-5 append a
  * deterministic md5-derived ASCII suffix word (distinct texts that
  * share the class's non-ASCII prefix — near-dup structure for the
  * F family); member 6 repeats member 0's text byte-for-byte and
  * member 7 is the bare class text (exact-dup pairs for dedup_exact/
  * minhash). Everything is a pure function of (class, member) — no
  * rand(), no clock — so regeneration is bit-identical.
  */
object UnicodeGate {

  /** The UnicodeTextSpec content classes (kept in sync by
    * UnicodeGateFixtureSpec).
    */
  val ContentClasses: Seq[(String, String)] = Seq(
    ("zh", "机器学习模型需要大量高质量的训练数据来学习语言的统计规律"),
    ("en", "training data 🚀🔥 quality 👍🏽 matters 💯"),
    ("fr", "café naïve résumé déjà vu et café combining"),
    ("ar", "البيانات الجيدة تصنع نماذج جيدة"),
    ("ru", "качественные данные важны для обучения моделей машинного обучения"),
    ("en", "hello​world with‍ zero width characters inside tokens"),
    ("en", "σ² = Σ(x−μ)²/n ∀x ∈ ℝ statistics notation"))

  val MembersPerClass = 8

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Member text: class prefix + per-member suffix word (members 0-5),
    * member 0's text again (member 6), the bare class text (member 7).
    */
  def memberText(cls: Int, member: Int): String = {
    val base = ContentClasses(cls)._2
    member match {
      case 7 => base
      case 6 => memberText(cls, 0)
      case m => base + " " + md5hex(s"uni|$cls|$m").substring(0, 6)
    }
  }

  /** The slab + the source corpus's documents, written as the fixture
    * dir's documents.parquet. Slab ids continue after the source max
    * so the base corpus rows are untouched.
    */
  def writeFixture(spark: SparkSession, srcDir: String,
      outDir: String): Unit = {
    import spark.implicits._
    val base = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val maxId = base.agg(max("doc_id")).head.getLong(0)
    val slab = (for {
      c <- ContentClasses.indices
      m <- 0 until MembersPerClass
    } yield {
      val t = memberText(c, m)
      (maxId + 1 + (c * MembersPerClass + m).toLong, t,
        ContentClasses(c)._1, "uni",
        t.codePointCount(0, t.length).toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
    base.unionByName(slab).coalesce(2)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_unicode_gate")
    val srcDir =
      if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.Engine.session("graft-unicode-gate")
    writeFixture(spark, srcDir, outDir)
    val n = spark.read.parquet(s"$outDir/documents.parquet").count()
    println(s"unicode-gate fixture at $outDir: $n documents " +
      s"(${ContentClasses.size * MembersPerClass} non-ASCII slab rows)")
    spark.stop()
  }
}
