package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one ×mult fixture for the scaling rungs: `mult` copies of a
  * table unioned by name, copy i offsetting each key column by
  * i·[[KeyOffset]] so key cardinality scales with volume (per-copy key
  * ranges are disjoint while the base keys stay below the offset).
  *
  * Copies may also get a per-copy transform. Text copies must NOT
  * near-dup each other, or pair counts grow quadratically in mult and
  * connected components measure output size, not operator scaling: a
  * per-copy letter substitution ([[letters]]) preserves every
  * WITHIN-copy similarity exactly while making cross-copy Jaccard land
  * below tau. Embeddings get a dimension permutation ([[dims]]), with
  * a different expectation: a vector's cosine against a permuted copy
  * of ITSELF clears a 0.45 threshold with ~constant probability for
  * clustered vectors, and (vector, copy-pair) combinations grow as
  * mult², so cross-copy pairs appear at large mult under ANY fixed
  * per-copy isometry — linear pair-count checks are read from the text
  * ops, whose cross-copy leakage is zero.
  */
object Amplify {

  val KeyOffset = 100000000L

  def apply(base: DataFrame, mult: Int, keys: Seq[String],
      perCopy: Int => DataFrame => DataFrame = _ => identity): DataFrame =
    (0 until mult).map { i =>
      perCopy(i)(keys.foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + lit(i * KeyOffset))
      })
    }.reduce(_ unionByName _)

  /** Seeded Fisher–Yates permutation of 0 until n — uniformly mixed
    * for EVERY seed. (A rotation aliases with period n; a
    * Lehmer-indexed permutation is worse: for index i « n! only the
    * last few positions move, so copies share all but ~log(i)
    * coordinates.)
    */
  def perm(n: Int, seed: Long): Array[Int] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + n)
    val out = Array.range(0, n)
    for (k <- n - 1 to 1 by -1) {
      val j = r.nextInt(k + 1)
      val t = out(k); out(k) = out(j); out(j) = t
    }
    out
  }

  private val Alphabet = "etaoinshr"

  /** Copy i's letter substitution of text column `c`. */
  def letters(c: String)(i: Int)(df: DataFrame): DataFrame =
    df.withColumn(c, translate(col(c), Alphabet,
      perm(Alphabet.length, i).map(Alphabet).mkString))

  /** Copy i's dimension permutation of embedding column `c`. */
  def dims(c: String)(i: Int)(df: DataFrame): DataFrame =
    df.withColumn(c, expr(perm(sim.Ivf.Dim, i)
      .map(d => s"element_at($c, ${d + 1})").mkString("array(", ", ", ")")))
}
