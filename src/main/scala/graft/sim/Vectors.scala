package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns (SURVEY §2 G3).
  *
  * All reductions quantize each product term to DECIMAL(24,12) and sum
  * exactly, for the same reason as [[graft.Fp]]: double folds are
  * order-dependent and the DuckDB oracle computes the same reduction
  * relationally. 1e-12 quantization is far below embedding noise and
  * far above double ulps, so ranking behavior is unaffected.
  *
  * ORACLE TIE-ROUNDING (round-11 fix of the upper-rung knn_join
  * mismatch): Spark's double→decimal cast rounds the SHORTEST STRING
  * repr half-up (`BigDecimal(Double.toString)`), while DuckDB's casts
  * round the exact binary value — the two disagree on "printed ties"
  * (shortest repr ending in 5 one digit past the scale; measured
  * ~2.4e-5 per float-product term) and DuckDB's DECIMAL→DOUBLE is not
  * correctly rounded above ~1e3. Every oracle therefore routes BOTH
  * casts through VARCHAR — `CAST(CAST(x AS VARCHAR) AS DECIMAL(24,12))`
  * and `CAST(CAST(sum(…) AS VARCHAR) AS DOUBLE)` — which reproduces
  * Spark's semantics bit-exactly (0 mismatches in 7e5 probes;
  * DuckDB's double→VARCHAR prints the same shortest repr, its
  * VARCHAR→DECIMAL parse rounds digits half-up, and VARCHAR→DOUBLE
  * is strtod-exact). The Spark side is untouched.
  *
  * Everything is `functions._`/higher-order — no UDF, no
  * serialization; arrays stay in Tungsten format.
  */
object Vectors {

  /** Quantized-exact dot product of two float-array columns — the
    * codegen'd [[graft.plans.QuantFold]] kernel (bit-identical to the
    * former zip_with/aggregate HOF chain, which evaluated interpreted
    * with one Decimal allocation per element — see QuantFoldSpec).
    */
  def dot(x: String, y: String): Column =
    graft.plans.VectorExpressions.qdot(col(x), col(y))

  /** [[dot]] over Column operands. */
  def dotCols(x: Column, y: Column): Column =
    graft.plans.VectorExpressions.qdot(x, y)

  /** Fast codegen'd dot ([[graft.plans.DotF32]]) — NOT decimal-
    * quantized; used as a prefilter so the exact decimal dot only
    * runs near the decision boundary (the double fold is within
    * ~1e-12 relative of the quantized value, so a 1e-6 margin is
    * conservative).
    */
  def dotFast(x: String, y: String): Column =
    graft.plans.VectorExpressions.dotF32(col(x), col(y))

  /** Squared L2 norm. */
  def normSq(x: String): Column =
    graft.plans.VectorExpressions.qdot(col(x), col(x))

  def l2Norm(x: String): Column = sqrt(normSq(x))

  /** Cosine similarity from precomputed squared norms. */
  def cosineFrom(dotCol: Column, normSqX: Column, normSqY: Column): Column =
    dotCol / (sqrt(normSqX) * sqrt(normSqY))
}
