package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.plans.{DotF32, HoltGridFit, MinHashSig, QuantFold}

/** Session extensions: registers graft's native codegen expressions
  * into the SQL function registry, so they're callable from pure SQL
  * in any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (`Engine.session` sets
  * it; a cluster sets it at launch):
  *
  *   - `dot_f32(x, y)` — whole-stage-codegen float-array dot product
  *   - `minhash_sig(hashes, numHashes, prime)` — all-k MinHash
  *     signature in one pass (numHashes/prime must be literals)
  *   - `holt_grid_fit(values, grid)` — Holt (α, β) grid fit over a
  *     series' value array (grid must be a literal double array)
  *   - `collect_topk(item, k, largestFirst)` — bounded-heap per-group
  *     top-k aggregate (map-side partial; k/largestFirst literals) —
  *     the aggregate-shaped alternative to `row_number() OVER` + filter
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotF32].getName, name),
        builder))
    }
}

object GraftExtensions {

  /** Evaluate a foldable argument (literal or literal array) at plan
    * time; parameters like the hash count or the fit grid shape the
    * generated code, so they cannot be row-dependent.
    */
  private def constant(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal, got: ${e.sql}")
    e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
  }

  private def constLong(e: Expression, what: String): Long =
    constant(e, what) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got: $other")
    }

  private def constDoubles(e: Expression, what: String): Seq[Double] = {
    val arr = constant(e, what).asInstanceOf[ArrayData]
    val elemType = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(t, _) => t
      case t => throw new IllegalArgumentException(
        s"$what must be an array literal, got type $t")
    }
    elemType match {
      case DoubleType => arr.toDoubleArray().toSeq
      case LongType => arr.toLongArray().toSeq.map(_.toDouble)
      case org.apache.spark.sql.types.IntegerType =>
        arr.toIntArray().toSeq.map(_.toDouble)
      // bare SQL numeric literals (e.g. 0.05) arrive as decimals
      case d: org.apache.spark.sql.types.DecimalType =>
        (0 until arr.numElements())
          .map(i => arr.getDecimal(i, d.precision, d.scale).toDouble)
      case t => throw new IllegalArgumentException(
        s"$what must be a numeric array literal, got element type $t")
    }
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_f32" -> ((exprs: Seq[Expression]) => DotF32(exprs(0), exprs(1))),
    "minhash_sig" -> ((exprs: Seq[Expression]) => MinHashSig(
      exprs(0),
      constLong(exprs(1), "minhash_sig numHashes").toInt,
      constLong(exprs(2), "minhash_sig prime"))),
    "holt_grid_fit" -> ((exprs: Seq[Expression]) => HoltGridFit(
      exprs(0), constDoubles(exprs(1), "holt_grid_fit grid"))),
    // quantized-exact folds (bit-identical to the zip_with/aggregate
    // decimal(24,12) HOF chains — see graft.plans.QuantKernels):
    //   qdot(x, y)                — Σ quant(x_i · y_i)
    //   qdistsq(x, y[, off, len]) — Σ quant((x_i − y_i)²) over a
    //     0-based [off, off+len) window (omitted = whole arrays)
    "qdot" -> ((exprs: Seq[Expression]) =>
      QuantFold(exprs(0), exprs(1), sq = false, offset = 0, length = -1)),
    "qdistsq" -> ((exprs: Seq[Expression]) =>
      if (exprs.length >= 4)
        QuantFold(exprs(0), exprs(1), sq = true,
          offset = constLong(exprs(2), "qdistsq offset").toInt,
          length = constLong(exprs(3), "qdistsq length").toInt)
      else QuantFold(exprs(0), exprs(1), sq = true,
        offset = 0, length = -1)),
    "collect_topk" -> ((exprs: Seq[Expression]) =>
      org.apache.spark.sql.graftbridge.Bridge.collectTopK(
        exprs(0),
        constLong(exprs(1), "collect_topk k").toInt,
        reverse = constant(exprs(2), "collect_topk largestFirst") match {
          case b: Boolean => !b
          case other => throw new IllegalArgumentException(
            s"collect_topk largestFirst must be a boolean literal, got: $other")
        })))
}
