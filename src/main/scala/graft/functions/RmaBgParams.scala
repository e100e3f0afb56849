package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** RMA background parameters (μ, σ, α) of one sample, from the
  * sample's collected non-null values and its row count (nulls
  * included) — the per-sample estimation of
  * [[graft.operators.Normalize.rmaBackground]] in one expression over
  * one keyed aggregation's output.
  *
  * A native expression, not a `mapGroups` closure: the plan stays
  * comparable with `sameResult`, so relation holds above it keep
  * matching on a re-run.
  *
  * Arithmetic is the relational estimator's, step for step, with
  * Spark's double ordering (NaN above everything, -0.0 = 0.0):
  *  - range lo/hi over non-null values, bin width w = (hi − lo) / bins;
  *  - bin = least(floor((v − lo) / w), bins − 1) when w > 0, else 0;
  *    null cells fall in the top bin when w > 0 (`least` skips
  *    nulls) and in bin 0 otherwise;
  *  - mode ties go to the lower bin; m₁ = lo + (mbin + 0.5) · w;
  *  - the values strictly below m₁ are re-binned over [lo, m₁) with
  *    w₂ = (m₁ − lo) / bins, μ = lo + (mbin₂ + 0.5) · (m₁ − lo) / bins;
  *  - σ = √(2 · mean((v − μ)² | v < μ)), α = 1 / mean(v − μ | v > μ).
  * A missing estimate (no values, nothing below m₁, an empty tail, a
  * zero mean excess) is null. Sums run over the values in ascending
  * order, so the result does not depend on the order the aggregation
  * collected them in. */
case class RmaBgParams(values: Expression, rows: Expression, bins: Int)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = values
  override def right: Expression = rows

  override def dataType: DataType = RmaBgParams.schema

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (values.dataType, rows.dataType) match {
      case (ArrayType(DoubleType, false), LongType) if bins > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rma_bg_params requires (array<double> without nulls, bigint) and bins > 0, got " +
          s"${values.dataType} / ${rows.dataType}, bins = $bins")
    }

  override def nullSafeEval(v: Any, n: Any): Any =
    new GenericInternalRow(RmaBgParams.estimate(
      v.asInstanceOf[ArrayData].toDoubleArray(), n.asInstanceOf[Long], bins))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : Expression = copy(values = newLeft, rows = newRight)
}

object RmaBgParams {
  val schema: StructType = StructType(Seq("mu", "sigma", "alpha")
    .map(StructField(_, DoubleType, nullable = true)))

  /** Column API: struct(mu, sigma, alpha) from `collect_list(value)`
    * and `count(1)` of one sample. */
  def rma_bg_params(values: Column, rows: Column, bins: Int): Column =
    ColumnBridge.column(RmaBgParams(
      ColumnBridge.expression(values), ColumnBridge.expression(rows), bins))

  private def lt(a: Double, b: Double) = SQLOrderingUtil.compareDoubles(a, b) < 0
  private def gt(a: Double, b: Double) = SQLOrderingUtil.compareDoubles(a, b) > 0

  /** (mu, sigma, alpha), each a boxed double or null, from one sample's
    * non-null values and its row count. */
  def estimate(values: Array[Double], rows: Long, bins: Int): Array[Any] = {
    val none = Array[Any](null, null, null)
    if (values.isEmpty) return none // every cell null: no range
    val v = values.clone()
    java.util.Arrays.sort(v)
    val lo = v(0)
    val hi = v(v.length - 1)
    val w = (hi - lo) / bins
    val m1 = lo + (modeBin(v, v.length, lo, w, bins, rows - v.length) + 0.5) * w
    // sorted, so the values strictly below m1 are a prefix
    var k = 0
    while (k < v.length && lt(v(k), m1)) k += 1
    if (k == 0) return none // no lower half
    val mu = lo + (modeBin(v, k, lo, (m1 - lo) / bins, bins, 0L) + 0.5) * (m1 - lo) / bins
    var below = 0.0; var nBelow = 0L
    var above = 0.0; var nAbove = 0L
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (lt(x, mu)) { below += (x - mu) * (x - mu); nBelow += 1 }
      else if (gt(x, mu)) { above += x - mu; nAbove += 1 }
      i += 1
    }
    val sigma = if (nBelow == 0) null else math.sqrt(2.0 * (below / nBelow))
    val meanAbove = above / nAbove
    val alpha = if (nAbove == 0 || meanAbove == 0.0) null else 1.0 / meanAbove
    Array[Any](mu, sigma, alpha)
  }

  /** Histogram mode over the first `n` values, ties to the lower bin;
    * `nulls` extra cells sit in the top bin when w > 0. */
  private def modeBin(v: Array[Double], n: Int, lo: Double, w: Double, bins: Int,
      nulls: Long): Long = {
    if (!gt(w, 0.0)) return 0L // zero width: every cell in bin 0
    val c = new Array[Long](bins)
    var i = 0
    while (i < n) {
      // v ≥ lo, so the floor is never negative; NaN floors to 0
      c(math.min(math.floor((v(i) - lo) / w).toLong, bins - 1L).toInt) += 1
      i += 1
    }
    c(bins - 1) += nulls
    var best = 0
    var b = 1
    while (b < bins) { if (c(b) > c(best)) best = b; b += 1 }
    best.toLong
  }
}
