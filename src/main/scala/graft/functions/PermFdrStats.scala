package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One gene's observed two-group |z| and its permutation exceedance
  * count for [[graft.operators.Meta.permutationFdr]], from the gene's
  * collected (sample_id, value) cells.
  *
  * `labelsA` / `labelsB` hold, for assignment p = 0 (the observed
  * groups) and p = 1..nperm (the permutations), how many rows of the
  * label relation give sample `samples(i)` group A / B, at index
  * `p · samples.size + i`. Cells of samples outside `samples` join no
  * label and are ignored.
  *
  * Per assignment and group the statistics are those of the
  * relational form: n counts cells (null values included), the mean
  * and sample variance run over non-null values (variance null below
  * two), and an assignment counts only with n > 1 in both groups. Then
  * z = (mean_A − mean_B) / √(var_A / n_A + var_B / n_B); a null input
  * or a zero denominator gives a null z. Comparisons use Spark's
  * double ordering (NaN above everything).
  *
  * Returns struct(z_obs = |z| of p = 0, n_perm = permutations that
  * count, n_exceed = those whose |z| is non-null and ≥ a non-null
  * z_obs), or null when the observed assignment does not count. Sums
  * run in (sample, value) order, so the result does not depend on the
  * order the aggregation collected the cells in. */
case class PermFdrStats(cells: Expression, samples: Seq[String], labelsA: Seq[Int],
    labelsB: Seq[Int], nperm: Int) extends UnaryExpression with CodegenFallback {

  override def child: Expression = cells
  override def dataType: DataType = PermFdrStats.schema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = cells.dataType match {
    case ArrayType(StructType(Array(StructField(_, _: StringType, _, _),
        StructField(_, DoubleType, _, _))), _)
        if labelsA.size == (nperm + 1) * samples.size && labelsB.size == labelsA.size =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"perm_fdr_stats requires array<struct<string, double>> and ${nperm + 1} label " +
        s"assignments of ${samples.size} samples, got $t with ${labelsA.size} / ${labelsB.size}")
  }

  // the label tables print as their shape, not their contents
  override protected def stringArgs: Iterator[Any] =
    Iterator(cells, s"samples=${samples.size}", s"nperm=$nperm")

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](samples.size * 2)
    samples.zipWithIndex.foreach { case (s, i) => m.put(UTF8String.fromString(s), i) }
    m
  }
  @transient private lazy val wA: Array[Int] = labelsA.toArray
  @transient private lazy val wB: Array[Int] = labelsB.toArray

  override def nullSafeEval(v: Any): Any = {
    val rows = v.asInstanceOf[ArrayData]
    // (sample index, value) of the labelled cells, null values first
    // within a sample, then in Spark's double order
    val kept = (0 until rows.numElements()).flatMap { r =>
      val cell = rows.getStruct(r, 2)
      val i = index.get(if (cell.isNullAt(0)) null else cell.getUTF8String(0))
      if (i == null) None
      else Some((i.intValue, if (cell.isNullAt(1)) None else Some(cell.getDouble(1))))
    }.sortWith { case ((i, x), (j, y)) =>
      if (i != j) i < j
      else (x, y) match {
        case (None, Some(_)) => true
        case (Some(a), Some(b)) => SQLOrderingUtil.compareDoubles(a, b) < 0
        case _ => false
      }
    }
    val idx = kept.map(_._1).toArray
    val isNull = kept.map(_._2.isEmpty).toArray
    val xs = kept.map(_._2.getOrElse(0.0)).toArray
    val (obsCounts, zObs) = PermFdrStats.z(idx, isNull, xs, wA, wB, 0)
    if (!obsCounts) return null
    var nPerm = 0
    var nExceed = 0
    var p = 1
    while (p <= nperm) {
      val (counts, z) = PermFdrStats.z(idx, isNull, xs, wA, wB, p * samples.size)
      if (counts) {
        nPerm += 1
        if (z != null && zObs != null &&
            SQLOrderingUtil.compareDoubles(z.doubleValue, zObs.doubleValue) >= 0) nExceed += 1
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](zObs, nPerm, nExceed))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(cells = newChild)
}

object PermFdrStats {
  val schema: StructType = StructType(Seq(
    StructField("z_obs", DoubleType, nullable = true),
    StructField("n_perm", IntegerType, nullable = false),
    StructField("n_exceed", IntegerType, nullable = false)))

  /** Column API over `collect_list(struct(sample_id, value))`. */
  def perm_fdr_stats(cells: Column, samples: Seq[String], labelsA: Seq[Int],
      labelsB: Seq[Int], nperm: Int): Column =
    ColumnBridge.column(PermFdrStats(ColumnBridge.expression(cells), samples,
      labelsA, labelsB, nperm))

  /** Whether one assignment (labels at `base`) counts (n > 1 in both
    * groups), and its |z|: null when a mean or variance is undefined
    * or the denominator is zero. */
  private def z(idx: Array[Int], isNull: Array[Boolean], xs: Array[Double],
      wA: Array[Int], wB: Array[Int], base: Int): (Boolean, java.lang.Double) = {
    val a = moments(idx, isNull, xs, wA, base)
    val b = moments(idx, isNull, xs, wB, base)
    val counts = a.n > 1 && b.n > 1
    if (!counts || a.c < 2 || b.c < 2) return (counts, null)
    val den = math.sqrt(a.v / a.n + b.v / b.n)
    (counts, if (den == 0.0) null else java.lang.Double.valueOf(math.abs((a.mean - b.mean) / den)))
  }

  private final case class Moments(n: Long, c: Long, mean: Double, v: Double)

  /** Row count, non-null count, mean and sample variance (two-pass)
    * of the cells weighted by their label multiplicity in `w`. */
  private def moments(idx: Array[Int], isNull: Array[Boolean], xs: Array[Double],
      w: Array[Int], base: Int): Moments = {
    var n = 0L; var c = 0L; var sum = 0.0
    var r = 0
    while (r < idx.length) {
      var t = w(base + idx(r))
      n += t
      if (!isNull(r)) { c += t; while (t > 0) { sum += xs(r); t -= 1 } }
      r += 1
    }
    val mean = sum / c
    var ss = 0.0
    r = 0
    while (r < idx.length) {
      if (!isNull(r)) {
        var t = w(base + idx(r))
        val d = xs(r) - mean
        while (t > 0) { ss += d * d; t -= 1 }
      }
      r += 1
    }
    Moments(n, c, mean, ss / (c - 1))
  }
}
