package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One gene's standardized expression vectors on every platform of
  * [[graft.operators.Meta.iccMulti]], concatenated in platform order,
  * from the gene's collected (platform, sample_id, value) cells.
  *
  * Platform k's vector is dense over its own sample universe
  * `samples(k)` (a missing or null cell is 0 before centering — the
  * dense-matrix semantics of the reference), centered to mean 0 and
  * scaled to norm 1; a zero-variance vector stays centered (all 0).
  * A gene with no cell on some platform is null: only genes present
  * on every platform enter the ICC (MergeMaid intersects). Of two
  * cells for one (platform, sample), the larger value is kept, so the
  * result does not depend on collection order.
  *
  * A native expression, not a `mapGroups` closure: two invocations
  * over the same inputs give `sameResult` plans, so the relation hold
  * over this aggregation is reused by a re-run. */
case class IccVectors(cells: Expression, samples: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback {

  override def child: Expression = cells
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = cells.dataType match {
    case ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
        StructField(_, _: StringType, _, _), StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"icc_vectors requires array<struct<int, string, double>>, got $t")
  }

  // sample universes print as their sizes, not their ids
  override protected def stringArgs: Iterator[Any] =
    Iterator(cells, samples.map(_.size).mkString("samples[", ",", "]"))

  @transient private lazy val offsets: Array[Int] = samples.scanLeft(0)(_ + _.size).toArray
  @transient private lazy val index: Array[java.util.HashMap[UTF8String, Integer]] =
    samples.map { ids =>
      val m = new java.util.HashMap[UTF8String, Integer](ids.size * 2)
      ids.zipWithIndex.foreach { case (s, i) => m.put(UTF8String.fromString(s), i) }
      m
    }.toArray

  override def nullSafeEval(v: Any): Any = {
    val rows = v.asInstanceOf[ArrayData]
    val k = samples.size
    val out = new Array[Double](offsets(k))
    val seen = new Array[Boolean](out.length)
    val present = new Array[Boolean](k)
    var r = 0
    while (r < rows.numElements()) {
      val cell = rows.getStruct(r, 3)
      val p = cell.getInt(0)
      if (p >= 0 && p < k) {
        val i = index(p).get(if (cell.isNullAt(1)) null else cell.getUTF8String(1))
        if (i != null) {
          present(p) = true
          val x = if (cell.isNullAt(2)) 0.0 else cell.getDouble(2)
          val j = offsets(p) + i
          if (!seen(j) || SQLOrderingUtil.compareDoubles(x, out(j)) > 0) {
            out(j) = x; seen(j) = true
          }
        }
      }
      r += 1
    }
    if (!present.forall(identity)) return null
    var p = 0
    while (p < k) { IccVectors.standardize(out, offsets(p), offsets(p + 1)); p += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(cells = newChild)
}

object IccVectors {
  /** Column API: the concatenated standardized vectors from
    * `collect_list(struct(platform, sample_id, value))`. */
  def icc_vectors(cells: Column, samples: Seq[Seq[String]]): Column =
    ColumnBridge.column(IccVectors(ColumnBridge.expression(cells), samples))

  /** Center `a[lo, hi)` to mean 0 and scale it to norm 1 in place
    * (left as centered when its norm is 0). */
  private def standardize(a: Array[Double], lo: Int, hi: Int): Unit = {
    var sum = 0.0
    var i = lo
    while (i < hi) { sum += a(i); i += 1 }
    val mean = sum / (hi - lo)
    var ss = 0.0
    i = lo
    while (i < hi) { a(i) -= mean; ss += a(i) * a(i); i += 1 }
    val norm = math.sqrt(ss)
    if (norm > 0) { i = lo; while (i < hi) { a(i) /= norm; i += 1 } }
  }
}
