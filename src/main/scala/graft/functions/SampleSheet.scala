package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sample id → value through a driver-side hash map: one `get` per
  * row inside whole-stage codegen. The table is a plan constant
  * (`ctx.addReferenceObj`, the [[Interp1]] idiom), so a sample sheet
  * enters a plan with no exchange, no join and no broadcast relation
  * (whose hashed page a cached plan would pin on the driver).
  *
  * Values are Catalyst internal values of `dataType`. The result is
  * null when the key is null, absent, or maps to null. The table is a
  * `java.util.HashMap`, so two lookups over equal tables compare equal
  * and their plans stay `sameResult`. */
case class SampleLookup(child: Expression, table: java.util.HashMap[UTF8String, AnyRef],
    dataType: DataType) extends UnaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sample_lookup requires a string key, got ${child.dataType}")

  override def nullSafeEval(key: Any): Any = table.get(key)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sampleSheet", table, "java.util.HashMap")
    val v = ctx.freshName("sheetValue")
    nullSafeCodeGen(ctx, ev, k =>
      s"""Object $v = $ref.get($k);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $v; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A sample-grain sheet (`targets` groups, array weights, ComBat
  * batches, replicate units) collected to the driver once, the way the
  * reference holds each sheet as a sample-length vector that its
  * per-gene row sweeps index by column. [[attach]] stands in for an
  * inner join of a cell relation with the sheet on `sample_id`: a
  * cell whose sample is absent drops, and a sheet row with a null
  * label keeps its cells with a null label.
  *
  * A sheet must map each sample once: under join semantics a
  * duplicate `sample_id` would multiply cells, so [[collect]] fails
  * with a named `require` instead. Rows with a null `sample_id`
  * are dropped, as an equi-join never matches them. */
final class SampleSheet private (what: String,
    val values: Map[String, Map[String, Any]], types: Map[String, DataType]) {

  /** The sample ids in the sheet. */
  def samples: Set[String] = values.valuesIterator.next().keySet

  private val present = table(samples.iterator.map(_ -> java.lang.Boolean.TRUE))

  private val lookups = types.map { case (c, dt) =>
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    c -> (table(values(c).iterator.map { case (s, v) => s -> toCatalyst(v) }), dt)
  }

  private def table(kv: Iterator[(String, Any)]): java.util.HashMap[UTF8String, AnyRef] = {
    val t = new java.util.HashMap[UTF8String, AnyRef]()
    kv.foreach { case (k, v) => t.put(UTF8String.fromString(k), v.asInstanceOf[AnyRef]) }
    t
  }

  private def lookup(sample: Column, t: java.util.HashMap[UTF8String, AnyRef],
      dt: DataType): Column =
    ColumnBridge.column(SampleLookup(ColumnBridge.expression(sample.cast("string")), t, dt))

  /** True when `sample` is in the sheet (null otherwise, which a
    * filter drops). */
  def contains(sample: Column): Column = lookup(sample, present, BooleanType)

  /** The sheet's `column` value for `sample`. */
  def apply(column: String, sample: Column): Column = {
    val (t, dt) = lookups.getOrElse(column,
      throw new IllegalArgumentException(s"$what has no column $column"))
    lookup(sample, t, dt)
  }

  /** `df` restricted to the sheet's samples, with every sheet column
    * added under its own name: the inner join on `sample` without an
    * exchange. */
  def attach(df: DataFrame, sample: String = "sample_id"): DataFrame =
    types.keys.toSeq.sorted.foldLeft(df.filter(contains(col(sample)))) { (d, c) =>
      d.withColumn(c, apply(c, col(sample)))
    }
}

object SampleSheet {
  /** Collect `(key, columns...)` of `sheet` to the driver (one job;
    * none for a local relation). `what` names the sheet in errors. */
  def collect(sheet: DataFrame, what: String, columns: Seq[String],
      key: String = "sample_id"): SampleSheet = {
    require(columns.nonEmpty, s"$what: a sample sheet needs a value column")
    val rows = sheet.select(col(key).cast("string") +: columns.map(col): _*)
      .collect().filterNot(_.isNullAt(0))
    val bySample = rows.groupBy(_.getString(0))
    val dups = bySample.collect { case (s, rs) if rs.length > 1 => s }.toSeq.sorted
    require(dups.isEmpty,
      s"$what has duplicate sample_id rows (${rows.length} rows, ${bySample.size} " +
        s"distinct samples, e.g. ${dups.take(3).mkString(", ")}) — each sample maps to one row")
    val values = columns.zipWithIndex.map { case (c, i) =>
      c -> rows.map(r => r.getString(0) -> r.get(i + 1)).toMap
    }.toMap
    new SampleSheet(what, values, columns.map(c => c -> sheet.schema(c).dataType).toMap)
  }
}
