package graft

import graft.functions.StatAlgebra
import graft.model.ExpressionMatrix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational RMA background estimator that
  * [[graft.operators.Normalize.rmaBackground]] replaced: a range
  * aggregation, two histogram-mode aggregations (full range, then
  * the values below m₁) and a conditional-moment aggregation, each
  * re-entering the plan through a broadcast join. Kept as the
  * reference the one-pass kernel is checked against; the correction
  * projection is the operator's own. */
object RmaBackgroundReference {
  def rmaBackground(m: ExpressionMatrix, bins: Int = 256): ExpressionMatrix = {
    val df = m.canonical.df
    val rng = df.groupBy("sample_id")
      .agg(min("value").as("__lo"), max("value").as("__hi"))
      .withColumn("__w", (col("__hi") - col("__lo")) / bins)
    def histMode(values: DataFrame, lo: Column, w: Column): DataFrame =
      // max-count bin, ties to the LOWER bin: max(struct(cnt, -bin)).
      // w = 0 (constant / single-row sample) → everything in bin 0
      values
        .withColumn("__bin",
          when(w > 0, least(floor((col("value") - lo) / w), lit(bins - 1)))
            .otherwise(lit(0L)))
        .groupBy("sample_id", "__bin").agg(count(lit(1)).as("__c"))
        .groupBy("sample_id")
        .agg(max(struct(col("__c").as("c"), (-col("__bin")).as("nb")))
          .as("__top"))
        .select(col("sample_id"), (-col("__top.nb")).as("__mbin"))
    val withRng = df.join(broadcast(rng), Seq("sample_id"))
    val m1 = histMode(withRng, col("__lo"), col("__w"))
      .join(broadcast(rng), Seq("sample_id"))
      .select(col("sample_id"),
        (col("__lo") + (col("__mbin") + 0.5) * col("__w")).as("__m1"))
    // lower-half mode: re-histogram the values BELOW m1 over [lo, m1)
    val lower = withRng.join(broadcast(m1), Seq("sample_id"))
      .filter(col("value") < col("__m1"))
      .withColumn("__w2", (col("__m1") - col("__lo")) / bins)
    val mu = histMode(lower, col("__lo"), col("__w2"))
      .join(broadcast(m1.join(rng, Seq("sample_id"))), Seq("sample_id"))
      .select(col("sample_id"),
        (col("__lo") + (col("__mbin") + 0.5) * (col("__m1") - col("__lo")) / bins)
          .as("__mu"))
    // LEFT join: a sample with no mu row falls through to identity
    val params = df.join(broadcast(mu), Seq("sample_id"), "left")
      .groupBy("sample_id")
      .agg(first(col("__mu")).as("__mu"),
        sqrt(lit(2.0) * avg(when(col("value") < col("__mu"),
          (col("value") - col("__mu")) * (col("value") - col("__mu"))))).as("__sigma"),
        (lit(1.0) / avg(when(col("value") > col("__mu"),
          col("value") - col("__mu")))).as("__alpha"))
    val a = col("value") - col("__mu") - col("__alpha") * col("__sigma") * col("__sigma")
    val corrected = a + col("__sigma") *
      (StatAlgebra.dnorm(a / col("__sigma")) -
        StatAlgebra.dnorm((col("value") - a) / col("__sigma"))) /
      greatest(StatAlgebra.pnormAS(a / col("__sigma")) +
        StatAlgebra.pnormAS((col("value") - a) / col("__sigma")) - 1.0, lit(1e-10))
    val paramsOk = col("__sigma").isNotNull && !isnan(col("__sigma")) &&
      col("__sigma") > 0 && col("__alpha").isNotNull &&
      !isnan(col("__alpha")) && col("__alpha") > 0
    ExpressionMatrix(df.join(broadcast(params), Seq("sample_id"), "left")
      .select(col("gene_id"), col("sample_id"),
        when(paramsOk, corrected).otherwise(col("value")).as("value")))
  }
}
