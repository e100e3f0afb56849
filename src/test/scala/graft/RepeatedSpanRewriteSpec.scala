package graft

import graft.operators.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-18 rewrite gate: the array-level removeRepeatedSpans
  * (shingleArray grams + collect_list starts + the TextKernels
  * two-pointer coverage merge) must equal the round-17 posexplode +
  * doc-keyed-window formulation row for row — positions are
  * load-bearing (VERDICT r17 #4), so the old pipeline is
  * re-implemented here as the reference. Fixtures cover spans at
  * document start/end, overlapping and adjacent spans, fully-masked
  * documents, docs shorter than / exactly the width, empty,
  * whitespace-only and null text, and a minDocs=3 threshold. */
class RepeatedSpanRewriteSpec extends SparkSpec {
  import graft.functions.TextFunctions.tokens

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "prefix words alpha beta gamma delta epsilon other tail"),
      (3L, "alpha beta gamma delta epsilon"),                // exactly one span, whole doc
      (4L, "x alpha beta gamma delta epsilon y alpha beta gamma delta epsilon z"), // two occurrences, overlap windows
      (5L, "one two three"),                                 // shorter than n
      (6L, ""),                                              // empty
      (7L, "  ,,  "),                                        // no tokens
      (8L, "unique text with no shared spans at all here"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // twin of 1
      (10L, "CASE Folds; alpha beta GAMMA delta epsilon!! tail"),       // normalization hits
      (11L, null)                                            // null text
    ).toDF("doc_id", "text")
  }

  /** The round-17 removeRepeatedSpans: posexplode + two doc-keyed
    * windows + groupBy rebuild (reference implementation). */
  private def removeOld(d: DataFrame, n: Int, minDocs: Int): DataFrame = {
    val tok = d.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tk")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(o => lead(col("tk"), o).over(wDoc))
    val full = if (leads.isEmpty) lit(true) else leads.last.isNotNull
    val grams = tok
      .withColumn("__h", when(full, md5(concat_ws(" ", (col("tk") +: leads): _*))))
    val dupHashes = grams.filter(col("__h").isNotNull)
      .groupBy("__h").agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__h")
    val starts = grams.filter(col("__h").isNotNull)
      .join(dupHashes, Seq("__h"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(true).as("__st"))
    val wCov = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = grams.select(col("doc_id"), col("pos"), col("tk"))
      .join(starts, Seq("doc_id", "pos"), "left")
      .withColumn("__ls", max(when(col("__st"), col("pos"))).over(wCov))
      .filter(col("__ls").isNull || col("pos") > col("__ls") + (n - 1))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tk")))),
            s => s.getField("tk"))).as("__clean"),
        count(lit(1)).as("__kept"))
    val totals = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("__tot"))
    d.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__clean"), lit("")).as("text_clean"),
        coalesce(col("__kept"), lit(0L)).as("n_tokens"),
        (coalesce(col("__tot"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_removed"))
  }

  private def rows(d: DataFrame): Set[String] =
    d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  for ((n, minDocs) <- Seq((5, 2), (5, 3), (3, 2), (1, 2), (8, 2), (2, 2))) {
    test(s"removeRepeatedSpans rewrite ≡ window formulation (n=$n minDocs=$minDocs)") {
      assert(rows(TextDedup.removeRepeatedSpans(docs, n = n, minDocs = minDocs)) ===
        rows(removeOld(docs, n, minDocs)))
    }
  }

  test("fully-masked document survives with empty text") {
    // doc 3 is one exact span shared with 1/2/4 at n=5: every token
    // of doc 3 is covered
    val out = TextDedup.removeRepeatedSpans(docs, n = 5, minDocs = 2)
      .filter(col("doc_id") === 3L).head()
    assert(out.getString(1) === "")
    assert(out.getLong(2) === 0L)
    assert(out.getLong(3) === 5L)
  }
}
