package graft

import graft.model.ExpressionMatrix
import graft.operators.{Batch, Bpe, DiffExpr, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference forms that only specs use: the single-window BH adjust
  * the scalable and grouped paths are checked against, the
  * relational BPE segmentation that `Bpe.segmentFast` is gated
  * against, and the all-pairs embedding near-duplicate form that the
  * banded `TextDedup.embeddingDupPairs` is measured against, and the
  * join form of ComBat's null-model standardization that the lookup
  * and window form is checked against, and the join-back form of
  * paragraph dedup. Also the in-JVM driver-restart step the at-rest
  * specs need. */
object SpecReferences {

  /** `Batch.combat` with its standardization in join form: the batch
    * sheet broadcast-joined on sample_id, the per-gene grand stats
    * joined back on gene_id. */
  def combatJoined(m: ExpressionMatrix, batches: DataFrame): ExpressionMatrix = {
    val df = m.canonical.df.join(broadcast(batches), Seq("sample_id"))
    val grand = df.groupBy("gene_id")
      .agg(avg("value").as("__center"), var_samp("value").as("sigma2"))
      .filter(col("sigma2") > 0)
    Batch.combatCore(df.join(grand, Seq("gene_id"))
      .withColumn("z", (col("value") - col("__center")) / sqrt(col("sigma2"))),
      iterations = 30, parametric = true, nonparametricGeneCap = 20000)
  }

  /** Drop every registered `prefix*` table from the (shared) catalog
    * WITHOUT touching its warehouse files — the in-JVM equivalent of
    * a driver restart. `SparkSession.newSession` shares `SharedState`'s
    * external catalog, so without this the tables session 1 registered
    * stay visible to session 2 and `ensureTable` never takes its
    * re-registration branch. `InMemoryCatalog.dropTable` deletes a
    * MANAGED table's directory, so each entry is first flipped to
    * EXTERNAL; the files and their build-complete markers survive, and
    * the next `ensureTable` call must take the marker re-registration
    * branch (observable via `BuildMeter.regCount`). Returns the number
    * of entries detached. */
  def detachGraftTables(s: SparkSession, prefix: String = "graft_"): Int = {
    val cat = s.sessionState.catalog
    val ext = cat.externalCatalog
    val db = cat.getCurrentDatabase
    val tbls = ext.listTables(db).filter(_.toLowerCase.startsWith(prefix))
    tbls.foreach { t =>
      val ct = ext.getTable(db, t)
      if (ct.tableType == CatalogTableType.MANAGED)
        ext.alterTable(ct.copy(tableType = CatalogTableType.EXTERNAL))
      s.sql(s"DROP TABLE IF EXISTS `$db`.`$t`")
    }
    tbls.size
  }

  /** W5/A13 — Benjamini–Hochberg adjustment as one global window
    * program (`DiffExpr.bhWindow`). Identical to R
    * `p.adjust(method="BH")`. */
  def bhAdjust(df: DataFrame, p: String, tiebreak: Seq[Column], out: String = "p_bh"): DataFrame =
    DiffExpr.bhWindow(df, p, Nil, tiebreak, count(lit(1)).over(Window.partitionBy()), out)

  /** Join-back form of `TextDedup.paragraphDedup`: the keep-first
    * winner per paragraph, paragraphs reassembled per id, and the
    * rebuilt text left-joined back onto the input by id (so the input
    * is read twice). */
  def paragraphDedupJoined(docs: DataFrame, sep: String = "\n", id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val paras = docs
      .select(col(id), posexplode(split(col(text),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
      .filter(length(col("para")) > 0)
    val keep = paras.groupBy(col("para"))
      .agg(min(struct(col(id), col("pos"))).as("__w"))
      .select(col("__w")(id).as(id), col("__w")("pos").as("pos"), col("para"))
    val rebuilt = keep.groupBy(col(id))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, para))), x -> x.para)"),
        sep).as(text))
    docs.drop(text).join(rebuilt, Seq(id), "left")
      .withColumn(text, coalesce(col(text), lit("")))
  }

  /** All-pairs exact form of `TextDedup.embeddingDupPairs`, via
    * [[Similarity.cosinePairs]]. Quadratic — bounded relations only. */
  def embeddingDupPairsExact(embeddings: DataFrame, threshold: Double,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    Similarity.cosinePairs(embeddings, id, vec).filter(col("cosine") >= threshold)

  /** Segment words with a trained merge table (the ENCODE side):
    * applies the merges in training order to the (word, freq) symbol
    * relation and returns the final (word, pos, sym) segmentation —
    * the subword decomposition a tokenizer built on this vocabulary
    * would emit. Merge list is bounded (driver-side), application is
    * the same window algebra as training. */
  def segment(wf: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    var s = Bpe.initialSymbols(wf.select(col("word"), lit(1L).as("freq")))
      .localCheckpoint(true)
    merges.foreach { case (a, b) =>
      val w = Window.partitionBy("word").orderBy("pos")
      val keep = s.withColumn("nxt", lead(col("sym"), 1).over(w))
        .filter(col("sym") === a && col("nxt") === b)
        .withColumn("mrank", row_number().over(w))
        .withColumn("island", col("pos") - col("mrank"))
        .withColumn("imin",
          min("pos").over(Window.partitionBy("word", "island")))
        .filter(((col("pos") - col("imin")) % 2) === 0)
        .select(col("word"), col("pos"))
      val dropped = s.join(
        keep.select(col("word"), (col("pos") + 1).as("pos")),
        Seq("word", "pos"), "left_anti")
      val prev = s
      s = dropped
        .join(keep.withColumn("hit", lit(true)), Seq("word", "pos"), "left")
        .withColumn("sym", when(col("hit"), lit(a + b)).otherwise(col("sym")))
        .withColumn("pos", row_number().over(
          Window.partitionBy("word").orderBy("pos")) - 1)
        .select("word", "freq", "pos", "sym")
        .localCheckpoint(true)
      prev.unpersist(blocking = false)
    }
    s.select("word", "pos", "sym")
  }
}
