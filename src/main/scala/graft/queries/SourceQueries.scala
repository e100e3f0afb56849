package graft.queries

import graft.model.ExpressionMatrix
import graft.sources.MatrixIO
import graft.sources.Fixtures.{table => t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle gates for the two §2.1 source/sink rows that were spec-only
  * through round 13 (VERDICT r12 #4 / r13 #3): S2 `writeTsvMatrix`
  * (the reference's `prepare2write` sink, `Meta_analysis.R:42-47`)
  * and S7 `readRsemResults` (`Convert_RSEMprocessed.pl:104-121`).
  *
  * Both are IO verbs, so the gate drives the real files: the query
  * WRITES the reference-shaped artifact to a scratch dir, re-reads it
  * through the engine's own scan, and returns the long form; the
  * DuckDB oracle replays the same computation straight from the
  * parquet sources. A mismatch means the sink or scan corrupted the
  * roundtrip — exactly the failure mode a golden-file gate exists to
  * catch. Scratch dirs are per-fixture (basename-keyed) so sf0.01 and
  * sf0.1 runs never collide; rewriting per invocation is intentional
  * — the WRITE is part of the operator under test (and under the
  * bench clock).
  */
object SourceQueries {

  private def scratch(dir: String, q: String): String = {
    val tag = new java.io.File(dir).getName.toLowerCase.replaceAll("[^a-z0-9]", "_")
    // pid-keyed (ADVICE r14): two JVMs running the same query on the
    // same fixture must not share a scratch dir — one's overwrite
    // during the other's read-back would forge an oracle mismatch
    s"${sys.props("java.io.tmpdir")}/graft_${q}_${tag}_p${ProcessHandle.current().pid()}"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S2 + S1: prepare2write TSV sink → matrix scan roundtrip ----
    // Long form (gene = partkey, sample = qty_<returnflag>) → pivot →
    // single TSV with header + gene-sorted rows (the prepare2write
    // shape) → readTsvMatrix melt back. The dense pivot grid keeps
    // missing (gene, sample) cells as NULL through the text roundtrip,
    // so the oracle's grid join must produce them too.
    "q173_tsv_roundtrip" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem")
        .groupBy(col("l_partkey").cast("string").as("gene_id"),
          concat(lit("qty_"), lower(col("l_returnflag"))).as("sample_id"))
        .agg(round(sum("l_quantity") + 1e-5, 2).as("value"))
        .select("gene_id", "sample_id", "value"))
      val out = scratch(dir, "q173")
      MatrixIO.writeTsvMatrix(m, Seq("qty_a", "qty_n", "qty_r"), out)
      MatrixIO.readTsvMatrix(s, out).canonical.df
        .select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id"), col("value"))
        .orderBy("l_partkey", "sample_id")
    }),

    // ---- S7: RSEM .results conversion (symbol|id split → gene-info
    // join, unmapped rows dropped) ----
    // The RSEM-shaped input is generated from `part` (SYM<k>|ENSX<k>
    // key, retail price as expected_count), written as a real TSV, and
    // converted through the engine's reader; gene-info maps only
    // p_partkey % 10 != 0, so the inner join must drop exactly the
    // multiples of 10 — the reference's "skip genes absent from the
    // annotation" behavior, observable in the row count.
    "q174_rsem_convert" -> ((s, dir) => {
      val out = scratch(dir, "q174")
      t(s, dir, "part").select(
          concat(lit("SYM"), col("p_partkey"), lit("|ENSX"), col("p_partkey"))
            .as("gene_id"),
          round(col("p_retailprice") + 1e-5, 2).as("expected_count"))
        .coalesce(1)
        .write.option("sep", "\t").option("header", "true")
        .mode("overwrite").csv(out)
      val geneInfo = t(s, dir, "part")
        .filter(col("p_partkey") % 10 =!= 0)
        .select(concat(lit("ENSG"), col("p_partkey")).as("ensembl_id"),
          concat(lit("SYM"), col("p_partkey")).as("symbol"))
      MatrixIO.readRsemResults(s, out, "s1", geneInfo)
        .select(col("gene_id"), round(col("count") + 1e-5, 2).as("count"),
          col("sample_id"))
        .orderBy("gene_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q173_tsv_roundtrip" ->
      """WITH agg AS (
           SELECT l_partkey, 'qty_' || lower(l_returnflag) AS sample_id,
                  round(sum(l_quantity) + 1e-5, 2) + 0.0 AS value
           FROM lineitem GROUP BY 1, 2
         ), genes AS (SELECT DISTINCT l_partkey FROM lineitem),
         samples AS (SELECT unnest(['qty_a','qty_n','qty_r']) AS sample_id)
         SELECT g.l_partkey, s.sample_id, a.value
         FROM genes g CROSS JOIN samples s
         LEFT JOIN agg a ON a.l_partkey = g.l_partkey
                        AND a.sample_id = s.sample_id""",

    "q174_rsem_convert" ->
      """SELECT 'ENSG' || CAST(p_partkey AS VARCHAR) AS gene_id,
                round(round(p_retailprice + 1e-5, 2) + 1e-5, 2) + 0.0 AS "count",
                's1' AS sample_id
         FROM part WHERE p_partkey % 10 <> 0""",
  )
}
