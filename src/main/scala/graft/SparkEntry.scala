package graft

import graft.model.ExpressionMatrix
import graft.operators._
import graft.sources.Fixtures.{table => t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md
  * §2 (or a training-data-pipeline operator from the brief) against
  * the driver's synthetic parquet tables; `oracleSql` holds the
  * equivalent DuckDB SQL. Column names and rounding match exactly on
  * both sides: every floating-point output is rounded (and every
  * ranking computed over rounded values with explicit id tie-breaks)
  * so the driver's hash compare is stable across engines.
  */
object SparkEntry {

  /** lineitem as a long-form expression matrix: gene = part, sample =
    * supplier, value = extended price. The transcriptomics operators
    * run on this shape (SURVEY.md §1.4). */
  private def lineitemMatrix(s: SparkSession, dir: String): ExpressionMatrix =
    ExpressionMatrix(t(s, dir, "lineitem").select(
      col("l_partkey").cast("string").as("gene_id"),
      col("l_suppkey").cast("string").as("sample_id"),
      col("l_extendedprice").as("value")))

  /** Flagship query on sf=0.001 — the SURVEY §7.2 M0 slice end-to-end:
    * melt → outlier anti-join (F1) → top-60% SD filter (F5) → per-group
    * stats → Welch t (A11-lite) → BH adjust (W5) → ranked topTable. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val m = lineitemMatrix(spark, dir)
    val outliers = t(spark, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").cast("string").as("sample_id"))
    val groups = t(spark, dir, "supplier").select(
      col("s_suppkey").cast("string").as("sample_id"),
      when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group"))
    val filtered = Filters.topFracBySd(Filters.removeOutliers(m, outliers), 0.6)
    val stats = DiffExpr.groupStats(filtered, groups)
    val de = DiffExpr.welchT(stats, "group", "A", "B")
    DiffExpr.topTable(de)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    graft.queries.MetaQueries.queries ++ graft.queries.TextQueries.queries ++
    graft.queries.ExtraQueries.queries ++ graft.queries.SourceQueries.queries

  def oracleSql: Map[String, String] = coreOracleSql ++
    graft.queries.MetaQueries.oracleSql ++ graft.queries.TextQueries.oracleSql ++
    graft.queries.ExtraQueries.oracleSql ++ graft.queries.SourceQueries.oracleSql

  /** Drop every query-scoped memo cache (shared chain fixtures, IVF
    * quantizer). The bench calls this before each timed sample so a
    * per-query headline is always a cold measurement; Verify leaves
    * the caches alone (sharing across queries is the fixture design).
    *
    * "Cold" means the DATA caches are cleared. Compiled classes stay:
    * the JVM-wide generated-class cache
    * ([[graft.model.SessionTuning.codegenCacheEntries]]) keeps them, as
    * the JVM keeps its JIT code, so a cold sample of a query the session
    * has run before compiles little. Since that cache was sized to hold
    * a whole chain, `graft.Bench` per-query cold samples are not
    * comparable with those taken before (when a re-run recompiled most
    * of its classes).
    *
    * CONTRACT: the sweep unpersists EVERY persistent RDD in the
    * session — including localCheckpoint-backed ones whose lineage is
    * truncated, which become unrecomputable ("checkpoint block not
    * found") if still referenced. No checkpointed DataFrame may be
    * held across a call (the bench re-constructs each query from
    * scratch after the sweep, so it never does); do not call it while
    * a streaming query that checkpointed its static side is active. */
  def clearQueryCaches(): Unit = {
    graft.queries.ExtraQueries.clearCaches()
    graft.operators.Similarity.clearCaches()
    // operator-held relations (RelCache holds) release
    // first so the registry holds no dangling references to blocks
    // the blanket sweep below is about to drop anyway
    graft.model.RelCache.releaseAll()
    // Drop EVERY cross-query cache so a cold sample is genuinely cold:
    // (1) catalog.clearCache() removes CacheManager entries AND their
    // blocks — a later query whose sub-plan matches an earlier query's
    // persisted relation (q92's shingle rows ≡ q35's) would otherwise
    // silently read it as a warm cache; clearing blocks WITHOUT the
    // entries is worse than either (the plan still substitutes the
    // InMemoryRelation and re-materializes it per sample — measured
    // 23.6s vs a true-cold 5.4s). (2) Orphaned localCheckpoint blocks
    // are NOT in the CacheManager and otherwise pin storage memory
    // until the JVM happens to GC their RDD references — 100+ queries
    // into a bench they evict execution memory (q68 in-catalog 21.0s
    // vs 8.9s solo before this sweep).
    // getActiveSession is THREAD-LOCAL — a caller on a thread that
    // didn't create the session would silently skip the sweep (and
    // cold samples would quietly read warm caches again); fall back
    // to the global default session.
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach { s =>
        s.catalog.clearCache()
        s.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
  }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 A1 + §2.1 scan: grouped aggregation battery ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity") + 1e-5, 2).as("sum_qty"),
             round(sum("l_extendedprice") + 1e-5, 2).as("sum_base"),
             round(avg("l_discount") + 1e-9, 6).as("avg_disc"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- A1 per-gene SD + F4 zero-variance filter ----
    "q02_gene_stats" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
             round(avg("l_extendedprice") + 1e-5, 2).as("mean_price"),
             round(stddev_samp("l_extendedprice") + 1e-5, 2).as("sd_price"))
        .filter(col("sd_price") > 0)
        .orderBy("l_partkey")
    }),

    // ---- F5/W1 top-N by SD (rank over rounded sd, id tiebreak) ----
    "q03_top_sd" -> ((s, dir) => {
      val sd = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(round(stddev_samp("l_extendedprice") + 1e-5, 2).as("sd_price"))
        .filter(col("sd_price").isNotNull)
      sd.withColumn("rk", row_number().over(
          Window.orderBy(col("sd_price").desc, col("l_partkey").asc)))
        .filter(col("rk") <= 100)
    }),

    // ---- F1 outlier-sample removal (broadcast anti-join) ----
    "q04_outlier_antijoin" -> ((s, dir) => {
      val outliers = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(broadcast(outliers), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity") + 1e-5, 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- F2 reliable-probe semi-join ----
    "q05_semijoin_reliable" -> ((s, dir) => {
      val flat = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_partkey").as("p_partkey"))
      t(s, dir, "part")
        .join(flat, Seq("p_partkey"), "left_semi")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    }),

    // ---- A2 max-variance dedup (window winner per group) ----
    "q06_dedup_maxvar" -> ((s, dir) => {
      val scored = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(round(var_samp("l_extendedprice") + 1e-5, 2).as("var_price"))
        .filter(col("var_price").isNotNull)
      scored.withColumn("rn", row_number().over(
          Window.partitionBy(col("p_brand"))
            .orderBy(col("var_price").desc, col("l_partkey").asc)))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("p_brand")
    }),

    // ---- A3 probe→gene mean collapse ----
    "q07_collapse_avg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_partkey"), col("l_returnflag"))
        .agg(round(avg("l_extendedprice") + 1e-5, 2).as("avg_price"),
             count(lit(1)).as("n"))
        .orderBy("l_partkey", "l_returnflag")
    }),

    // ---- A4 library sizes ----
    "q08_library_size" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_suppkey"))
        .agg(round(sum("l_quantity") + 1e-5, 2).as("lib_size"))
        .orderBy("l_suppkey")
    }),

    // ---- A17 quantile normalisation (two-window formulation) ----
    "q09_quantile_norm" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("gene_id"),
        col("l_returnflag").as("sample_id"),
        col("l_extendedprice").as("value")))
      Normalize.quantileNormalize(m).df
        .select(col("gene_id"), col("sample_id"), round(col("value") + 1e-7, 4).as("qn_value"))
        .orderBy("gene_id", "sample_id")
    }),

    // ---- W5/A13 Benjamini–Hochberg adjustment ----
    "q10_bh_adjust" -> ((s, dir) => {
      val p = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (((col("l_orderkey") * 131 + col("l_linenumber") * 7919) % 9973) / lit(9973.0)).as("p"))
      // data-sized input (one row per lineitem) -> the range-
      // partitioned two-pass BH, not the gene-grain global window
      DiffExpr.bhAdjustScalable(p, "p", Seq(col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("p") + 1e-9, 6).as("p"), round(col("p_bh") + 1e-9, 6).as("p_bh"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
  )

  private def coreOracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity) + 1e-5, 2) + 0.0 AS sum_qty,
         round(sum(l_extendedprice) + 1e-5, 2) + 0.0 AS sum_base,
         round(avg(l_discount) + 1e-9, 6) + 0.0 AS avg_disc,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2""",

    "q02_gene_stats" ->
      """SELECT l_partkey, count(*) AS n,
         round(avg(l_extendedprice) + 1e-5, 2) + 0.0 AS mean_price,
         round(stddev_samp(l_extendedprice) + 1e-5, 2) + 0.0 AS sd_price
         FROM lineitem GROUP BY 1
         HAVING round(stddev_samp(l_extendedprice) + 1e-5, 2) > 0""",

    "q03_top_sd" ->
      """WITH sd AS (
           SELECT l_partkey, round(stddev_samp(l_extendedprice) + 1e-5, 2) + 0.0 AS sd_price
           FROM lineitem GROUP BY 1
         ), ranked AS (
           SELECT l_partkey, sd_price,
                  row_number() OVER (ORDER BY sd_price DESC, l_partkey ASC) AS rk
           FROM sd WHERE sd_price IS NOT NULL
         ) SELECT l_partkey, sd_price, CAST(rk AS INTEGER) AS rk
           FROM ranked WHERE rk <= 100""",

    "q04_outlier_antijoin" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity) + 1e-5, 2) + 0.0 AS sum_qty
         FROM lineitem
         WHERE NOT EXISTS (SELECT 1 FROM supplier
                           WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
         GROUP BY 1""",

    "q05_semijoin_reliable" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_partkey = p_partkey AND l_quantity > 45)
         GROUP BY 1""",

    "q06_dedup_maxvar" ->
      """WITH scored AS (
           SELECT p_brand, l_partkey,
                  round(var_samp(l_extendedprice) + 1e-5, 2) + 0.0 AS var_price
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2
         ), ranked AS (
           SELECT p_brand, l_partkey, var_price,
                  row_number() OVER (PARTITION BY p_brand
                                     ORDER BY var_price DESC, l_partkey ASC) AS rn
           FROM scored WHERE var_price IS NOT NULL
         ) SELECT p_brand, l_partkey, var_price FROM ranked WHERE rn = 1""",

    "q07_collapse_avg" ->
      """SELECT l_partkey, l_returnflag,
         round(avg(l_extendedprice) + 1e-5, 2) + 0.0 AS avg_price, count(*) AS n
         FROM lineitem GROUP BY 1, 2""",

    "q08_library_size" ->
      """SELECT l_suppkey, round(sum(l_quantity) + 1e-5, 2) + 0.0 AS lib_size
         FROM lineitem GROUP BY 1""",

    "q09_quantile_norm" ->
      """WITH m AS (
           SELECT l_orderkey || '-' || l_linenumber AS gene_id,
                  l_returnflag AS sample_id, l_extendedprice AS value
           FROM lineitem
         ), ranked AS (
           SELECT gene_id, sample_id, value,
                  row_number() OVER (PARTITION BY sample_id
                                     ORDER BY value ASC, gene_id ASC) AS rk
           FROM m
         ), rank_means AS (
           SELECT rk, avg(value) AS rkmean FROM ranked GROUP BY 1
         ) SELECT r.gene_id, r.sample_id, round(rm.rkmean + 1e-7, 4) + 0.0 AS qn_value
           FROM ranked r JOIN rank_means rm ON r.rk = rm.rk""",

    "q10_bh_adjust" ->
      """WITH p AS (
           SELECT l_orderkey, l_linenumber,
                  ((l_orderkey * 131 + l_linenumber * 7919) % 9973) / 9973.0 AS p
           FROM lineitem
         ), ranked AS (
           SELECT *, count(*) OVER () AS n,
                  row_number() OVER (ORDER BY p ASC, l_orderkey ASC, l_linenumber ASC) AS rk
           FROM p
         ) SELECT l_orderkey, l_linenumber, round(p + 1e-9, 6) + 0.0 AS p,
                  round(1e-9 + least(1.0, min(p * n / rk) OVER
                    (ORDER BY p ASC, l_orderkey ASC, l_linenumber ASC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) + 0.0 AS p_bh
           FROM ranked""",
  )
}
