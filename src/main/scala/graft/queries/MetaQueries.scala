package graft.queries

import graft.model.ExpressionMatrix
import graft.operators._
import graft.sources.Fixtures.{table => t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential-expression / meta-analysis / QC query catalog
  * (SURVEY.md §2.4 A6, A10–A13, A15, A20, A22, A25, A27–A28, F9/F10/
  * F13, J2) bound to the synthetic tables:
  * gene = l_partkey, sample/array = l_suppkey or row id, study =
  * l_linestatus, biological group = l_returnflag.
  */
object MetaQueries {

  /** `events` with a canonical epoch-micros `us` column, regardless of how
    * the generator encoded `ts`: parquet TIMESTAMP(MICROS) resolves to a
    * Spark TimestampType (use `unix_micros`), while a plain INT64 nanos
    * column resolves to LongType (divide by 1000). The
    * dtype branch happens once at plan time — no per-row dispatch. */
  private def eventsWithMicros(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val us = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    ev.withColumn("us", us)
  }

  private def groupStatsDf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_partkey"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
           var_samp("l_extendedprice").as("var"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A11-lite: per-gene Welch t for contrast A vs N ----
    "q11_welch_t" -> ((s, dir) => {
      val stats = groupStatsDf(s, dir).withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      DiffExpr.welchT(stats, "group", "A", "N")
        .select(col("gene_id").as("l_partkey"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t") + 1e-7, 4).as("t_stat"),
          round(col("df") + 1e-5, 2).as("df"))
        .orderBy("l_partkey")
    }),

    // ---- A22: per-(gene, study) standardized effect sizes ----
    "q12_effect_sizes" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_linestatus"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      Meta.effectSizes(stats, "group", "l_linestatus", "A", "N")
        .select(col("gene_id").as("l_partkey"), col("l_linestatus"),
          round(col("d") + 1e-7, 4).as("d"),
          round(col("dstar") + 1e-7, 4).as("dstar"),
          round(col("sigmad") + 1e-9, 6).as("sigmad"))
        .orderBy("l_partkey", "l_linestatus")
    }),

    // ---- A22: FEM/REM meta combine (Cochran Q, DL tau2) ----
    "q13_fem_rem" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_linestatus"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      // Eager checkpoint: femRem runs a second (REM) pass over the
      // effects lineage; gene×study-sized, so materializing is cheap.
      val eff = Meta.effectSizes(stats, "group", "l_linestatus", "A", "N")
        .localCheckpoint(true)
      Meta.femRem(eff)
        .select(col("gene_id").as("l_partkey"), col("k"),
          round(col("mu_fem") + 1e-9, 6).as("mu_fem"),
          round(col("z_fem") + 1e-7, 4).as("z_fem"),
          round(col("q") + 1e-7, 4).as("q_stat"),
          round(col("tau2") + 1e-9, 6).as("tau2"),
          round(col("mu_rem") + 1e-9, 6).as("mu_rem"),
          round(col("z_rem") + 1e-7, 4).as("z_rem"))
        .orderBy("l_partkey")
    }),

    // ---- A25: weighted Stouffer combine. Hash-checked: the oracle
    // computes pt(|t|, df) by the regularized-incomplete-beta Lentz
    // continued fraction (recursive CTE) and qnorm by the Acklam
    // rational approximation (agrees with commons-math3 to ~1e-9;
    // outputs round at 4dp). p_comb is omitted — it is a bijection of
    // z_comb through pnorm, covered by the weightedStouffer spec. ----
    "q14_stouffer" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_linestatus"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      val perStudy = DiffExpr.welchT(
          stats.withColumnRenamed("l_linestatus", "study")
            .withColumn("gene_id", concat_ws("|", col("gene_id"), col("study"))),
          "group", "A", "N")
        .withColumn("study", split(col("gene_id"), "\\|")(1))
        .withColumn("gene_id", split(col("gene_id"), "\\|")(0))
        .withColumn("icc", lit(0.5))
      Meta.weightedStouffer(perStudy)
        .select(col("gene_id").cast("long").as("l_partkey"), col("n_platforms"),
          round(col("avg_log2fc") + 1e-5, 2).as("avg_log2fc"),
          round(col("z_comb") + 1e-7, 4).as("z_comb"))
        .orderBy("l_partkey")
    }),

    // ---- A6: pairwise sample correlation over gene vectors ----
    "q15_pairwise_corr" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_returnflag"))
        .agg(avg("l_extendedprice").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_returnflag").as("sample_id"), col("value")))
      QC.pairwiseSampleCorr(m)
        .select(col("s1"), col("s2"), col("n_common"),
          round(col("r") + 1e-9, 6).as("r"))
        .orderBy("s1", "s2")
    }),

    // ---- A20-shape: gene×gene correlation on a bounded gene set ----
    "q16_gene_corr" -> ((s, dir) => {
      val m = t(s, dir, "lineitem").filter(col("l_partkey") <= 20)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(avg("l_extendedprice").as("v"))
      val a = m.select(col("l_partkey").as("g1"), col("l_suppkey"), col("v").as("v1"))
      val b = m.select(col("l_partkey").as("g2"), col("l_suppkey"), col("v").as("v2"))
      a.join(b, Seq("l_suppkey")).filter(col("g1") < col("g2"))
        .groupBy("g1", "g2")
        .agg(count(lit(1)).as("n_common"), corr("v1", "v2").as("r"))
        .filter(col("n_common") >= 5 && col("r").isNotNull)
        .select(col("g1"), col("g2"), col("n_common"),
          round(col("r") + 1e-9, 6).as("r"))
        .orderBy("g1", "g2")
    }),

    // ---- A27: Venn membership counts over flag sets ----
    "q17_venn" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sets = Seq("R", "A", "N").map(f =>
        f -> li.filter(col("l_returnflag") === f).select(col("l_partkey")))
      SetOps.vennCounts(sets, "l_partkey").orderBy("mask")
    }),

    // ---- J2: full-outer merge, missing counts -> 0 (pivot form) ----
    "q18_outer_merge" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(round(coalesce(sum(when(col("l_returnflag") === "R", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_r"),
             round(coalesce(sum(when(col("l_returnflag") === "A", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_a"),
             round(coalesce(sum(when(col("l_returnflag") === "N", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_n"))
        .orderBy("l_partkey")
    }),

    // ---- F13: per-sample zero repair (min positive substitution) ----
    "q19_zero_repair" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_discount").as("value")))
      Filters.repairZeros(m).df
        .groupBy(col("sample_id"))
        .agg(round(sum("value") + 1e-7, 4).as("sum_repaired"),
             round(min("value") + 1e-7, 4).as("min_after"))
        .select(col("sample_id").cast("long").as("l_suppkey"),
          col("sum_repaired"), col("min_after"))
        .orderBy("l_suppkey")
    }),

    // ---- A15: log2-CPM (voom's deterministic half) ----
    "q20_log2_cpm" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_quantity").as("value")))
      val agg0 = m.df.groupBy("gene_id", "sample_id").agg(sum("value").as("value"))
      Normalize.log2Cpm(ExpressionMatrix(agg0)).df
        .groupBy("gene_id")
        .agg(round(avg("value") + 1e-9, 6).as("avg_log2cpm"))
        .select(col("gene_id").cast("long").as("l_partkey"), col("avg_log2cpm"))
        .orderBy("l_partkey")
    }),

    // ---- F9: low-expression clamp on log2-CPM ----
    "q21_clamp" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_quantity").as("value")))
      val agg0 = m.df.groupBy("gene_id", "sample_id").agg(sum("value").as("value"))
      val cpm = Normalize.log2Cpm(ExpressionMatrix(agg0))
      Filters.clampLow(cpm, 10.0).df
        .groupBy("sample_id")
        .agg(sum((col("value") === 0.0).cast("int")).as("n_clamped"),
             round(sum("value") + 1e-7, 4).as("sum_kept"))
        .select(col("sample_id").cast("long").as("l_suppkey"),
          col("n_clamped"), col("sum_kept"))
        .orderBy("l_suppkey")
    }),

    // ---- F10: DABG present/absent filter ----
    "q22_dabg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val withGroup = li.select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_returnflag").as("group"),
        col("l_extendedprice").as("value"))
      val m = ExpressionMatrix(withGroup.withColumn("sample_id", col("group")))
      Filters.dabgFilterGrouped(m, withGroup, presentThresh = 30000.0, minGroupFrac = 0.5)
        .df.select(col("gene_id").cast("long").as("l_partkey")).distinct()
        .orderBy("l_partkey")
    }),

    // ---- A28: RLE battery (value − per-gene median, per sample) ----
    "q23_rle" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_extendedprice").as("value")))
      QC.rle(m)
        .select(col("sample_id").cast("long").as("l_suppkey"),
          round(col("rle_median") + 1e-5, 2).as("rle_median"),
          round(col("rle_iqr") + 1e-5, 2).as("rle_iqr"))
        .orderBy("l_suppkey")
    }),

    // ---- A6: two-sample KS statistic (sorted-CDF formulation) ----
    "q24_ks" -> ((s, dir) => {
      QC.ksStatistic(t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag", "A", "N")
        .select(round(col("ks_d") + 1e-9, 6).as("ks_d"))
    }),

    // ---- A28: per-sample quantile summary battery ----
    "q25_sample_summary" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_extendedprice").as("value")))
      QC.sampleSummary(m)
        .select(col("sample_id").cast("long").as("l_suppkey"), col("n"),
          round(col("mean") + 1e-5, 2).as("mean"),
          round(col("q25") + 1e-5, 2).as("q25"),
          round(col("median") + 1e-5, 2).as("median"),
          round(col("q75") + 1e-5, 2).as("q75"),
          round(col("sd") + 1e-5, 2).as("sd"))
        .orderBy("l_suppkey")
    }),

    // ---- sessionization (gap > 30 min ⇒ new session) ----
    "q26_sessionize" -> ((s, dir) => {
      val ev = eventsWithMicros(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
      ev.withColumn("gap", col("us") - lag("us", 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 30L * 60 * 1000000, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // ---- semi-structured ingestion: JSON props column parsed with
    // the codegen'd JSON path extractor, integer-exact aggregates ----
    "q108_event_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    // ---- AS-OF join (click → latest prior view per user — the
    // impression-attribution shape; the brief's canonical missing-
    // Spark operator, composed as union + ONE keyed running window,
    // never a per-row subquery). DuckDB replays it with its native
    // ASOF LEFT JOIN — two independent implementations of the
    // semantics must agree. ----
    "q161_asof_join" -> ((s, dir) => {
      val ev = eventsWithMicros(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "us", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.operators.Events.asofJoin(clicks, views, key = "user_id",
          time = "us", rightVals = Seq("view_id", "view_value"))
        .orderBy("event_id")
    }),

    // ---- binned RANGE join (view → every purchase whose 24 h
    // attribution window contains it, per user): intervals explode
    // to 6 h bins, the join is an equi-join on (user, bin) + exact
    // containment — never the nested-loop cross join a bare range
    // predicate plans as. Oracle = DuckDB's native range-predicate
    // join (IEJoin), again two unrelated implementations. ----
    "q162_range_join" -> ((s, dir) => {
      val ev = eventsWithMicros(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("us"))
      val wins = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("us") - lit(24L * 3600 * 1000000)).as("lo"),
          col("us").as("hi"), col("event_id").as("purchase_id"))
      graft.operators.Events.rangeJoin(views, wins, key = "user_id",
          t = "us", lo = "lo", hi = "hi", binWidth = 6L * 3600 * 1000000)
        .select(col("view_id"), col("user_id"), col("iv_purchase_id").as("purchase_id"),
          (col("iv_hi") - col("us")).as("gap_us"))
        .orderBy("view_id", "purchase_id")
    }),

    // ---- AS-OF via VALIDITY INTERVALS — the streaming twin's batch
    // core as a gated query: each view becomes its per-user validity
    // interval [us, next_us - 1] (ONE keyed lead window, closed at
    // the serving horizon), and clicks land by the binned range join
    // — intervals partition each user's timeline, so the containing
    // interval IS the latest prior view. INNER semantics (clicks
    // before their user's first view are absent). Oracle: DuckDB's
    // native ASOF (inner) JOIN — with q161, THREE independent
    // implementations of the as-of semantics must now agree: the
    // union+running-window form, this interval decomposition, and
    // DuckDB's. The horizon is a bounded driver scalar (max click
    // time — one aggregation). ----
    "q163_asof_intervals" -> ((s, dir) => {
      val ev = eventsWithMicros(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      val horizon = clicks.agg(max("us")).head().getLong(0)
      val validity = graft.operators.Events.asofValidityIntervals(views,
        key = "user_id", time = "us",
        rightVals = Seq("view_id", "view_value"), horizon = horizon)
      graft.operators.Events.rangeJoin(clicks, validity, key = "user_id",
          t = "us", lo = "lo", hi = "hi", binWidth = 6L * 3600 * 1000000)
        .select(col("event_id"), col("user_id"), col("us"),
          col("iv_view_id").as("asof_view_id"),
          col("iv_view_value").as("asof_view_value"),
          col("iv_us").as("asof_us"))
        .orderBy("event_id")
    }),

    // ---- tumbling-window event aggregation (streaming-shaped) ----
    "q27_event_window" -> ((s, dir) => {
      val ev = eventsWithMicros(s, dir)
        .withColumn("tsx", timestamp_micros(col("us")))
      ev.groupBy(year(col("tsx")).as("y"), month(col("tsx")).as("mo"),
          dayofmonth(col("tsx")).as("d"), hour(col("tsx")).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value") + 1e-7, 4).as("sum_value"))
        .orderBy("y", "mo", "d", "h", "event_type")
    }),
  )

  private val effectSizesSql =
    """WITH stats AS (
         SELECT l_partkey, l_linestatus, l_returnflag,
                count(*) AS n, avg(l_extendedprice) AS mean,
                var_samp(l_extendedprice) AS var
         FROM lineitem GROUP BY 1, 2, 3
       ), wide AS (
         SELECT l_partkey, l_linestatus,
                max(CASE WHEN l_returnflag = 'A' THEN mean END) AS ma,
                max(CASE WHEN l_returnflag = 'N' THEN mean END) AS mb,
                max(CASE WHEN l_returnflag = 'A' THEN var END) AS va,
                max(CASE WHEN l_returnflag = 'N' THEN var END) AS vb,
                max(CASE WHEN l_returnflag = 'A' THEN n END) AS na,
                max(CASE WHEN l_returnflag = 'N' THEN n END) AS nb
         FROM stats GROUP BY 1, 2
       ), eff AS (
         SELECT l_partkey, l_linestatus, na, nb,
                (ma - mb) / sqrt(((na-1)*va + (nb-1)*vb) / (na+nb-2)) AS d
         FROM wide
         WHERE ma IS NOT NULL AND mb IS NOT NULL AND na > 1 AND nb > 1 AND (va + vb) > 0
       ), star AS (
         SELECT l_partkey, l_linestatus, na, nb, d,
                d * (1 - 3.0 / (4*(na+nb-2) - 1)) AS dstar
         FROM eff
       ) SELECT l_partkey, l_linestatus, d, dstar,
                1.0/na + 1.0/nb + dstar*dstar / (2*(na+nb)) AS sigmad
         FROM star"""

  val oracleSql: Map[String, String] = Map(
    "q11_welch_t" ->
      """WITH stats AS (
           SELECT l_partkey, l_returnflag, count(*) AS n,
                  avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
           FROM lineitem GROUP BY 1, 2
         ), wide AS (
           SELECT l_partkey,
                  max(CASE WHEN l_returnflag='A' THEN n END) AS na,
                  max(CASE WHEN l_returnflag='A' THEN mean END) AS ma,
                  max(CASE WHEN l_returnflag='A' THEN var END) AS va,
                  max(CASE WHEN l_returnflag='N' THEN n END) AS nb,
                  max(CASE WHEN l_returnflag='N' THEN mean END) AS mb,
                  max(CASE WHEN l_returnflag='N' THEN var END) AS vb
           FROM stats GROUP BY 1
         ) SELECT l_partkey,
                  round((ma - mb) + 1e-5, 2) + 0.0 AS log2fc,
                  round((ma - mb) / sqrt(va/na + vb/nb) + 1e-7, 4) + 0.0 AS t_stat,
                  round(pow(va/na + vb/nb, 2) /
                        (pow(va/na, 2)/(na-1) + pow(vb/nb, 2)/(nb-1)) + 1e-5, 2) + 0.0 AS df
           FROM wide
           WHERE na > 1 AND nb > 1 AND ma IS NOT NULL AND mb IS NOT NULL AND (va + vb) > 0""",

    "q12_effect_sizes" ->
      (s"""WITH base AS ($effectSizesSql)
          SELECT l_partkey, l_linestatus,
                 round(d + 1e-7, 4) + 0.0 AS d, round(dstar + 1e-7, 4) + 0.0 AS dstar,
                 round(sigmad + 1e-9, 6) + 0.0 AS sigmad
          FROM base"""),

    "q13_fem_rem" ->
      (s"""WITH base AS ($effectSizesSql), wtd AS (
            SELECT l_partkey, 1.0/sigmad AS w, dstar FROM base
          ), agg AS (
            SELECT l_partkey, count(*) AS k, sum(w) AS sw, sum(w*w) AS sw2,
                   sum(w*dstar) AS swd, sum(w*dstar*dstar) AS swd2
            FROM wtd GROUP BY 1 HAVING count(*) > 1
          ), fem AS (
            SELECT l_partkey, k, sw, swd, swd2,
                   greatest(0.0, ((swd2 - swd*swd/sw) - (k-1)) /
                                 (sw - sw2/sw)) AS tau2
            FROM agg
          ), rem AS (
            SELECT b.l_partkey,
                   sum(1.0/(b.sigmad + f.tau2)) AS swp,
                   sum(b.dstar/(b.sigmad + f.tau2)) AS swpd
            FROM base b JOIN fem f USING (l_partkey) GROUP BY 1
          ) SELECT f.l_partkey, f.k,
                   round(swd/sw + 1e-9, 6) + 0.0 AS mu_fem,
                   round((swd/sw) * sqrt(sw) + 1e-7, 4) + 0.0 AS z_fem,
                   round((swd2 - swd*swd/sw) + 1e-7, 4) + 0.0 AS q_stat,
                   round(tau2 + 1e-9, 6) + 0.0 AS tau2,
                   round(swpd/swp + 1e-9, 6) + 0.0 AS mu_rem,
                   round((swpd/swp) * sqrt(swp) + 1e-7, 4) + 0.0 AS z_rem
            FROM fem f JOIN rem USING (l_partkey)"""),

    // pt via NR betacf Lentz continued fraction (100 recursive-CTE
    // levels), qnorm via Acklam. DECIMAL hazard: every recursion
    // anchor literal must CAST to DOUBLE.
    "q14_stouffer" ->
      """WITH RECURSIVE stats AS (
           SELECT l_partkey AS gene, l_linestatus AS study, l_returnflag AS grp,
                  count(*) AS n, avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
           FROM lineitem GROUP BY 1,2,3
         ), wide AS (
           SELECT gene, study,
                  max(CASE WHEN grp='A' THEN n END) AS na, max(CASE WHEN grp='A' THEN mean END) AS ma,
                  max(CASE WHEN grp='A' THEN var END) AS va,
                  max(CASE WHEN grp='N' THEN n END) AS nb, max(CASE WHEN grp='N' THEN mean END) AS mb,
                  max(CASE WHEN grp='N' THEN var END) AS vb
           FROM stats GROUP BY 1,2
         ), welch AS (
           SELECT gene, study, CAST(ma - mb AS DOUBLE) AS fc,
                  CAST((ma - mb) / sqrt(va/na + vb/nb) AS DOUBLE) AS t,
                  CAST(pow(va/na + vb/nb, 2) / (pow(va/na, 2)/(na-1) + pow(vb/nb, 2)/(nb-1)) AS DOUBLE) AS df
           FROM wide
           WHERE na > 1 AND nb > 1 AND ma IS NOT NULL AND mb IS NOT NULL AND (va + vb) > 0
         ), prep AS (
           SELECT gene, study, fc, t, df,
                  df/(df + t*t) AS x0, df/2.0 AS ba, CAST(0.5 AS DOUBLE) AS bb,
                  (df/(df + t*t)) >= (df/2.0 + 1.0)/(df/2.0 + 0.5 + 2.0) AS flip
           FROM welch
         ), cfin AS (
           SELECT *, CASE WHEN flip THEN 1.0 - x0 ELSE x0 END AS xx,
                  CASE WHEN flip THEN bb ELSE ba END AS ca,
                  CASE WHEN flip THEN ba ELSE bb END AS cb
           FROM prep
         ), cf AS (
           SELECT 0 AS m, gene, study, xx, ca, cb,
                  CAST(1.0 AS DOUBLE) AS c,
                  1.0 / (CASE WHEN abs(1.0 - (ca+cb)*xx/(ca+1.0)) < 1e-300
                              THEN 1e-300 ELSE 1.0 - (ca+cb)*xx/(ca+1.0) END) AS d,
                  1.0 / (CASE WHEN abs(1.0 - (ca+cb)*xx/(ca+1.0)) < 1e-300
                              THEN 1e-300 ELSE 1.0 - (ca+cb)*xx/(ca+1.0) END) AS h
           FROM cfin
           UNION ALL
           SELECT m + 1, gene, study, xx, ca, cb, c2, d2, h * d1*c1 * d2*c2
           FROM (
             SELECT *,
                    1.0/(1.0 + aa2*(1.0/(1.0 + aa1*d))) AS d2,
                    1.0 + aa2/(1.0 + aa1/c) AS c2,
                    1.0/(1.0 + aa1*d) AS d1,
                    1.0 + aa1/c AS c1
             FROM (
               SELECT *, (m+1)*(cb-(m+1))*xx/((ca+2*(m+1)-1.0)*(ca+2*(m+1))) AS aa1,
                      -(ca+(m+1))*(ca+cb+(m+1))*xx/((ca+2*(m+1))*(ca+2*(m+1)+1.0)) AS aa2
               FROM cf WHERE m < 100
             ) s1
           ) s2
         ), ibeta AS (
           SELECT p.gene, p.study, p.fc,
                  CASE WHEN p.flip
                       THEN 1.0 - exp(cf.ca*ln(cf.xx) + cf.cb*ln(1.0-cf.xx)
                             + lgamma(cf.ca+cf.cb) - lgamma(cf.ca) - lgamma(cf.cb))*cf.h/cf.ca
                       ELSE exp(cf.ca*ln(cf.xx) + cf.cb*ln(1.0-cf.xx)
                             + lgamma(cf.ca+cf.cb) - lgamma(cf.ca) - lgamma(cf.cb))*cf.h/cf.ca END AS ix
           FROM cf JOIN prep p USING (gene, study)
           WHERE cf.m = 100
         ), zfinal AS (
           SELECT gene, study, fc, sign(fc) * (
             CASE WHEN pq < 0.02425 THEN
               ( ((((( -7.784894002430293e-03*q + -3.223964580411365e-01)*q + -2.400758277161838e+00)*q
                     + -2.549732539343734e+00)*q + 4.374664141464968e+00)*q + 2.938163982698783e+00) /
                  (((( 7.784695709041462e-03*q + 3.224671290700398e-01)*q + 2.445134137142996e+00)*q
                     + 3.754408661907416e+00)*q + 1.0) )
             WHEN pq > 1.0 - 0.02425 THEN
               -( ((((( -7.784894002430293e-03*qr + -3.223964580411365e-01)*qr + -2.400758277161838e+00)*qr
                     + -2.549732539343734e+00)*qr + 4.374664141464968e+00)*qr + 2.938163982698783e+00) /
                  (((( 7.784695709041462e-03*qr + 3.224671290700398e-01)*qr + 2.445134137142996e+00)*qr
                     + 3.754408661907416e+00)*qr + 1.0) )
             ELSE
               ( ((((( -3.969683028665376e+01*r + 2.209460984245205e+02)*r + -2.759285104469687e+02)*r
                    + 1.383577518672690e+02)*r + -3.066479806614716e+01)*r + 2.506628277459239e+00)*qc /
                 ((((( -5.447609879822406e+01*r + 1.615858368580409e+02)*r + -1.556989798598866e+02)*r
                    + 6.680131188771972e+01)*r + -1.328068155288572e+01)*r + 1.0) )
             END) AS z
           FROM (
             SELECT gene, study, fc, pq,
                    sqrt(-2.0*ln(greatest(1.0 - pq, 1e-300))) AS qr,
                    sqrt(-2.0*ln(greatest(pq, 1e-300))) AS q,
                    pq - 0.5 AS qc, (pq-0.5)*(pq-0.5) AS r
             FROM (SELECT gene, study, fc, least(greatest(1.0 - 0.5*ix, 0.0), 1.0) AS pq FROM ibeta)
           )
         ), comb AS (
           SELECT gene, count(*) AS n_platforms,
                  sum(sqrt(abs(fc)) * z) AS num,
                  sum(abs(fc) + abs(fc)*0.25) AS den,
                  avg(fc) AS avg_fc
           FROM zfinal GROUP BY 1 HAVING count(*) >= 2
         )
         SELECT gene AS l_partkey, n_platforms,
                round(avg_fc + 1e-5, 2) + 0.0 AS avg_log2fc,
                round(num/sqrt(den) + 1e-7, 4) + 0.0 AS z_comb
         FROM comb ORDER BY 1""",

    "q15_pairwise_corr" ->
      """WITH m AS (
           SELECT l_partkey, l_returnflag, avg(l_extendedprice) AS v
           FROM lineitem GROUP BY 1, 2
         ) SELECT a.l_returnflag AS s1, b.l_returnflag AS s2,
                  count(*) AS n_common, round(corr(a.v, b.v) + 1e-9, 6) + 0.0 AS r
           FROM m a JOIN m b ON a.l_partkey = b.l_partkey
           WHERE a.l_returnflag < b.l_returnflag
           GROUP BY 1, 2 HAVING count(*) >= 3""",

    "q16_gene_corr" ->
      """WITH m AS (
           SELECT l_partkey, l_suppkey, avg(l_extendedprice) AS v
           FROM lineitem WHERE l_partkey <= 20 GROUP BY 1, 2
         ) SELECT a.l_partkey AS g1, b.l_partkey AS g2,
                  count(*) AS n_common, round(corr(a.v, b.v) + 1e-9, 6) + 0.0 AS r
           FROM m a JOIN m b ON a.l_suppkey = b.l_suppkey
           WHERE a.l_partkey < b.l_partkey
           GROUP BY 1, 2
           HAVING count(*) >= 5 AND corr(a.v, b.v) IS NOT NULL""",

    "q17_venn" ->
      """WITH masks AS (
           SELECT l_partkey,
                  max(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END)
                + max(CASE WHEN l_returnflag='A' THEN 2 ELSE 0 END)
                + max(CASE WHEN l_returnflag='N' THEN 4 ELSE 0 END) AS mask
           FROM lineitem GROUP BY 1
         ) SELECT CAST(mask AS BIGINT) AS mask, count(*) AS n FROM masks GROUP BY 1""",

    "q18_outer_merge" ->
      """SELECT l_partkey,
         round(coalesce(sum(CASE WHEN l_returnflag='R' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_r,
         round(coalesce(sum(CASE WHEN l_returnflag='A' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_a,
         round(coalesce(sum(CASE WHEN l_returnflag='N' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_n
         FROM lineitem GROUP BY 1""",

    "q19_zero_repair" ->
      """WITH m AS (
           SELECT l_suppkey, l_discount AS v,
                  min(CASE WHEN l_discount > 0 THEN l_discount END)
                    OVER (PARTITION BY l_suppkey) AS minpos
           FROM lineitem
         ), rep AS (
           SELECT l_suppkey, CASE WHEN v = 0 THEN minpos ELSE v END AS v
           FROM m
         ) SELECT l_suppkey, round(sum(v) + 1e-7, 4) + 0.0 AS sum_repaired,
                  round(min(v) + 1e-7, 4) + 0.0 AS min_after
           FROM rep GROUP BY 1""",

    "q20_log2_cpm" ->
      """WITH counts AS (
           SELECT l_partkey, l_suppkey, sum(l_quantity) AS c
           FROM lineitem GROUP BY 1, 2
         ), libs AS (
           SELECT l_suppkey, sum(c) AS lib FROM counts GROUP BY 1
         ) SELECT l_partkey,
                  round(avg(log2((c + 0.5) / (lib + 1.0) * 1e6)) + 1e-9, 6) + 0.0 AS avg_log2cpm
           FROM counts JOIN libs USING (l_suppkey)
           GROUP BY 1""",

    "q21_clamp" ->
      """WITH counts AS (
           SELECT l_partkey, l_suppkey, sum(l_quantity) AS c
           FROM lineitem GROUP BY 1, 2
         ), libs AS (
           SELECT l_suppkey, sum(c) AS lib FROM counts GROUP BY 1
         ), cpm AS (
           SELECT l_partkey, l_suppkey,
                  CASE WHEN log2((c + 0.5) / (lib + 1.0) * 1e6) < 10.0 THEN 0.0
                       ELSE log2((c + 0.5) / (lib + 1.0) * 1e6) END AS v
           FROM counts JOIN libs USING (l_suppkey)
         ) SELECT l_suppkey,
                  CAST(sum(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
                  round(sum(v) + 1e-7, 4) + 0.0 AS sum_kept
           FROM cpm GROUP BY 1""",

    "q22_dabg" ->
      """WITH present AS (
           SELECT l_partkey, l_returnflag,
                  avg(CASE WHEN l_extendedprice >= 30000.0 THEN 1.0 ELSE 0.0 END) AS frac
           FROM lineitem GROUP BY 1, 2
         ) SELECT DISTINCT l_partkey FROM present WHERE frac >= 0.5""",

    "q23_rle" ->
      """WITH med AS (
           SELECT l_partkey, quantile_cont(l_extendedprice, 0.5) AS med
           FROM lineitem GROUP BY 1
         ), r AS (
           SELECT l_suppkey, l_extendedprice - med AS rle
           FROM lineitem JOIN med USING (l_partkey)
         ) SELECT l_suppkey,
                  round(quantile_cont(rle, 0.5) + 1e-5, 2) + 0.0 AS rle_median,
                  round(quantile_cont(rle, 0.75) - quantile_cont(rle, 0.25) + 1e-5, 2) + 0.0 AS rle_iqr
           FROM r GROUP BY 1""",

    "q24_ks" ->
      """WITH f AS (
           SELECT l_extendedprice AS v, l_returnflag AS g FROM lineitem
           WHERE l_returnflag IN ('A', 'N')
         ), cdf AS (
           SELECT v, g,
                  count(CASE WHEN g = 'A' THEN 1 END) OVER
                    (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 1.0 / (SELECT count(*) FROM f WHERE g = 'A') AS fa,
                  count(CASE WHEN g = 'N' THEN 1 END) OVER
                    (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 1.0 / (SELECT count(*) FROM f WHERE g = 'N') AS fb
           FROM f
         ) SELECT round(max(abs(fa - fb)) + 1e-9, 6) + 0.0 AS ks_d FROM cdf""",

    "q25_sample_summary" ->
      """SELECT l_suppkey, count(*) AS n,
         round(avg(l_extendedprice) + 1e-5, 2) + 0.0 AS mean,
         round(quantile_cont(l_extendedprice, 0.25) + 1e-5, 2) + 0.0 AS q25,
         round(quantile_cont(l_extendedprice, 0.5) + 1e-5, 2) + 0.0 AS median,
         round(quantile_cont(l_extendedprice, 0.75) + 1e-5, 2) + 0.0 AS q75,
         round(stddev_samp(l_extendedprice) + 1e-5, 2) + 0.0 AS sd
         FROM lineitem GROUP BY 1""",

    "q26_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us FROM events
         ), gaps AS (
           SELECT user_id,
                  us - lag(us) OVER (PARTITION BY user_id
                                     ORDER BY us ASC, event_id ASC) AS gap
           FROM e
         ) SELECT user_id,
                  CAST(sum(CASE WHEN gap IS NULL OR gap > 30*60*1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                  count(*) AS n_events
           FROM gaps GROUP BY 1""",

    // the engine's union+window form vs DuckDB's NATIVE ASOF JOIN —
    // the strongest kind of gate: two unrelated implementations of
    // the same semantics (inclusive match, per-key latest-prior)
    "q161_asof_join" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
           FROM events
         ), c AS (
           SELECT event_id, user_id, us, value FROM ev
           WHERE event_type = 'click'
         ), v AS (
           SELECT user_id, us, event_id AS view_id, value AS view_value
           FROM ev WHERE event_type = 'view'
         )
         SELECT c.event_id, c.user_id, c.us, c.value,
                v.view_id AS asof_view_id, v.view_value AS asof_view_value,
                v.us AS asof_us
         FROM c ASOF LEFT JOIN v
           ON c.user_id = v.user_id AND c.us >= v.us
         ORDER BY c.event_id""",

    // the interval-decomposition as-of vs the SAME native ASOF oracle
    // as q161, inner form: lead-window validity intervals + binned
    // range join must reproduce latest-prior-per-key exactly
    "q163_asof_intervals" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
           FROM events
         ), c AS (
           SELECT event_id, user_id, us FROM ev
           WHERE event_type = 'click'
         ), v AS (
           SELECT user_id, us, event_id AS view_id, value AS view_value
           FROM ev WHERE event_type = 'view'
         )
         SELECT c.event_id, c.user_id, c.us,
                v.view_id AS asof_view_id, v.view_value AS asof_view_value,
                v.us AS asof_us
         FROM c ASOF JOIN v
           ON c.user_id = v.user_id AND c.us >= v.us
         ORDER BY c.event_id""",

    "q162_range_join" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS us, event_type
           FROM events
         ), v AS (
           SELECT event_id AS view_id, user_id, us FROM ev
           WHERE event_type = 'view'
         ), p AS (
           SELECT user_id, us - 86400000000 AS lo, us AS hi,
                  event_id AS purchase_id
           FROM ev WHERE event_type = 'purchase'
         )
         SELECT v.view_id, v.user_id, p.purchase_id, p.hi - v.us AS gap_us
         FROM v JOIN p
           ON v.user_id = p.user_id AND v.us BETWEEN p.lo AND p.hi
         ORDER BY view_id, purchase_id""",

    "q27_event_window" ->
      """SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo, CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
         event_type, count(*) AS n, round(sum(value) + 1e-7, 4) + 0.0 AS sum_value
         FROM events GROUP BY 1, 2, 3, 4, 5""",

    // TRY_CAST mirrors Spark's cast-to-long null semantics: a
    // non-numeric props.k nulls out of n_k/sum/min/max on BOTH
    // engines instead of counting pre-cast (or erroring) in DuckDB.
    "q108_event_props" ->
      """SELECT event_type, count(*) AS n,
                count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
                CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1""",
  )
}
