package graft.queries

import graft.model.ExpressionMatrix
import graft.operators._
import graft.sources.Fixtures.{table => t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY.md §2 operator coverage: melt/unpivot (S1), F3,
  * F8, F11, F12, A7-A10, A12, A20-A21, A23-A24, A26, A31, W4, plus
  * the Ward linkage utility (A8). Oracle SQL is provided wherever
  * DuckDB can express (or replay) the operator — including the
  * iterative kernels as recursive-CTE replays (ComBat it.sol, IRLS
  * logistic, median-polish sweeps, Ward agglomeration), ICC as corr
  * of correlation vectors, permutation FDR as md5 rank-hash shuffles,
  * enrichment as an lgamma pmf tail and eBayes with the digamma
  * recurrence unrolled into SQL. Only the eigen/model-state kernels
  * (PCA, MDS, KMeans cells, LSH sketch families) and the qnorm/t-CDF
  * special functions remain on the driver's weaker rows-only check.
  */
object ExtraQueries {

  /** avg price per (gene=partkey, sample=suppkey) — the shared matrix
    * for the kernel queries. Memoized per (session, dir, maxGene) and
    * eagerly localCheckpoint'ed: the iterative kernels (ComBat,
    * eBayes, PCA) branch over it several times per query, several
    * queries share it, and the bench runs each query twice — a lazy
    * persist still recomputed the 600k-row aggregation once per
    * concurrent verify thread and carried the parquet lineage into
    * every DAG branch. The checkpointed relation is gene×sample-sized
    * (bounded), so keeping it for the session is cheap. */
  private val matrixCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), ExpressionMatrix]()

  /** Drop the query-scoped memo caches (shared-fixture checkpoints).
    * The BENCH calls this before every timed sample so a per-query
    * "best" can never be a memo hit — round 5's q73 headline was the
    * cache-hit tail (0.05 s) of a 4.4 s cold chain. Verify does NOT
    * clear: correctness doesn't time, and the sharing is the point. */
  private[graft] def clearCaches(): Unit = {
    matrixCache.clear()
    multiDeCache.clear()
  }
  private def geneSupplierMatrix(s: SparkSession, dir: String, maxGene: Int = Int.MaxValue): ExpressionMatrix =
    matrixCache.computeIfAbsent((s, dir, maxGene), _ =>
      ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_partkey") <= maxGene)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(avg("l_extendedprice").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"), col("value"))
        .localCheckpoint(true)))

  private def supplierGroups(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(col("s_suppkey").cast("string").as("sample_id"),
      when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group"))

  /** The q73/q74 shared fixture: the q68 closed-platform chain with a
    * THREE-level group factor (s_nationkey %3 → A/B/C), run once
    * through [[graft.Pipelines.closedPlatformDEMulti]] and memoized +
    * checkpointed — two queries (contrast table, venn counts) gate
    * different tails of the same chain, and the bench runs each query
    * twice. The relation is gene×contrast-grain (bounded). */
  private val multiDeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def e1MultiTable(s: SparkSession, dir: String): DataFrame =
    multiDeCache.computeIfAbsent((s, dir), _ => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 200 && col("l_linestatus").isin("O", "F"))
      def ds(status: String) = ExpressionMatrix(
        li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(avg("l_extendedprice").as("value"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            concat_ws("-", lit(status), col("l_suppkey")).as("sample_id"),
            col("value")))
      val part = t(s, dir, "part").filter(col("p_partkey") <= 200)
      val annot = part.select(col("p_partkey").cast("string").as("probe"),
        concat(lit("G"), (col("p_partkey") % 97).cast("string")).as("gene_id"))
      val flat = part.filter(col("p_size") > 15)
        .select(col("p_partkey").cast("string").as("probe"))
      val sup = t(s, dir, "supplier")
      val outliers = Seq("O", "F").map(st => sup.filter(col("s_acctbal") < 0)
          .select(concat_ws("-", lit(st), col("s_suppkey")).as("sample_id")))
        .reduce(_ unionByName _)
      val groups = Seq("O", "F").map(st => sup.select(
          concat_ws("-", lit(st), col("s_suppkey")).as("sample_id"),
          when(col("s_nationkey") % 3 === 0, "A")
            .when(col("s_nationkey") % 3 === 1, "B").otherwise("C").as("group")))
        .reduce(_ unionByName _)
      graft.Pipelines.closedPlatformDEMulti(Seq("O" -> ds("O"), "F" -> ds("F")),
          annot, flat, outliers, groups, sdFrac = 0.6, remlIters = 5, remlTol = 0.0)
        .localCheckpoint(true)
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S1: wide→long melt (unpivot) ----
    "q28_melt" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem").groupBy(col("l_partkey").cast("string").as("pk"))
        .agg(round(coalesce(sum(when(col("l_returnflag") === "R", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_r"),
             round(coalesce(sum(when(col("l_returnflag") === "A", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_a"),
             round(coalesce(sum(when(col("l_returnflag") === "N", col("l_quantity"))), lit(0.0)) + 1e-5, 2).as("qty_n"))
      ExpressionMatrix.melt(wide, "pk").df
        .select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id"), col("value"))
        .orderBy("l_partkey", "sample_id")
    }),

    // ---- F8: zero-count partition ----
    "q29_zero_partition" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_discount").as("value")))
      val (nonzero, zero) = Filters.partitionZeroCounts(m)
      val a = nonzero.df.select(col("gene_id")).distinct()
        .agg(count(lit(1)).as("n")).withColumn("branch", lit("nonzero"))
      val b = zero.df.select(col("gene_id")).distinct()
        .agg(count(lit(1)).as("n")).withColumn("branch", lit("zero"))
      a.unionByName(b).select("branch", "n").orderBy("branch")
    }),

    // ---- F11: replicate renumbering (dense rank over dataset×rep) ----
    "q41_replicate_renumber" -> ((s, dir) => {
      val target = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority").as("dataset"),
        (col("o_custkey") % 100).as("replicate"))
      Filters.renumberReplicates(target)
        .select(col("o_orderkey"), col("dataset"),
          col("replicate"), col("replicate_global"))
        .orderBy("o_orderkey")
    }),

    // ---- F12: sample dedup (first per key, deterministic order) ----
    "q42_dedup_first" -> ((s, dir) => {
      Filters.dedupSamples(t(s, dir, "orders"), "o_custkey",
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"))
        .orderBy("o_custkey")
    }),

    // ---- A24: IDR over FEM-combined vs single-study z thresholds ----
    "q48_idr" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_linestatus"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      val eff = Meta.effectSizes(stats, "group", "l_linestatus", "A", "N")
        .withColumn("z_single", col("dstar") / sqrt(col("sigmad")))
      val perGene = eff.groupBy("gene_id")
        .agg(max(abs(col("z_single"))).as("z_max_single"), count(lit(1)).as("k"))
        .filter(col("k") > 1)
        .join(Meta.femRem(Meta.effectSizes(stats, "group", "l_linestatus", "A", "N"))
          .select(col("gene_id"), col("z_fem").as("z_comb")), Seq("gene_id"))
      Meta.idr(perGene, Seq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0))
        .select(col("t"), col("idr_count")).orderBy("t")
    }),

    // ---- A31: histogram (fixed-width buckets over min/max) ----
    "q50_hist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val bounds = li.agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", least(lit(19),
          floor((col("l_extendedprice") - col("lo")) / ((col("hi") - col("lo")) / 20.0)).cast("int")))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // ---- W4: percent_rank median split on per-gene SD ----
    "q52_percent_rank" -> ((s, dir) => {
      val sd = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(round(stddev_samp("l_extendedprice") + 1e-5, 2).as("sd_price"))
        .filter(col("sd_price").isNotNull)
      sd.withColumn("pr", round(percent_rank().over(
          Window.orderBy(col("sd_price").asc, col("l_partkey").asc)) + 1e-9, 6))
        .filter(col("pr") >= 0.5)
        .select(col("l_partkey"), col("sd_price"), col("pr"))
        .orderBy("l_partkey")
    }),

    // ---- F3: ProbeFilter cigar/gene reliability rules ----
    // Annotation relation fabricated deterministically from lineitem:
    // probeset = part, one row per lineitem mapping. Every 37th
    // probeset is multi-gene (suppkey parity), l_quantity=1 rows get a
    // mismatch cigar, l_quantity=50 rows map to 2 genes, linenumber 7
    // rows are unannotated "-". Exon threshold: remove at >1 bad row.
    "q58_probe_filter" -> ((s, dir) => {
      val annot = t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("probeset"),
        when(col("l_linenumber") === 7, "-")
          .when(col("l_partkey") % 37 === 0,
            concat(lit("G"), col("l_partkey").cast("string"), lit("x"),
              (col("l_suppkey") % 2).cast("string")))
          .otherwise(concat(lit("G"), col("l_partkey").cast("string"))).as("gene_id"),
        when(col("l_linenumber") === 7, "-")
          .otherwise(concat(lit("N"), col("l_partkey").cast("string"))).as("gene_short_name"),
        when(col("l_quantity") === 1, "24=1X").otherwise("25=").as("cigar"),
        when(col("l_quantity") === 50, 2).otherwise(1).as("gene_no"))
      ProbeFilter.exonFlat(annot)
        .select(col("probe").cast("long").as("probeset"), col("gene_idD"),
          col("gene_short_name"))
        .orderBy("probeset")
    }),

    // ---- A28: MA-plot stats vs the pseudo-reference array ----
    "q59_ma_stats" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem").select(
        col("l_partkey").cast("string").as("gene_id"),
        col("l_suppkey").cast("string").as("sample_id"),
        col("l_extendedprice").as("value")))
      QC.maStats(m)
        .select(col("sample_id").cast("long").as("l_suppkey"),
          round(col("ma_m_median") + 1e-5, 2).as("ma_m_median"),
          round(col("ma_m_iqr") + 1e-5, 2).as("ma_m_iqr"),
          round(col("ma_a_median") + 1e-5, 2).as("ma_a_median"))
        .orderBy("l_suppkey")
    }),

    // ---- A28: NUSE from the relational PLM decomposition ----
    "q60_nuse" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val probes = ExpressionMatrix(li
        .groupBy(col("l_partkey"), col("l_linenumber"), col("l_suppkey"))
        .agg(avg("l_extendedprice").as("value"))
        .select(concat_ws("-", col("l_partkey"), col("l_linenumber")).as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"), col("value")))
      val annot = li.select(
        concat_ws("-", col("l_partkey"), col("l_linenumber")).as("probe"),
        col("l_partkey").cast("string").as("probeset")).distinct()
      QC.nuse(probes, annot)
        .select(col("sample_id").cast("long").as("l_suppkey"),
          round(col("nuse_median") + 1e-9, 6).as("nuse_median"),
          round(col("nuse_iqr") + 1e-9, 6).as("nuse_iqr"))
        .orderBy("l_suppkey")
    }),

    // ---- A28: RNA-degradation slope (mean intensity vs position) ----
    "q61_rna_deg" -> ((s, dir) => {
      QC.rnaDegradation(t(s, dir, "lineitem").select(
          col("l_suppkey").as("sample_id"),
          col("l_linenumber").as("position"),
          col("l_extendedprice").as("value")))
        .select(col("sample_id").as("l_suppkey"),
          round(col("deg_slope") + 1e-5, 2).as("deg_slope"),
          round(col("mean_intensity") + 1e-5, 2).as("mean_intensity"))
        .orderBy("l_suppkey")
    }),

    // ---- A9: classical MDS (cmdscale). Hash-checked: the distance
    // inputs round to the 2dp grid on BOTH sides (so both engines
    // start from identical doubles), the double-centering and the
    // 500-step seeded power iteration + deflation replay as recursive
    // CTEs with ordered-aggregate matvecs; cross-engine drift is
    // bounded by the noise-injection steady state 1e-16/(1−λ2/λ1),
    // far below the 2dp output grid for any non-degenerate gap. ----
    "q62_mds" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 50)
      val bounded = ExpressionMatrix(
        m.df.filter(col("sample_id").cast("long") <= 300))
      // dist² is ~1e9-scale: round to whole units (still 1e-9 relative)
      // so both engines seed the iteration from identical doubles with
      // float noise far from any rounding boundary; eigenvalues
      // (1e10-scale) likewise round to integers on output
      val dist = Cluster.sampleDistances(bounded)
        .withColumn("dist2", round(col("dist2") + 1e-5, 0) + 0.0)
      Cluster.cmdscale(dist, k = 2)
        .select(col("sample_id").cast("long").as("l_suppkey"),
          round(col("c1") + 1e-5, 2).as("c1"), round(col("c2") + 1e-5, 2).as("c2"),
          round(col("eig1") + 1e-5, 0).as("eig1"), round(col("eig2") + 1e-5, 0).as("eig2"))
        .orderBy("l_suppkey")
    }),

    // ---- A19: robust spline normalisation. Hash-checked: anchors are
    // plain aggregates, the tridiagonal (Thomas) spline solve replays
    // as two single-chain recursive CTEs, and the piecewise cubic is
    // closed-form. ----
    "q63_rsn" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 300)
      Normalize.rsn(m, bins = 10).df
        .select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id").cast("long").as("l_suppkey"),
          round(col("value") + 1e-5, 2).as("rsn_value"))
        .orderBy("l_partkey", "l_suppkey")
    }),

    // ---- A16: conditional quantile normalisation. Hash-checked: the
    // GC systematic-effect spline replays like q63's (Thomas solve in
    // recursive CTEs), then QN rank windows and the floor. Gene info
    // (gc, length) is fabricated deterministically from part keys. ----
    "q64_cqn" -> ((s, dir) => {
      val counts = ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 300)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum("l_quantity").cast("double").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"), col("value")))
      val info = t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey").cast("string").as("gene_id"),
        ((col("p_partkey") % 41) / 100.0 + 0.3).as("gc"),
        (lit(500) + (col("p_partkey") % 17) * 100).cast("double").as("length"))
      Normalize.cqn(counts, info, bins = 6)
        .df.select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id").cast("long").as("l_suppkey"),
          round(col("value") + 1e-5, 2).as("cqn_value"))
        .orderBy("l_partkey", "l_suppkey")
    }),

    // ---- A10: ComBat batch adjustment. Hash-checked: the 30-step
    // it.sol fixed point is row-local given the per-batch moment
    // hyperpriors, so the oracle replays it as a recursive CTE. ----
    "q44_combat" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir)
      val batches = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      Batch.combat(m, batches).df
        .groupBy("gene_id")
        .agg(round(avg("value") + 1e-5, 2).as("adj_mean"), count(lit(1)).as("n"))
        .select(col("gene_id").cast("long").as("l_partkey"), col("adj_mean"), col("n"))
        .orderBy("l_partkey")
    }),

    // ---- A10: ComBat with the reference's mod = model.matrix(~group)
    // covariate design. Hash-checked: the oracle replays the shared-
    // design OLS — XᵀX from integer contingency counts, inverted by
    // the SAME Gauss-Jordan elimination sequence unrolled into three
    // CTE stages (all +,-,*,/ on exact-integer inputs → bit-identical
    // across engines) — then the 30-step it.sol recursion of q44. ----
    "q66_combat_covariates" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir)
      val batches = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      Batch.combatWithCovariates(m, batches, supplierGroups(s, dir)).df
        .groupBy("gene_id")
        .agg(round(avg("value") + 1e-5, 2).as("adj_mean"), count(lit(1)).as("n"))
        .select(col("gene_id").cast("long").as("l_partkey"), col("adj_mean"), col("n"))
        .orderBy("l_partkey")
    }),

    // ---- A10: ComBat nonparametric posterior — the reference's
    // log-likelihood int.eprior patch. Hash-checked: the pairwise LL
    // over per-gene sufficient statistics is a plain self-join +
    // max-LL-guarded softmax aggregation DuckDB expresses directly
    // (ln/exp only, no lgamma). Bounded gene set: int.eprior is O(G²)
    // per batch by definition. ----
    "q67_combat_nonparam" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 300)
      val batches = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      Batch.combat(m, batches, parametric = false).df
        .groupBy("gene_id")
        .agg(round(avg("value") + 1e-5, 2).as("adj_mean"), count(lit(1)).as("n"))
        .select(col("gene_id").cast("long").as("l_partkey"), col("adj_mean"), col("n"))
        .orderBy("l_partkey")
    }),

    // ---- E1: the closed-platform chain end-to-end
    // (Pipelines.closedPlatformDE): outlier removal → reliable-probe
    // semi-join → max-variance probe→gene dedup per dataset → bind on
    // common genes → ComBat (null model, batch = dataset) → zero-var +
    // top-60%-SD filters → 5 REML arrayWeights sweeps → weighted
    // moderated-t. Hash-checked stage by stage (the q65 pattern);
    // output stops at (log2fc, t_mod, df_total) — the t-CDF and BH
    // tails are separately gated by q14/q10. remlTol=0 pins the sweep
    // count so the oracle replays exactly 5 sweeps. ----
    "q68_e1_chain" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 200 && col("l_linestatus").isin("O", "F"))
      def ds(status: String) = ExpressionMatrix(
        li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(avg("l_extendedprice").as("value"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            concat_ws("-", lit(status), col("l_suppkey")).as("sample_id"),
            col("value")))
      val part = t(s, dir, "part").filter(col("p_partkey") <= 200)
      val annot = part.select(col("p_partkey").cast("string").as("probe"),
        concat(lit("G"), (col("p_partkey") % 97).cast("string")).as("gene_id"))
      val flat = part.filter(col("p_size") > 15)
        .select(col("p_partkey").cast("string").as("probe"))
      val sup = t(s, dir, "supplier")
      val outliers = Seq("O", "F").map(st => sup.filter(col("s_acctbal") < 0)
          .select(concat_ws("-", lit(st), col("s_suppkey")).as("sample_id")))
        .reduce(_ unionByName _)
      val groups = Seq("O", "F").map(st => sup.select(
          concat_ws("-", lit(st), col("s_suppkey")).as("sample_id"),
          when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group")))
        .reduce(_ unionByName _)
      graft.Pipelines.closedPlatformDE(Seq("O" -> ds("O"), "F" -> ds("F")), annot, flat,
          outliers, groups, "A", "B", sdFrac = 0.6, remlIters = 5, remlTol = 0.0)
        .select(col("gene_id"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("gene_id")
    }),

    // ---- E2: the open-platform (RNA-seq) chain end-to-end
    // (Pipelines.openPlatformDE): special-counter filter → outlier
    // removal → zero-count partition → cqnLite (log2-CPM → quantile
    // normalisation → <2→0 floor) → ComBat → zero-var + top-50%-SD
    // filters → de-log (2^x, x==1→0) → voom (log2-CPM +
    // per-observation precision weights from the binned mean-variance
    // trend) → weighted cell-means fit → eBayes moderated t. Output
    // stops at (log2fc, t_mod, df_total) — the t-CDF and BH tails are
    // separately gated by q14/q10. ----
    "q69_e2_chain" -> ((s, dir) => {
      val counts = ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 400)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum("l_quantity").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"),
          col("value").cast("double").as("value")))
      val sup = t(s, dir, "supplier")
      val outliers = sup.filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").cast("string").as("sample_id"))
      val batches = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      val groups = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group"))
      graft.Pipelines.openPlatformDE(counts, outliers, batches, groups, "A", "B")
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("l_partkey")
    }),

    // ---- E3: the meta-analysis chain end-to-end
    // (Pipelines.metaAnalysis): pair ICC over standardized dense
    // platform grids → negative-mean-ICC gene drop (F7) → per-platform
    // eBayes moderated-t topTable (the reference's meta reads each
    // platform's limma topTable col-8 log2FC / col-11 BH-adjusted p,
    // Meta_analysis.R:1035-1087) → ICC-weighted Stouffer combine over
    // the ADJUSTED p. Two platforms (O/F linestatus), so mean ICC =
    // the pair ICC. p_comb is a bijection of z_comb through pnorm and
    // is omitted, as in q14. ----
    "q70_e3_chain" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_partkey") <= 100)
      def mat(status: String) = ExpressionMatrix(
        li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(avg("l_extendedprice").as("value"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            col("l_suppkey").cast("string").as("sample_id"), col("value")))
      val groups = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group"))
      graft.Pipelines.metaAnalysis(Seq("O" -> mat("O"), "F" -> mat("F")),
          groups, "A", "B")
        .select(col("gene_id").cast("long").as("l_partkey"), col("n_platforms"),
          round(col("avg_log2fc") + 1e-5, 2).as("avg_log2fc"),
          round(col("z_comb") + 1e-7, 4).as("z_comb"))
        .orderBy("l_partkey")
    }),

    // ---- E1 multi-contrast: the reference's actual k-group
    // invocation (combn + makeContrasts + contrasts.fit + eBayes,
    // DiffExpression_closedPlatform.R:511-556): the q68 chain with a
    // 3-level group factor, ONE pooled cell-means fit (df_resid =
    // n−k) and ONE shared eBayes posterior behind all C(3,2)
    // contrasts. Output stops at (log2fc, t_mod, df_total) per
    // contrast, the q68 convention. ----
    "q73_e1_multi_contrast" -> ((s, dir) =>
      e1MultiTable(s, dir)
        .select(col("gene_id"), col("contrast"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("gene_id", "contrast")),

    // ---- A13+A27: decideTests over the full contrast matrix → venn
    // membership counts (DiffExpression_closedPlatform.R:580-594:
    // decideTests(eb) then vennDiagram over the three contrast
    // columns). Significance is called on the transcendental-free
    // monotone surrogate p = df_r/(df_r + t²) (df_r = the residual
    // df, recovered as df_total − d0 with the fixture's pinned
    // d0 = 1e6; the q71/q72 convention — the real t-CDF is gated by
    // q14/q45) at α = 0.95, which splits the fixture ~40/60. Masks:
    // AvsB=1, AvsC=2, BvsC=4; genes significant nowhere are absent
    // (vennCounts counts set members). ----
    "q74_contrast_venn" -> ((s, dir) => {
      val tbl = e1MultiTable(s, dir)
        .withColumn("p_sur", round((col("df_total") - 1e6) /
          ((col("df_total") - 1e6) + col("t_mod") * col("t_mod")) + 1e-9, 6))
      val sig = DiffExpr.decideTests(tbl, pAdj = "p_sur", lfc = "log2fc",
          alpha = 0.95, minLfc = 0.0)
        .filter(col("sig") =!= 0)
        .select("gene_id", "contrast").localCheckpoint(true)
      val sets = Seq("AvsB", "AvsC", "BvsC").map(c =>
        c -> sig.filter(col("contrast") === c).select("gene_id"))
      SetOps.vennCounts(sets, "gene_id")
        .select(col("mask"), col("n").as("n_genes"))
        .orderBy("mask")
    }),

    // ---- E2 multi-contrast: the open-platform chain with a 3-level
    // group factor through voom → ONE pooled weighted fit → all
    // C(3,2) contrasts (DiffExpression_openPlatform.R:485-515 runs
    // the identical combn/makeContrasts/eBayes block as E1). ----
    "q75_e2_multi_contrast" -> ((s, dir) => {
      val counts = ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 400)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum("l_quantity").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"),
          col("value").cast("double").as("value")))
      val sup = t(s, dir, "supplier")
      val outliers = sup.filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").cast("string").as("sample_id"))
      val batches = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      val groups = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "A")
          .when(col("s_nationkey") % 3 === 1, "B").otherwise("C").as("group"))
      graft.Pipelines.openPlatformDEMulti(counts, outliers, batches, groups)
        .select(col("gene_id").cast("long").as("l_partkey"), col("contrast"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("l_partkey", "contrast")
    }),

    // ---- Multimodal: REAL image decode through the batched media
    // plumbing. The fixture plants deterministic PNGs whose dimensions
    // derive from p_partkey (width = 1 + k % 37, height = 1 + k % 23,
    // 3-band BGR), encoded with the JDK's ImageIO driver-side (the
    // media relation is metadata-grain here); decodeImages then
    // actually parses the PNG headers on executors — the hash only
    // matches if the encode→decode roundtrip recovers every planted
    // dimension. The oracle recomputes the dims from `part`. ----
    "q83_image_decode" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      val rows = ids.toSeq.map { k =>
        val w = (1 + k % 37).toInt
        val h = (1 + k % 23).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var x = 0
        while (x < w) {
          var y = 0
          while (y < h) { img.setRGB(x, y, ((k * 31 + x * 7 + y) % 0xFFFFFF).toInt); y += 1 }
          x += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (k, "image", bos.toByteArray)
      }
      Multimodal.decodeImages(rows.toDF("media_id", "kind", "content"))
        .select(col("media_id").as("p_partkey"), col("width"), col("height"),
          col("channels"))
        .orderBy("p_partkey")
    }),

    // ---- Multimodal: REAL image RESIZE (bounded downscale to a
    // 24-px long edge, bilinear, PNG re-encode) through the batched
    // media plumbing, then the resized BYTES re-decoded in-query —
    // the hash matches only if every re-encoded PNG actually decodes
    // to its target dimensions. Planted dims from p_partkey
    // (w = 1 + k % 67, h = 1 + k % 41; some within the bound to
    // exercise the pass-through path). ----
    "q124_image_resize" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      val rows = ids.toSeq.map { k =>
        val w = (1 + k % 67).toInt
        val h = (1 + k % 41).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var x = 0
        while (x < w) {
          var y = 0
          while (y < h) { img.setRGB(x, y, ((k * 31 + x * 7 + y) % 0xFFFFFF).toInt); y += 1 }
          x += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (k, "image", bos.toByteArray)
      }
      val resized = Multimodal.resizeImages(
        rows.toDF("media_id", "kind", "content"), maxDim = 24)
      val redec = Multimodal.decodeImages(resized.select(col("media_id"),
          lit("image").as("kind"), col("resized").as("content")))
        .select(col("media_id"), col("width").as("rw"), col("height").as("rh"))
      resized.select(col("media_id"), col("width"), col("height"),
          col("new_width"), col("new_height"))
        .join(redec, Seq("media_id"))
        .select(col("media_id").as("p_partkey"), col("width"), col("height"),
          col("new_width"), col("new_height"), col("rw"), col("rh"))
        .orderBy("p_partkey")
    }),

    // ---- Per-key quota sampling (domain/language balancing): cap
    // documents per pseudo-domain (doc_id % 7) at 20, survivors picked
    // by the seeded deterministic hash shuffle (md5 family so the
    // oracle replays the ordering). ----
    "q86_quota_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 7).as("domain"))
      TextDedup.capPerKey(docs, "domain", cap = 20, seed = 3, md5Hashes = true)
        .select(col("domain"), col("doc_id"))
        .orderBy("domain", "doc_id")
    }),

    // ---- E5 mixing chain end-to-end: per-domain rates (q89's) →
    // per-domain 1500-token budgets → 256-token packing blocks, every
    // stage the deterministic md5 machinery so the oracle replays the
    // whole chain. ----
    "q93_data_mix" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 5).as("domain"),
          graft.functions.TextFunctions.wsTokenCount(col("text")).as("toks"))
      val rates = Seq((0L, "2"), (1L, "4"), (2L, "8"), (3L, "c"))
        .toDF("domain", "threshold")
      graft.Pipelines.dataMix(docs, rates, "domain", "toks",
          budgetPerKey = 1500L, blockTokens = 256L, seed = 11, md5Hashes = true)
        .orderBy("doc_id")
    }),

    // ---- Sequence-packing manifest (concat-and-split pretraining
    // packing): global token offsets in the seeded md5 corpus order,
    // 512-token blocks — the oracle replays the prefix sum with one
    // global window (oracle-scale only; the engine side stitches
    // range partitions, no global window). ----
    "q91_packing_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.wsTokenCount(col("text")).as("toks"))
      TextDedup.packingManifest(docs, "toks", blockTokens = 512L,
          seed = 5, md5Hashes = true)
        .orderBy("doc_id")
    }),

    // ---- Token-window chunking (context-window prep): 32-token
    // chunks advancing by 24 (8-token overlap), reassembled text
    // md5-hashed so the gate pins every chunk boundary and token
    // order without dumping full chunk text. ----
    "q90_token_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      TextDedup.chunkByTokens(docs, chunkTokens = 32, stride0 = 24)
        .select(col("doc_id"), col("chunk"), md5(col("text")).as("chunk_md5"),
          col("n_tokens"))
        .orderBy("doc_id", "chunk")
    }),

    // ---- Per-key RATE sampling (mixing weights): each pseudo-domain
    // (doc_id % 5) keeps a different fraction via a hex md5-threshold
    // Bernoulli — 1/8, 1/4, 1/2, 3/4, and domain 4 unrated (keeps
    // all). Exact cross-engine: both sides compare the same md5 string
    // against the same threshold. ----
    "q89_rate_sample" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 5).as("domain"))
      val rates = Seq((0L, "2"), (1L, "4"), (2L, "8"), (3L, "c"))
        .toDF("domain", "threshold")
      TextDedup.sampleByRate(docs, "domain", rates, seed = 7)
        .select(col("domain"), col("doc_id"))
        .orderBy("domain", "doc_id")
    }),

    // ---- Per-key TOKEN-budget sampling (the data-MIXING stage:
    // training mixes balance by token count, not doc count): cap each
    // pseudo-domain (doc_id % 7) at 2000 whitespace tokens, survivors
    // = the greedy prefix under the budget in the seeded md5 rank
    // order (so the oracle replays the ordering and the prefix sum
    // exactly). ----
    "q88_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 7).as("domain"),
          graft.functions.TextFunctions.wsTokenCount(col("text")).as("toks"))
      TextDedup.capTokensPerKey(docs, "domain", "toks", budget = 2000L,
          seed = 3, md5Hashes = true)
        .select(col("domain"), col("doc_id"), col("toks"))
        .orderBy("domain", "doc_id")
    }),

    // ---- Paragraph-grain exact dedup (the Dolma/RefinedWeb
    // boilerplate-removal stage): the corpus text is single-line, so
    // the fixture synthesizes 3-paragraph documents from corpus
    // substrings with modular cross-references — every paragraph is
    // shared by ~3 documents, so keep-first drops ~2/3 of all
    // occurrences and some documents keep only their own lead
    // paragraph. Output = the reassembled surviving text. ----
    "q85_paragraph_dedup" -> ((s, dir) => {
      val pool = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 60).as("para"))
      val n = t(s, dir, "documents").count()
      def p(alias: String, key: String) =
        pool.select(col("doc_id").as(key), col("para").as(alias))
      val synth = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("p1", col("doc_id"))
        .withColumn("p2", (col("doc_id") * 7 + 13) % n)
        .withColumn("p3", (col("doc_id") * 3 + 5) % n)
        .join(p("a", "p1"), Seq("p1")).join(p("b", "p2"), Seq("p2"))
        .join(p("c", "p3"), Seq("p3"))
        .select(col("doc_id"), concat_ws("\n", col("a"), col("b"), col("c")).as("text"))
      TextDedup.paragraphDedup(synth)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // ---- Multimodal: REAL audio header decode (javax.sound.sampled
    // ships in the JDK — WAV needs no external libs). Deterministic
    // 16-bit PCM WAVs with p_partkey-derived (rate, channels, frames)
    // are encoded driver-side; decodeAudio parses the RIFF headers on
    // executors; the oracle recomputes the planted values from
    // `part`. ----
    "q84_audio_decode" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      val rows = ids.toSeq.map { k =>
        val rate = (8000 * (1 + k % 3)).toInt
        val ch = (1 + k % 2).toInt
        val frames = (50 + k % 97).toInt
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
        val pcm = Array.tabulate(frames * 2 * ch)(i => ((k * 31 + i * 7) % 251).toByte)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (k, "audio", bos.toByteArray)
      }
      Multimodal.decodeAudio(rows.toDF("media_id", "kind", "content"))
        .select(col("media_id").as("p_partkey"), col("sample_rate"),
          col("channels"), col("frames"))
        .orderBy("p_partkey")
    }),

    // ---- Multimodal: REAL video CONTAINER-metadata decode (ISO-BMFF
    // box parsing is pure byte algebra — no codec libs, the q84 WAV
    // pattern). Minimal MP4s (ftyp + moov(mvhd + N×trak(tkhd))) with
    // p_partkey-derived dims/duration/track-count are assembled
    // driver-side; decodeVideo walks the boxes on executors; the
    // oracle recomputes the planted values from `part`. Frame decode
    // stays the declared stub — this gates the header path only. ----
    "q87_video_meta" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def box(tp: String, payload: Array[Byte]): Array[Byte] =
        be32(payload.length + 8L) ++ tp.getBytes("US-ASCII") ++ payload
      val unityMatrix = Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
        0x40000000L).flatMap(be32).toArray
      val rows = ids.toSeq.map { k =>
        val (w, h) = (16 * (1 + k % 30), 16 * (1 + k % 17))
        val durMs = 1000 + k % 977
        val nTracks = (1 + k % 3).toInt
        // tkhd v0: ver/flags ctime mtime track_id rsvd duration
        // rsvd(8) layer altgroup volume rsvd matrix width height
        def tkhd(trackId: Long, tw: Long, th: Long) = box("tkhd",
          Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++ be32(trackId) ++
            be32(0) ++ be32(durMs) ++ be32(0) ++ be32(0) ++
            Array[Byte](0, 0, 0, 0, 1, 0, 0, 0) ++ unityMatrix ++
            be32(tw << 16) ++ be32(th << 16))
        // first trak is the video track; the rest model audio tracks
        // (tkhd width/height zero), so dims must come from trak #1
        val traks = (0 until nTracks).map(i =>
          box("trak", tkhd(i + 1L, if (i == 0) w else 0L, if (i == 0) h else 0L)))
          .reduce(_ ++ _)
        val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
          be32(1000) ++ be32(durMs) ++ Array.fill(80)(0.toByte))
        val mp4 = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
          "isomiso2".getBytes("US-ASCII")) ++ box("moov", mvhd ++ traks)
        (k, "video", mp4)
      }
      Multimodal.decodeVideo(rows.toDF("media_id", "kind", "content"))
        .select(col("media_id").as("p_partkey"), col("width"), col("height"),
          col("duration_ms"), col("tracks"))
        .orderBy("p_partkey")
    }),

    // ---- Multimodal: REAL video FRAME decode (MJPEG-in-AVI — the
    // RIFF walk is pure byte algebra and every ##dc chunk is a
    // complete JPEG the JDK's ImageIO decodes; no codec libs).
    // Minimal AVIs (hdrl with a vids/MJPG stream + movi with
    // per-frame JPEG chunks) are assembled driver-side with
    // p_partkey-derived frame counts and PER-FRAME dimensions;
    // decodeFrames walks the container and ImageIO-decodes every 2nd
    // frame on executors; the oracle recomputes the planted values
    // from `part`. The hash only matches if the chunk walk finds
    // every frame (n_frames) and the JPEG roundtrip recovers every
    // sampled frame's dimensions. ----
    // ---- REAL codec-compressed animation decode: multi-frame GIFs
    // (LZW streams) written with the JDK's own GIF sequence writer,
    // decoded back frame-by-frame through ImageIO. Planted dims /
    // frame counts / checkerboard luminance replay as closed forms
    // of p_partkey in the oracle. ----
    "q107_gif_frames" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      // heights stay >= 5: the JDK GIF LZW encoder corrupts streams
      // at height <= 4 (verified empirically: 6x4/12x4/20x4 round-
      // trip with wrong pixels, every h >= 5 shape is exact)
      val rows = ids.toSeq.map(k => (k, "gif", Multimodal.checkerboardGif(
        (4 * (1 + k % 9)).toInt, (5 + 4 * (k % 5)).toInt, (1 + k % 5).toInt)))
      Multimodal.gifFrames(rows.toDF("media_id", "kind", "content"), every = 2)
        .select(col("media_id").as("p_partkey"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"),
          round(col("mean_lum") + 1e-7, 4).as("mean_lum"))
        .orderBy("p_partkey", "frame_idx")
    }),

    "q99_video_frames" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ids = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
      def le32(v: Long) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      def chunk(id: String, payload: Array[Byte]): Array[Byte] =
        id.getBytes("US-ASCII") ++ le32(payload.length.toLong) ++ payload ++
          (if (payload.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
      def list(tp: String, children: Array[Byte]): Array[Byte] =
        chunk("LIST", tp.getBytes("US-ASCII") ++ children)
      def jpeg(w: Int, h: Int, k: Long): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var x = 0
        while (x < w) {
          var y = 0
          while (y < h) { img.setRGB(x, y, ((k * 37 + x * 11 + y) % 0xFFFFFF).toInt); y += 1 }
          x += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      val rows = ids.toSeq.map { k =>
        val nFrames = (1 + k % 4).toInt
        val frames = (0 until nFrames).map { i =>
          chunk("00dc", jpeg((8 * (1 + (k + i) % 11)).toInt,
            (8 * (1 + (k + 2 * i) % 7)).toInt, k))
        }.reduce(_ ++ _)
        // minimal-but-shaped header list: avih + one vids/MJPG stream
        val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
          "MJPG".getBytes("US-ASCII") ++ Array.fill(48)(0.toByte))
        val strf = chunk("strf", Array.fill(40)(0.toByte)) // BITMAPINFOHEADER
        val hdrl = list("hdrl",
          chunk("avih", Array.fill(56)(0.toByte)) ++ list("strl", strh ++ strf))
        val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ list("movi", frames)
        val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
        (k, "video", avi)
      }
      Multimodal.decodeFrames(rows.toDF("media_id", "kind", "content"), every = 2)
        .select(col("media_id").as("p_partkey"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"), col("channels"))
        .orderBy("p_partkey", "frame_idx")
    }),

    // ---- J6 × contrasts: the reference's per-contrast annotated
    // topTable files (DiffExpression_closedPlatform.R:598-633 writes
    // annotGenes + prepare2write once per contrast; Meta_analysis.R
    // later reads each file's col-8/col-11) as one long relation over
    // the q73 multi-contrast chain. True moderated p (t-CDF) and its
    // per-contrast BH ride through — the oracle replays them with the
    // Lentz CF (converges at df ≈ 1e6, the q70 measurement). Genes
    // with k % 3 == 0 are absent from the annotation → NA rows. ----
    "q80_contrast_toptables" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val annot = (0 until 97).filter(_ % 3 != 0).map(k =>
          (s"G$k", s"HGNC$k", s"type-${k % 5}", s"chr${k % 22}", s"b${k % 7}"))
        .toDF("gene_id", "hgnc_symbol", "description", "chromosome_name", "band")
      Bind.annotatedTopTablesByContrast(e1MultiTable(s, dir), annot)
        .select(col("contrast"), col("gene").as("gene_id"),
          coalesce(col("hgnc_symbol"), lit("NA")).as("hgnc_symbol"),
          coalesce(col("description"), lit("NA")).as("description"),
          coalesce(col("chromosome_name"), lit("NA")).as("chromosome_name"),
          coalesce(col("band"), lit("NA")).as("band"),
          coalesce(col("strand"), lit("NA")).as("strand"),
          coalesce(col("start_position"), lit("NA")).as("start_position"),
          coalesce(col("end_position"), lit("NA")).as("end_position"),
          round(col("log2FC") + 1e-5, 2).as("log2fc"),
          round(col("t_statistic") + 1e-7, 4).as("t_stat"),
          round(col("p_value") + 1e-9, 6).as("p_value"),
          round(col("adj_p_value") + 1e-9, 6).as("adj_p"))
        .orderBy("gene_id", "contrast")
    }),

    // ---- A11 GLS: the E1 chain's technical-replicate branch — the
    // q68 fixture with every sample assigned to a ≤2-sample block
    // (unit = dataset-parity-⌊suppkey/2⌋, nested in the group by
    // construction; pair blocks keep compound symmetry positive
    // definite for any consensus ρ ∈ (−1,1), and the parity split
    // leaves sizes 1 AND 2 — the unbalanced case where the old
    // design-effect deflation diverged from limma's gls.series).
    // Exercises duplicateCorrelationReml → groupStatsGlsObs with the
    // REML array weights. Output = the q68 convention. ----
    "q81_e1_blocked" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 200 && col("l_linestatus").isin("O", "F"))
      def ds(status: String) = ExpressionMatrix(
        li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(avg("l_extendedprice").as("value"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            concat_ws("-", lit(status), col("l_suppkey")).as("sample_id"),
            col("value")))
      val part = t(s, dir, "part").filter(col("p_partkey") <= 200)
      val annot = part.select(col("p_partkey").cast("string").as("probe"),
        concat(lit("G"), (col("p_partkey") % 97).cast("string")).as("gene_id"))
      val flat = part.filter(col("p_size") > 15)
        .select(col("p_partkey").cast("string").as("probe"))
      val sup = t(s, dir, "supplier")
      val outliers = Seq("O", "F").map(st => sup.filter(col("s_acctbal") < 0)
          .select(concat_ws("-", lit(st), col("s_suppkey")).as("sample_id")))
        .reduce(_ unionByName _)
      val groups = Seq("O", "F").map(st => sup.select(
          concat_ws("-", lit(st), col("s_suppkey")).as("sample_id"),
          when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group")))
        .reduce(_ unionByName _)
      val reps = Seq("O", "F").map(st => sup.select(
          concat_ws("-", lit(st), col("s_suppkey")).as("sample_id"),
          concat_ws("-", lit(st), (col("s_nationkey") % 2).cast("string"),
            floor(col("s_suppkey") / 2).cast("string")).as("unit"),
          (col("s_suppkey") % 2).cast("int").as("rep")))
        .reduce(_ unionByName _)
      graft.Pipelines.closedPlatformDE(Seq("O" -> ds("O"), "F" -> ds("F")), annot, flat,
          outliers, groups, "A", "B", sdFrac = 0.6, replicates = Some(reps),
          remlIters = 5, remlTol = 0.0)
        .select(col("gene_id"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("gene_id")
    }),

    // ---- A11 GLS: the E2 chain's technical-replicate branch — the
    // q69 fixture with pair blocks (unit = parity-⌊suppkey/2⌋) through
    // voom → duplicateCorrelationReml on the voom values →
    // groupStatsGlsObs over the PER-OBSERVATION voom weights (limma's
    // gls.series with a voom weight matrix). ----
    "q82_e2_blocked" -> ((s, dir) => {
      val counts = ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_partkey") <= 400)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum("l_quantity").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"),
          col("value").cast("double").as("value")))
      val sup = t(s, dir, "supplier")
      val outliers = sup.filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").cast("string").as("sample_id"))
      val batches = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 3 === 0, "b0").otherwise("b1").as("batch"))
      val groups = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        when(col("s_nationkey") % 2 === 0, "A").otherwise("B").as("group"))
      val reps = sup.select(col("s_suppkey").cast("string").as("sample_id"),
        concat_ws("-", (col("s_nationkey") % 2).cast("string"),
          floor(col("s_suppkey") / 2).cast("string")).as("unit"),
        (col("s_suppkey") % 2).cast("int").as("rep"))
      graft.Pipelines.openPlatformDE(counts, outliers, batches, groups, "A", "B",
          replicates = Some(reps))
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("l_partkey")
    }),

    // ---- J6: annotated topTable — the frozen 8+4 positional
    // contract. Unannotated genes get NA rows (every third gene is
    // left out of the annotation relation); the three annotation
    // columns absent from the relation (strand, start/end position)
    // are null-filled by the operator. The p column is the pure-
    // arithmetic monotone surrogate x0 = df/(df+t²) (the exact ibeta
    // argument of the t CDF), so the oracle stays transcendental-free;
    // the real t-CDF p is separately gated by q14/q45. NA cells encode
    // as the literal 'NA' on both engines. ----
    "q71_annotated_toptable" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem").filter(col("l_partkey") <= 300)
        .groupBy(col("l_partkey"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_linestatus").as("group"), col("n"), col("mean"), col("var"))
      val de = DiffExpr.welchT(stats, "group", "O", "F")
        .withColumn("p", col("df") / (col("df") + col("t") * col("t")))
      val annot = t(s, dir, "part")
        .filter(col("p_partkey") <= 300 && col("p_partkey") % 3 =!= 0)
        .select(col("p_partkey").cast("string").as("gene_id"),
          col("p_brand").as("hgnc_symbol"), col("p_type").as("description"),
          col("p_name").as("chromosome_name"),
          col("p_size").cast("string").as("band"))
      Bind.annotatedTopTable(DiffExpr.topTable(de), annot)
        .select(col("gene").cast("long").as("l_partkey"),
          coalesce(col("hgnc_symbol"), lit("NA")).as("hgnc_symbol"),
          coalesce(col("description"), lit("NA")).as("description"),
          coalesce(col("chromosome_name"), lit("NA")).as("chromosome_name"),
          coalesce(col("band"), lit("NA")).as("band"),
          coalesce(col("strand"), lit("NA")).as("strand"),
          coalesce(col("start_position"), lit("NA")).as("start_position"),
          coalesce(col("end_position"), lit("NA")).as("end_position"),
          round(col("log2FC") + 1e-5, 2).as("log2fc"),
          round(col("t_statistic") + 1e-7, 4).as("t_stat"),
          round(col("p_value") + 1e-9, 6).as("p_value"),
          round(col("adj_p_value") + 1e-9, 6).as("adj_p"))
        .orderBy("l_partkey")
    }),

    // ---- J7: meta↔DE bind — per-study (log2FC, adj p) pairs joined
    // onto the meta relation (NA when a study lacks the gene; study F
    // is truncated to gene ≤ 150 to force them), `known` yes/No flag,
    // mark-prefixed gene ids, and `_excluded` ROUTING (excluded rows
    // are reported in a separate relation, not dropped — both
    // relations surface here under a `routed` flag). Missing numeric
    // study cells encode as the -999999 sentinel on both engines
    // (the reference writes literal NA). ----
    "q72_bind_meta_de" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_partkey") <= 200)
      def study(status: String) = {
        val stats = li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_returnflag"))
          .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
               var_samp("l_extendedprice").as("var"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            col("l_returnflag").as("group"), col("n"), col("mean"), col("var"))
        DiffExpr.welchT(stats, "group", "A", "N")
          .withColumn("p", col("df") / (col("df") + col("t") * col("t")))
      }
      val ttO = DiffExpr.topTable(study("O"))
        .withColumnRenamed("log2fc", "log2FC").withColumnRenamed("p_bh", "adj_p_value")
      val ttF = DiffExpr.topTable(study("F"))
        .filter(col("gene_id").cast("long") <= 150)
        .withColumnRenamed("log2fc", "log2FC").withColumnRenamed("p_bh", "adj_p_value")
      val meta = ttO.select("gene_id", "log2FC").unionByName(ttF.select("gene_id", "log2FC"))
        .groupBy("gene_id")
        .agg(avg("log2FC").as("meta_log2fc"), count(lit(1)).as("k"))
      val part = t(s, dir, "part").filter(col("p_partkey") <= 200)
      val known = part.filter(col("p_partkey") <= 100)
        .select(col("p_partkey").cast("string").as("gene_id"))
      val excl = part.filter(col("p_size") > 40)
        .select(col("p_partkey").cast("string").as("gene_id"))
      val marks = part.filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").cast("string").as("gene_id"), lit("M").as("mark"))
      val (bound, excluded) = Bind.bindMetaToDE(meta,
        Seq("O" -> ttO, "F" -> ttF), Some(known), Some(excl), Some(marks))
      bound.withColumn("routed", lit("kept"))
        .unionByName(excluded.withColumn("routed", lit("excluded")))
        .select(col("gene_id"), col("routed"), col("k"), col("known"),
          round(col("meta_log2fc") + 1e-5, 2).as("meta_log2fc"),
          coalesce(round(col("O_log2FC") + 1e-5, 2), lit(-999999.0)).as("o_log2fc"),
          coalesce(round(col("O_adj_p") + 1e-9, 6), lit(-999999.0)).as("o_adj_p"),
          coalesce(round(col("F_log2FC") + 1e-5, 2), lit(-999999.0)).as("f_log2fc"),
          coalesce(round(col("F_adj_p") + 1e-9, 6), lit(-999999.0)).as("f_adj_p"))
        .orderBy("gene_id", "routed")
    }),

    // ---- A12: eBayes moderated t. Hash-checked: the (d0, s0²)
    // hyperparameters from the trigamma-inverse moment fit are inlined
    // into the oracle as literals (deterministic at the gate's SF);
    // p_mod (t CDF) stays covered by the moderatedT spec — the t CDF
    // is not SQL-expressible, and t_mod+df_total determine it. ----
    "q45_moderated_t" -> ((s, dir) => {
      val stats = DiffExpr.groupStats(geneSupplierMatrix(s, dir), supplierGroups(s, dir))
      DiffExpr.moderatedT(stats, "group", "A", "B")
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("log2fc") + 1e-5, 2).as("log2fc"),
          round(col("t_mod") + 1e-7, 4).as("t_mod"),
          round(col("df_total") + 1e-5, 2).as("df_total"))
        .orderBy("l_partkey")
    }),

    // ---- A20: ICC via distributed gramian. Hash-checked: the oracle
    // rebuilds the dense per-platform grids (missing cells = 0, as the
    // IndexedRow vectors do) and takes corr of correlation vectors. ----
    "q46_icc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_partkey") <= 100)
      // checkpointed: the ICC's sample-id collect and gene-keyed
      // aggregation each read both matrices — without it each action
      // re-runs the lineitem scan+agg
      def mat(status: String) = ExpressionMatrix(
        li.filter(col("l_linestatus") === status)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(avg("l_extendedprice").as("value"))
          .select(col("l_partkey").cast("string").as("gene_id"),
            col("l_suppkey").cast("string").as("sample_id"), col("value"))
          .localCheckpoint(true))
      Meta.icc(mat("O"), mat("F"))
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("icc") + 1e-7, 4).as("icc"))
        .orderBy("l_partkey")
    }),

    // ---- A7+A29: PCA coordinates + Mahalanobis outlier calls ----
    "q43_pca_outliers" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 50)
      val genes = (1 to 50).map(_.toString)
      val pcs = QC.pca(m, k = 3, genes = genes)
      QC.pcaOutliers(pcs, k = 3)
        .select(col("sample_id").cast("long").as("l_suppkey"),
          round(col("d2") + 1e-5, 2).as("d2"), col("outlier"))
        .orderBy("l_suppkey")
    }),

    // ---- A21: per-gene logistic regression z-scores. Hash-checked:
    // the IRLS fixed point replays as a recursive CTE (25 Newton
    // steps, converged genes frozen-carried — identical to the Scala
    // early-exit loop's final state). ----
    "q53_logistic" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 200)
      val outcomes = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("sample_id"),
        (col("s_nationkey") % 2 === 0).cast("int").as("outcome"))
      // scale expression to avoid saturating the logit
      val scaled = ExpressionMatrix(m.df.withColumn("value", col("value") / 100000.0))
      Meta.logisticZScores(scaled, outcomes)
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("z") + 1e-7, 4).as("z"))
        .orderBy("l_partkey")
    }),

    // ---- A23: permutation FDR (nperm deterministic label shuffles;
    // md5 rank-hash so the oracle replays the identical shuffles) ----
    "q47_perm_fdr" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir, maxGene = 300)
      Meta.permutationFdr(m, supplierGroups(s, dir), "A", "B", nperm = 20,
          md5Hashes = true)
        .select(col("gene_id").cast("long").as("l_partkey"),
          round(col("z_obs") + 1e-7, 4).as("z_obs"),
          round(col("fdr") + 1e-9, 6).as("fdr"))
        .orderBy("l_partkey")
    }),

    // ---- A26: set enrichment (hypergeometric; oracle sums the
    // lgamma-form pmf tail) ----
    "q49_enrichment" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val term2gene = part.select(col("p_brand").as("term"), col("p_partkey").as("gene_id"))
      val sig = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_partkey").as("gene_id")).distinct()
      Meta.enrichment(term2gene, sig, part.select(col("p_partkey").as("gene_id")))
        .select(col("term"), col("term_size"), col("overlap"),
          round(col("p") + 1e-9, 6).as("p"))
        .orderBy("term")
    }),

    // ---- A13: decideTests significance calls at (alpha, lfc) ----
    "q55_decide_tests" -> ((s, dir) => {
      val p = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (((col("l_orderkey") * 131 + col("l_linenumber") * 7919) % 9973) / lit(9973.0)).as("p"),
        (((col("l_orderkey") * 7) % 21) - 10).cast("double").as("log2fc"))
      val adj = DiffExpr.bhAdjustScalable(p, "p", Seq(col("l_orderkey"), col("l_linenumber")))
      DiffExpr.decideTests(adj, alpha = 0.4, minLfc = 3.0)
        .groupBy("sig").agg(count(lit(1)).as("n"))
        .orderBy("sig")
    }),

    // ---- A12: all-pairwise-contrast enumeration (combn semantics) ----
    "q56_contrasts" -> ((s, dir) => {
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), avg("l_extendedprice").as("mean"),
             var_samp("l_extendedprice").as("var"))
        .withColumnRenamed("l_returnflag", "group")
        .withColumnRenamed("l_partkey", "gene_id")
      val flags = Seq("A", "N", "R")
      flags.combinations(2).map { case Seq(a, b) =>
        DiffExpr.welchT(stats, "group", a, b)
          .select(lit(s"${a}_vs_$b").as("contrast"), col("gene_id").as("l_partkey"),
            round(col("log2fc") + 1e-5, 2).as("log2fc"),
            round(col("t") + 1e-7, 4).as("t_stat"))
      }.reduce(_ unionByName _).orderBy("contrast", "l_partkey")
    }),

    // ---- A18: RMA median-polish summarisation. Hash-checked: the
    // sweep loop replays as a recursive CTE — row/column medians are
    // windows over the (full) grid, converged probesets frozen-carry,
    // and the balanced duplication of row/col effects across cells
    // makes median-over-cells equal median-over-effects. ----
    "q54_median_polish" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_partkey") <= 100)
      val probes = ExpressionMatrix(li
        .groupBy(col("l_partkey"), col("l_linenumber"), col("l_suppkey"))
        .agg(avg("l_extendedprice").as("value"))
        .select(concat_ws("-", col("l_partkey"), col("l_linenumber")).as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"), col("value")))
      val annot = li.select(
        concat_ws("-", col("l_partkey"), col("l_linenumber")).as("probe"),
        col("l_partkey").cast("string").as("probeset")).distinct()
      Dedup.medianPolish(probes, annot)
        .df.select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id").cast("long").as("l_suppkey"),
          round(col("value") + 1e-5, 2).as("summarized"))
        .orderBy("l_partkey", "l_suppkey")
    }),

    // ---- A18-pre: RMA background correction — the affinity-free
    // normal+exponential convolution `rma()` runs before quantile
    // norm + median polish. Hash-checked: histogram-mode parameter
    // estimation, conditional moments, and the A&S-7.1.26 Φ replay
    // in DuckDB with the same double arithmetic (StatAlgebra). ----
    "q106_rma_bg" -> ((s, dir) => {
      val m = geneSupplierMatrix(s, dir)
      Normalize.rmaBackground(m)
        .df.select(col("gene_id").cast("long").as("l_partkey"),
          col("sample_id").cast("long").as("l_suppkey"),
          round(col("value") + 1e-5, 2).as("bg_value"))
        .orderBy("l_partkey", "l_suppkey")
    }),

    // ---- A8: Ward linkage dendrogram heights. Hash-checked: the
    // agglomeration replays as a recursive CTE (argmin + Lance-
    // Williams per level). ----
    "q51_ward" -> ((s, dir) => {
      val m = ExpressionMatrix(t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 12)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(avg("l_extendedprice").as("value"))
        .select(col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("sample_id"), col("value")))
      val merges = Cluster.wardLinkage(Cluster.sampleDistances(m))
      val spark = s
      import spark.implicits._
      merges.map(mg => (mg.step, mg.size, math.rint(mg.height / 1e6)))
        .toDF("step", "size", "height_m").orderBy("step")
    }),
  )

  private def contrastSql(a: String, b: String) =
    s"""SELECT '${a}_vs_$b' AS contrast, l_partkey,
        round((ma - mb) + 1e-5, 2) + 0.0 AS log2fc,
        round((ma - mb) / sqrt(va/na + vb/nb) + 1e-7, 4) + 0.0 AS t_stat
        FROM (
          SELECT l_partkey,
                 max(CASE WHEN l_returnflag='$a' THEN n END) AS na,
                 max(CASE WHEN l_returnflag='$a' THEN mean END) AS ma,
                 max(CASE WHEN l_returnflag='$a' THEN var END) AS va,
                 max(CASE WHEN l_returnflag='$b' THEN n END) AS nb,
                 max(CASE WHEN l_returnflag='$b' THEN mean END) AS mb,
                 max(CASE WHEN l_returnflag='$b' THEN var END) AS vb
          FROM (SELECT l_partkey, l_returnflag, count(*) AS n,
                       avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
                FROM lineitem GROUP BY 1, 2)
          GROUP BY 1
        ) WHERE na > 1 AND nb > 1 AND ma IS NOT NULL AND mb IS NOT NULL
              AND (va + vb) > 0"""

  // digamma ψ(dh + 40) by the commons-math asymptotic series (argument
  // ≥ 49 whenever dh ≥ 9), and the 40-step recurrence sum Σ 1/(dh+j) —
  // spliced into the q45 oracle so the eBayes s0² is computed by
  // DuckDB at any SF rather than inlined for one.
  private val digammaShifted =
    "(ln(dh + 40) - 0.5/(dh + 40) - (1.0/((dh + 40)*(dh + 40)))*(1.0/12.0" +
      " - (1.0/((dh + 40)*(dh + 40)))*(1.0/120.0 - (1.0/((dh + 40)*(dh + 40)))/252.0)))"
  private val digammaRecurrence =
    (0 until 40).map(j => s"1.0/(dh + $j)").mkString(" + ")

  // q68 uses a 45-term digamma shift (valid for dh ≥ 4 — the Kish
  // effective df of the weighted chain fit can average below the
  // 40-term unroll's dh ≥ 9 bound)
  private val digammaShifted45 =
    "(ln(dh + 45) - 0.5/(dh + 45) - (1.0/((dh + 45)*(dh + 45)))*(1.0/12.0" +
      " - (1.0/((dh + 45)*(dh + 45)))*(1.0/120.0 - (1.0/((dh + 45)*(dh + 45)))/252.0)))"
  private val digammaRecurrence45 =
    (0 until 45).map(j => s"1.0/(dh + $j)").mkString(" + ")

  /** commons-math3 `Gamma.digamma` replay for ANY y > 0 (the q68
    * 45-term splice needs dh ≥ 4): fixed 49-step recurrence ψ(y) =
    * ψ(y+49) − Σ_{j<49} 1/(y+j) + the same asymptotic tail commons
    * evaluates, accumulated in the recursion's float order
    * (asymptotic first, then j = 48 … 0). `y` must be a simple
    * column/parenthesised expression. */
  private def digammaSql(y: String): String = {
    val a = s"(($y) + 49.0)"
    val asym = s"(ln($a) - 0.5/$a - (1.0/($a*$a))*(1.0/12.0" +
      s" - (1.0/($a*$a))*(1.0/120.0 - (1.0/($a*$a))/252.0)))"
    (48 to 0 by -1).map(j => s"1.0/(($y)+$j.0)")
      .foldLeft(asym)((acc, t) => s"($acc - $t)")
  }

  /** commons-math3 `Gamma.trigamma` replay for ANY y > 0: fixed
    * 49-step recurrence ψ'(y) = ψ'(y+49) + Σ_{j<49} 1/(y+j)² + the
    * commons asymptotic tail, in the recursion's float order. */
  private def trigammaSql(y: String): String = {
    val a = s"(($y) + 49.0)"
    val asym = s"(1.0/$a + (1.0/($a*$a))/2.0 + (1.0/($a*$a))/$a" +
      s" * (1.0/6.0 - (1.0/($a*$a))*(1.0/30.0 - (1.0/($a*$a))/42.0)))"
    (48 to 0 by -1).map(j => s"1.0/((($y)+$j.0)*(($y)+$j.0))")
      .foldLeft(asym)((acc, t) => s"($acc + $t)")
  }

  /** Shared E1-chain stage replay (q68/q73/q74 oracles): probe scan →
    * outlier/reliable-probe filters → max-variance dedup → bind on
    * common genes → ComBat recursion → zero-var + top-60%-SD filters.
    * Ends at the filtered matrix CTE `fm`. */
  private val e1StagesSql: String = """WITH RECURSIVE mm AS MATERIALIZED (
           SELECT l_linestatus AS ds, CAST(l_partkey AS VARCHAR) AS probe,
                  l_linestatus || '-' || CAST(l_suppkey AS VARCHAR) AS samp,
                  avg(l_extendedprice) AS value
           FROM lineitem
           WHERE l_partkey <= 200 AND l_linestatus IN ('O','F')
           GROUP BY 1, 2, 3),
         outl AS (SELECT 'O-' || CAST(s_suppkey AS VARCHAR) AS samp FROM supplier WHERE s_acctbal < 0
                  UNION ALL
                  SELECT 'F-' || CAST(s_suppkey AS VARCHAR) FROM supplier WHERE s_acctbal < 0),
         flat AS (SELECT CAST(p_partkey AS VARCHAR) AS probe FROM part
                  WHERE p_partkey <= 200 AND p_size > 15),
         an AS (SELECT CAST(p_partkey AS VARCHAR) AS probe,
                       'G' || CAST(p_partkey % 97 AS VARCHAR) AS gene
                FROM part WHERE p_partkey <= 200),
         cl AS (SELECT mm.* FROM mm
                WHERE NOT EXISTS (SELECT 1 FROM outl WHERE outl.samp = mm.samp)
                  AND EXISTS (SELECT 1 FROM flat WHERE flat.probe = mm.probe)),
         mapped AS MATERIALIZED (
           SELECT cl.ds, cl.probe, an.gene, cl.samp, cl.value
           FROM cl JOIN an USING (probe)),
         win AS (SELECT ds, probe, gene FROM (
                   SELECT ds, probe, gene,
                          row_number() OVER (PARTITION BY ds, gene
                            ORDER BY var_samp_v DESC NULLS LAST, probe ASC) AS rn
                   FROM (SELECT ds, probe, gene, var_samp(value) AS var_samp_v
                         FROM mapped GROUP BY 1,2,3))
                 WHERE rn = 1),
         ded AS MATERIALIZED (
           SELECT m.ds, m.gene, m.samp, m.value
           FROM mapped m JOIN win ON win.ds = m.ds AND win.probe = m.probe AND win.gene = m.gene),
         common AS (SELECT gene FROM (SELECT DISTINCT ds, gene FROM ded)
                    GROUP BY gene HAVING count(*) = 2),
         bnd AS MATERIALIZED (
           SELECT d.gene, d.samp, d.value, d.ds AS batch
           FROM ded d JOIN common USING (gene)),
         grand AS (SELECT gene, avg(value) AS alpha, var_samp(value) AS sigma2
                   FROM bnd GROUP BY 1 HAVING var_samp(value) > 0),
         z AS MATERIALIZED (
           SELECT bnd.gene, bnd.samp, bnd.batch,
                  (bnd.value - g.alpha)/sqrt(g.sigma2) AS z, g.alpha, g.sigma2
           FROM bnd JOIN grand g USING (gene)),
         gb AS (SELECT gene, batch, count(*) AS n_b, avg(z) AS gamma_hat, var_samp(z) AS delta2_hat
                FROM z GROUP BY 1,2 HAVING var_samp(z) IS NOT NULL),
         hp AS (SELECT batch, avg(gamma_hat) AS gamma_bar, var_samp(gamma_hat) AS tau2,
                       (2*var_samp(delta2_hat) + avg(delta2_hat)*avg(delta2_hat))/var_samp(delta2_hat) AS a_prior,
                       (avg(delta2_hat)*var_samp(delta2_hat) + pow(avg(delta2_hat), 3))/var_samp(delta2_hat) AS b_prior
                FROM gb GROUP BY 1),
         base AS (SELECT gb.gene, gb.batch, CAST(gb.n_b AS DOUBLE) AS n, gb.gamma_hat, gb.delta2_hat,
                         hp.gamma_bar, hp.tau2, hp.a_prior, hp.b_prior
                  FROM gb JOIN hp USING (batch)),
         it AS (
           SELECT 0 AS iter, gene, batch, gamma_hat AS g_star, delta2_hat AS d_star,
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior FROM base
           UNION ALL
           SELECT iter+1, gene, batch,
                  (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star),
                  (b_prior + 0.5*((n-1)*delta2_hat
                     + n*pow(gamma_hat - (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star), 2)))
                    / (n/2 + a_prior - 1),
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior
           FROM it WHERE iter < 30),
         post AS MATERIALIZED (SELECT gene, batch, g_star, d_star FROM it WHERE iter = 30),
         adj AS MATERIALIZED (
           SELECT z.gene, z.samp, sqrt(z.sigma2)*(z.z - p.g_star)/sqrt(p.d_star) + z.alpha AS value
           FROM z JOIN post p ON z.gene = p.gene AND z.batch = p.batch),
         keep1 AS (SELECT gene FROM (SELECT gene, stddev_samp(value) AS sd FROM adj GROUP BY 1)
                   WHERE sd > 0),
         m1 AS MATERIALIZED (SELECT adj.* FROM adj JOIN keep1 USING (gene)),
         keep2 AS (SELECT gene FROM (
                     SELECT gene, percent_rank() OVER (ORDER BY sd ASC, gene ASC) AS pr
                     FROM (SELECT gene, stddev_samp(value) AS sd FROM m1 GROUP BY 1))
                   WHERE pr >= 0.4),
         fm AS MATERIALIZED (SELECT m1.gene, m1.samp, m1.value FROM m1 JOIN keep2 USING (gene))"""

  /** One REML arrayWeights sweep as CTE text (the exact arithmetic of
    * `DiffExpr.arrayWeightsReml`): weighted cell means → squared
    * residuals + leverages → per-gene REML variance → per-array score
    * sums → guarded update → mean-1 renormalisation. Sweep k reads
    * w{k} and defines w{k+1}. */
  private def remlSweepSql(k: Int): String = {
    val kk = k + 1
    s"""c$kk AS MATERIALIZED (
           SELECT f.gene, g.g AS grp, sum(w.w * f.value) AS swy, sum(w.w) AS sw
           FROM fm f JOIN grp g ON g.samp = f.samp JOIN w$k w ON w.samp = f.samp
           GROUP BY 1,2),
         r$kk AS MATERIALIZED (
           SELECT f.gene, f.samp, g.g AS grp, w.w,
                  (f.value - c.swy/c.sw)*(f.value - c.swy/c.sw) AS e2,
                  w.w/c.sw AS h
           FROM fm f JOIN grp g ON g.samp = f.samp JOIN w$k w ON w.samp = f.samp
           JOIN c$kk c ON c.gene = f.gene AND c.grp = g.g),
         gs$kk AS MATERIALIZED (
           SELECT gene, sum(w*e2)/(count(*) - count(DISTINCT grp)) AS s2
           FROM r$kk GROUP BY 1
           HAVING count(*) - count(DISTINCT grp) > 0
              AND sum(w*e2)/(count(*) - count(DISTINCT grp)) > 0),
         a$kk AS MATERIALIZED (
           SELECT r.samp, sum(r.e2/gs.s2) AS a, sum(1.0 - r.h) AS b
           FROM r$kk r JOIN gs$kk gs USING (gene) GROUP BY 1),
         x$kk AS MATERIALIZED (
           SELECT w.samp,
                  CASE WHEN coalesce(a.a, 0e0) + 10.0 > 1e-300 AND coalesce(a.b, 0e0) + 10.0 > 0
                       THEN greatest((coalesce(a.b, 0e0) + 10.0)/(coalesce(a.a, 0e0) + 10.0), 1e-6)
                       ELSE w.w END AS wr
           FROM w$k w LEFT JOIN a$kk a ON a.samp = w.samp),
         w$kk AS MATERIALIZED (
           SELECT samp, wr / (SELECT avg(wr) FROM x$kk) AS w FROM x$kk)"""
  }

  /** q73/q74 shared core: the E1 stages with the THREE-level group
    * factor, 5 REML sweeps, the k-group pooled weighted fit (guarded
    * single-observation cells → NULL var, the Scala convention), one
    * eBayes moment fit with d0 pinned at the degenerate 1e6 branch
    * (measured evar = −0.133/−0.071/−0.066 at sf0.001/0.01/0.1), and
    * the all-pairs contrast table `tbl` sharing that posterior. */
  private val e1MultiCoreSql: String = s"""$e1StagesSql,
         grp AS MATERIALIZED (
           SELECT 'O-' || CAST(s_suppkey AS VARCHAR) AS samp,
                  CASE WHEN s_nationkey % 3 = 0 THEN 'A'
                       WHEN s_nationkey % 3 = 1 THEN 'B' ELSE 'C' END AS g
           FROM supplier
           UNION ALL
           SELECT 'F-' || CAST(s_suppkey AS VARCHAR),
                  CASE WHEN s_nationkey % 3 = 0 THEN 'A'
                       WHEN s_nationkey % 3 = 1 THEN 'B' ELSE 'C' END
           FROM supplier),
         w0 AS MATERIALIZED (SELECT DISTINCT samp, CAST(1.0 AS DOUBLE) AS w FROM fm),
         ${(0 until 5).map(remlSweepSql).mkString(",\n         ")},
         ws AS (SELECT f.gene, g.g AS grp,
                       sum(w.w) AS sw, sum(w.w*w.w) AS sw2,
                       sum(w.w*f.value) AS swx, sum(w.w*f.value*f.value) AS swx2
                FROM fm f JOIN grp g ON g.samp = f.samp JOIN w5 w ON w.samp = f.samp
                GROUP BY 1,2),
         st AS (SELECT gene, grp, sw*sw/sw2 AS n, swx/sw AS mean,
                       CASE WHEN sw - sw2/sw > 0
                            THEN (swx2 - swx*swx/sw)/(sw - sw2/sw) END AS var
                FROM ws),
         per AS (SELECT gene, sum(n) AS n_tot, count(*) AS k, sum((n-1)*var) AS ss_resid
                 FROM st GROUP BY 1),
         f AS MATERIALIZED (
               SELECT gene, n_tot - k AS df_resid, ss_resid/(n_tot - k) AS s2 FROM per
               WHERE n_tot > k AND ss_resid/(n_tot - k) > 0),
         mo2 AS (SELECT avg(ln(s2)) AS zbar, avg(df_resid) AS dbar, avg(df_resid)/2.0 AS dh FROM f),
         s0 AS (SELECT exp(zbar + 13.122362377403995
                  - ($digammaShifted45 - ($digammaRecurrence45))
                  + ln(dbar/1e6)) AS s02 FROM mo2),
         pairs AS (SELECT * FROM (VALUES ('AvsB','A','B'), ('AvsC','A','C'), ('BvsC','B','C'))
                   AS pc(contrast, ga, gb)),
         tbl AS MATERIALIZED (
           SELECT f.gene, p.contrast, a.mean - b.mean AS log2fc,
                  (a.mean - b.mean) / sqrt(((1e6 * s02 + f.df_resid*f.s2)/(1e6 + f.df_resid))
                    * (1.0/a.n + 1.0/b.n)) AS t_mod,
                  f.df_resid + 1e6 AS df_total
           FROM f CROSS JOIN s0 CROSS JOIN pairs p
           JOIN st a ON a.gene = f.gene AND a.grp = p.ga
           JOIN st b ON b.gene = f.gene AND b.grp = p.gb
           WHERE a.n > 0 AND b.n > 0)"""

  /** duplicateCorrelationReml replay as CTE text (the exact
    * `DiffExpr.duplicateCorrelationReml` arithmetic): per-(gene,
    * group) cell means over the replicate-covered samples →
    * fixed-effect residuals → per-(gene, unit) ANOVA decomposition →
    * per-gene clamped ICC → consensus = tanh of the mean Fisher z
    * (this DuckDB lacks `tanh`; (e^{2z}−1)/(e^{2z}+1) replays it).
    * Expects CTEs `grp` (samp, g) and `blk` (samp, unit); `$src` must
    * provide (gene, samp, $valCol). Defines `drho` (one row, rho). */
  private def dupCorrSql(src: String, valCol: String): String =
    s"""dcell AS (SELECT f.gene, g.g, avg(f.$valCol) AS mu
                  FROM $src f JOIN blk b ON b.samp = f.samp
                  JOIN grp g ON g.samp = f.samp
                  GROUP BY 1,2),
         dres AS MATERIALIZED (
           SELECT f.gene, f.samp, g.g, b.unit, f.$valCol - c.mu AS e
           FROM $src f JOIN blk b ON b.samp = f.samp
           JOIN grp g ON g.samp = f.samp
           JOIN dcell c ON c.gene = f.gene AND c.g = g.g),
         dunit AS (SELECT gene, unit, avg(e) AS eu, count(*) AS m, sum(e*e) AS se2
                   FROM dres GROUP BY 1,2),
         dper AS (SELECT gene, count(*) AS nu, sum(m) AS n, avg(CAST(m AS DOUBLE)) AS mbar,
                         sum(m*eu*eu) AS ssb, sum(se2) - sum(m*eu*eu) AS ssw
                  FROM dunit GROUP BY 1),
         dgp AS (SELECT gene, count(DISTINCT g) AS p FROM dres GROUP BY 1),
         dr AS (SELECT gene,
                       greatest(-0.999, least(0.999, su2/(su2 + msw))) AS r
                FROM (SELECT d.gene, d.ssw/(d.n - d.nu) AS msw,
                             (d.ssb/(d.nu - q.p) - d.ssw/(d.n - d.nu))/d.mbar AS su2
                      FROM dper d JOIN dgp q USING (gene)
                      WHERE d.n - d.nu > 0 AND d.nu - q.p > 0
                        AND d.ssw/(d.n - d.nu) > 0)),
         drho AS MATERIALIZED (
           SELECT (exp(2.0*z) - 1.0)/(exp(2.0*z) + 1.0) AS rho
           FROM (SELECT avg(0.5*ln((1.0 + r)/(1.0 - r))) AS z FROM dr))"""

  /** GLS sufficient statistics + two-group eBayes tail replay (the
    * exact `DiffExpr.groupStatsGlsObs` + `moderatedT` with `n_obs`
    * arithmetic). Expects `gobs` (gene, samp, v, w), `grp`, `blk`,
    * `drho`; d0 is pinned at the degenerate 1e6 branch (measured
    * negative evar on both blocked fixtures at every SF). Ends with
    * the SELECT (gene, log2fc, t_mod, df_total). */
  private def glsTailSql(geneOut: String): String =
    s"""gpu AS MATERIALIZED (
           SELECT o.gene, g.g AS grp2,
                  coalesce(b.unit, '__self_' || CAST(o.samp AS VARCHAR)) AS unit,
                  count(*) AS m, sum(o.w) AS sw, sum(sqrt(o.w)) AS su,
                  sum(o.w*o.v) AS swy, sum(sqrt(o.w)*o.v) AS suy,
                  sum(o.w*o.v*o.v) AS swyy
           FROM gobs o JOIN grp g ON g.samp = o.samp
           LEFT JOIN blk b ON b.samp = o.samp
           GROUP BY 1,2,3),
         gst AS (SELECT gene, grp2, sum(m) AS n_obs, sum(ab) AS a,
                        sum(bb) AS bsum, sum(cb) AS c
                 FROM (SELECT gene, grp2, m,
                              (sw - rho*su*su/(1.0 + (m-1)*rho))/(1.0 - rho) AS ab,
                              (swy - rho*su*suy/(1.0 + (m-1)*rho))/(1.0 - rho) AS bb,
                              (swyy - rho*suy*suy/(1.0 + (m-1)*rho))/(1.0 - rho) AS cb
                       FROM gpu CROSS JOIN drho)
                 GROUP BY 1,2),
         gw AS MATERIALIZED (
           SELECT gene, grp2, a AS n, n_obs, bsum/a AS mean,
                  CASE WHEN n_obs > 1 THEN (c - bsum*bsum/a)/(n_obs - 1) END AS var
           FROM gst),
         gper AS (SELECT gene, sum(n_obs) AS n_tot, count(*) AS k,
                         sum((n_obs - 1)*var) AS ss_resid,
                         max(CASE WHEN grp2='A' THEN mean END) AS ma,
                         max(CASE WHEN grp2='B' THEN mean END) AS mb,
                         max(CASE WHEN grp2='A' THEN n END) AS na,
                         max(CASE WHEN grp2='B' THEN n END) AS nb
                  FROM gw GROUP BY 1),
         gf AS MATERIALIZED (
           SELECT gene, ma - mb AS log2fc, na, nb,
                  CAST(n_tot - 2 AS DOUBLE) AS df_resid,
                  ss_resid/(n_tot - 2) AS s2
           FROM gper
           WHERE k = 2 AND n_tot > 2 AND ma IS NOT NULL AND mb IS NOT NULL
             AND ss_resid/(n_tot - 2) > 0),
         gmo AS (SELECT avg(ln(s2)) AS zbar, avg(df_resid) AS dbar FROM gf),
         gs0 AS (SELECT exp(zbar + 13.122362377403995 - ${digammaSql("dbar/2.0")}
                     + ln(dbar/1e6)) AS s02 FROM gmo)
         SELECT gene AS $geneOut,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(log2fc / sqrt(((1e6*s02 + df_resid*s2)/(1e6 + df_resid))
                      * (1.0/na + 1.0/nb)) + 1e-7, 4) + 0.0 AS t_mod,
                round(df_resid + 1e6 + 1e-5, 2) + 0.0 AS df_total
         FROM gf CROSS JOIN gs0 ORDER BY 1"""

  /** One lowess fit pass as CTE text (the exact arithmetic of
    * `Normalize.lowessFit`): tricube window weights × the previous
    * robustness weights `vrw{k-1}`, normalisation, the centered
    * linear-correction factor (guarded by h > 0 and
    * √c > 0.001·range exactly like R's `lowest`), and the a ≤ 0
    * fallback to the point's own y. Reads the shared window relation
    * `vwin`/`vh`; defines `vf$k` (i → fitted ys). */
  private def lowessPassSql(k: Int): String = {
    val u = "(1.0 - (w.d/h.h)*(w.d/h.h)*(w.d/h.h))"
    s"""vw$k AS MATERIALIZED (
           SELECT w.i, w.xi, w.yi, w.j, w.xj, w.yj, w.d, h.h,
                  (CASE WHEN w.d <= 0.001*h.h THEN 1.0
                        WHEN w.d <= 0.999*h.h THEN $u * $u * $u
                        ELSE 0.0 END) * r.w AS w0
           FROM vwin w JOIN vh h USING (i) JOIN vrw${k - 1} r ON r.rn = w.j),
         va$k AS (SELECT i, sum(w0) AS a FROM vw$k GROUP BY 1),
         vm$k AS (SELECT w.i, sum(w.w0/a.a*w.xj) AS xm
                  FROM vw$k w JOIN va$k a USING (i) WHERE a.a > 0 GROUP BY 1),
         vc$k AS (SELECT w.i, sum(w.w0/a.a*(w.xj - m.xm)*(w.xj - m.xm)) AS c
                  FROM vw$k w JOIN va$k a USING (i) JOIN vm$k m USING (i) GROUP BY 1),
         vf$k AS MATERIALIZED (
           SELECT w.i,
                  CASE WHEN min(a.a) <= 0 THEN min(w.yi)
                       ELSE sum((w.w0/a.a)
                            * (CASE WHEN h.h > 0 AND sqrt(c.c) > 0.001*(SELECT rng FROM vn)
                                    THEN ((w.xi - m.xm)/c.c)*(w.xj - m.xm) + 1.0
                                    ELSE 1.0 END)
                            * w.yj) END AS ys
           FROM vw$k w JOIN va$k a USING (i) JOIN vh h USING (i)
           LEFT JOIN vm$k m USING (i) LEFT JOIN vc$k c USING (i)
           GROUP BY 1)"""
  }

  /** One bisquare robustness update as CTE text (`lowessFit`'s
    * residual → 6·median scale → bisquare weights, with the
    * effectively-zero-scale freeze (cmad ≤ 1e-7·mean|res|) carrying
    * the previous weights — which makes the next pass reproduce this
    * one, R's break semantics in unrolled form). Reads `vf$k`;
    * defines `vrw$k`. */
  private def lowessRobustSql(k: Int): String =
    s"""vr$k AS (SELECT v.rn, abs(v.sy - f.ys) AS ar
                 FROM vrn v JOIN vf$k f ON f.i = v.rn),
         vord$k AS (SELECT ar, row_number() OVER (ORDER BY ar ASC) AS rr FROM vr$k),
         vcm$k AS (SELECT CASE WHEN vn.n % 2 = 0
                          THEN 3.0*(max(CASE WHEN o.rr = CAST(floor(vn.n/2.0) AS BIGINT) THEN o.ar END)
                                  + max(CASE WHEN o.rr = CAST(floor(vn.n/2.0) AS BIGINT) + 1 THEN o.ar END))
                          ELSE 6.0*max(CASE WHEN o.rr = CAST(floor((vn.n + 1)/2.0) AS BIGINT) THEN o.ar END)
                          END AS cmad,
                          sum(o.ar)/vn.n AS aar
                   FROM vord$k o CROSS JOIN vn GROUP BY vn.n),
         vrw$k AS MATERIALIZED (
           SELECT r.rn,
                  CASE WHEN c.cmad <= 1e-7*c.aar THEN p.w
                       WHEN r.ar <= 0.001*c.cmad THEN 1.0
                       WHEN r.ar <= 0.999*c.cmad THEN
                         (1.0 - (r.ar/c.cmad)*(r.ar/c.cmad))*(1.0 - (r.ar/c.cmad)*(r.ar/c.cmad))
                       ELSE 0.0 END AS w
           FROM vr$k r CROSS JOIN vcm$k c JOIN vrw${k - 1} p ON p.rn = r.rn)"""

  /** Shared E2-chain replay core (q69/q75 oracles): count scan →
    * special-counter/outlier/zero filters → log2-CPM → quantile
    * normalisation → <2→0 floor → ComBat recursion → zero-var +
    * top-50%-SD filters → de-log → voom — the full deterministic
    * LOWESS trend (4 tricube local-linear passes over the sliding
    * nearest-half window via the minimal-left-edge relation `vwl`,
    * 3 bisquare robustness updates with the 6·median scale and the
    * cmad ≤ 0 freeze), knots collapsed on tied sx (min) and rounded
    * at 1e-6, piecewise-linear interpolation with flat rule-2 ends
    * and the 1e-6 trend floor, per-observation 1/t⁴ weights — then
    * Kish-weighted per-(gene, group) sufficient statistics `vst`
    * (single-observation cells guarded to NULL var, the Scala
    * convention). The group factor CASE is spliced so the 2-group
    * chain (q69) and the 3-group multi-contrast chain (q75) replay
    * the same text. */
  private def e2CoreSql(grpCase: String): String = s"""WITH RECURSIVE cnt AS MATERIALIZED (
           SELECT l_partkey AS gene, l_suppkey AS samp, CAST(sum(l_quantity) AS DOUBLE) AS value
           FROM lineitem WHERE l_partkey <= 400 GROUP BY 1,2),
         outl AS (SELECT s_suppkey AS samp FROM supplier WHERE s_acctbal < 0),
         cl AS (SELECT cnt.* FROM cnt
                WHERE NOT EXISTS (SELECT 1 FROM outl WHERE outl.samp = cnt.samp)),
         zg AS (SELECT gene FROM (SELECT gene, sum(abs(value)) AS s FROM cl GROUP BY 1)
                WHERE s = 0),
         nz AS MATERIALIZED (SELECT cl.* FROM cl
                WHERE NOT EXISTS (SELECT 1 FROM zg WHERE zg.gene = cl.gene)),
         libs AS (SELECT samp, sum(value) AS lib FROM nz GROUP BY 1),
         lcpm AS MATERIALIZED (
           SELECT nz.gene, nz.samp, log2((nz.value + 0.5)/(l.lib + 1.0) * 1e6) AS value
           FROM nz JOIN libs l USING (samp)),
         rnk AS MATERIALIZED (
           SELECT gene, samp, value,
                  row_number() OVER (PARTITION BY samp
                    ORDER BY value ASC, CAST(gene AS VARCHAR) ASC) AS rk
           FROM lcpm),
         rkm AS (SELECT rk, avg(value) AS rkmean FROM rnk GROUP BY 1),
         qn AS MATERIALIZED (
           SELECT r.gene, r.samp, m.rkmean AS value FROM rnk r JOIN rkm m USING (rk)),
         cla AS MATERIALIZED (
           SELECT gene, samp, CASE WHEN value < 2.0 THEN 0e0 ELSE value END AS value FROM qn),
         b AS (SELECT s_suppkey AS samp,
                      CASE WHEN s_nationkey % 3 = 0 THEN 'b0' ELSE 'b1' END AS batch FROM supplier),
         mb AS MATERIALIZED (SELECT cla.gene, cla.samp, cla.value, b.batch
                             FROM cla JOIN b USING (samp)),
         grand AS (SELECT gene, avg(value) AS alpha, var_samp(value) AS sigma2
                   FROM mb GROUP BY 1 HAVING var_samp(value) > 0),
         z AS MATERIALIZED (
           SELECT mb.gene, mb.samp, mb.batch, (mb.value - g.alpha)/sqrt(g.sigma2) AS z,
                  g.alpha, g.sigma2
           FROM mb JOIN grand g USING (gene)),
         gb AS (SELECT gene, batch, count(*) AS n_b, avg(z) AS gamma_hat, var_samp(z) AS delta2_hat
                FROM z GROUP BY 1,2 HAVING var_samp(z) IS NOT NULL),
         hp AS (SELECT batch, avg(gamma_hat) AS gamma_bar, var_samp(gamma_hat) AS tau2,
                       (2*var_samp(delta2_hat) + avg(delta2_hat)*avg(delta2_hat))/var_samp(delta2_hat) AS a_prior,
                       (avg(delta2_hat)*var_samp(delta2_hat) + pow(avg(delta2_hat), 3))/var_samp(delta2_hat) AS b_prior
                FROM gb GROUP BY 1),
         base AS (SELECT gb.gene, gb.batch, CAST(gb.n_b AS DOUBLE) AS n, gb.gamma_hat, gb.delta2_hat,
                         hp.gamma_bar, hp.tau2, hp.a_prior, hp.b_prior
                  FROM gb JOIN hp USING (batch)),
         it AS (
           SELECT 0 AS iter, gene, batch, gamma_hat AS g_star, delta2_hat AS d_star,
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior FROM base
           UNION ALL
           SELECT iter+1, gene, batch,
                  (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star),
                  (b_prior + 0.5*((n-1)*delta2_hat
                     + n*pow(gamma_hat - (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star), 2)))
                    / (n/2 + a_prior - 1),
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior
           FROM it WHERE iter < 30),
         post AS MATERIALIZED (SELECT gene, batch, g_star, d_star FROM it WHERE iter = 30),
         adj AS MATERIALIZED (
           SELECT z.gene, z.samp, sqrt(z.sigma2)*(z.z - p.g_star)/sqrt(p.d_star) + z.alpha AS value
           FROM z JOIN post p ON z.gene = p.gene AND z.batch = p.batch),
         keep1 AS (SELECT gene FROM (SELECT gene, stddev_samp(value) AS sd FROM adj GROUP BY 1)
                   WHERE sd > 0),
         m1 AS MATERIALIZED (SELECT adj.* FROM adj JOIN keep1 USING (gene)),
         keep2 AS (SELECT gene FROM (
                     SELECT gene, percent_rank() OVER (ORDER BY sd ASC, CAST(gene AS VARCHAR) ASC) AS pr
                     FROM (SELECT gene, stddev_samp(value) AS sd FROM m1 GROUP BY 1))
                   WHERE pr >= 0.5),
         fm AS MATERIALIZED (SELECT m1.gene, m1.samp, m1.value FROM m1 JOIN keep2 USING (gene)),
         grp AS (SELECT s_suppkey AS samp,
                        $grpCase AS g FROM supplier),
         dl AS MATERIALIZED (
           SELECT gene, samp, CASE WHEN value = 0.0 THEN 0e0 ELSE pow(2.0, value) END AS c
           FROM fm),
         vlib AS (SELECT samp, sum(c) AS lib FROM dl GROUP BY 1),
         voff AS (SELECT avg(log2(lib + 1.0)) - log2(1e6) AS off FROM vlib),
         vy AS MATERIALIZED (
           SELECT dl.gene, dl.samp, log2((dl.c + 0.5)/(l.lib + 1.0) * 1e6) AS y,
                  log2(l.lib + 1.0) AS loglib
           FROM dl JOIN vlib l USING (samp)),
         vg AS MATERIALIZED (
           SELECT v.gene, v.samp, v.y, v.loglib, g.g FROM vy v JOIN grp g ON g.samp = v.samp),
         vc AS (SELECT gene, g, avg(y) AS mu FROM vg GROUP BY 1,2),
         vo AS MATERIALIZED (
           SELECT vg.gene, vg.samp, vg.y, vg.g, c.mu,
                  round(c.mu + vg.loglib - log2(1e6) + 1e-9, 6) AS x
           FROM vg JOIN vc c ON c.gene = vg.gene AND c.g = vg.g),
         vp AS (SELECT gene, avg(y) AS amean, sum((y - mu)*(y - mu)) AS ss,
                       count(*) AS n, count(DISTINCT g) AS k
                FROM vo GROUP BY 1
                HAVING count(*) > count(DISTINCT g) AND sum((y - mu)*(y - mu)) > 0),
         vt AS (SELECT gene, round(amean + (SELECT off FROM voff) + 1e-9, 6) AS sx,
                       sqrt(sqrt(ss/(n - k))) AS sy FROM vp),
         vrn AS MATERIALIZED (
           SELECT sx, sy,
                  row_number() OVER (ORDER BY sx ASC, CAST(gene AS VARCHAR) ASC) AS rn
           FROM vt),
         vn AS (SELECT count(*) AS n,
                       greatest(2, least(count(*),
                         CAST(floor(0.5*count(*) + 1e-7) AS BIGINT))) AS ns,
                       max(sx) - min(sx) AS rng
                FROM vrn),
         vledg AS (SELECT L.rn AS l, L.sx AS xl, R.sx AS xr
                   FROM vrn L CROSS JOIN vn
                   LEFT JOIN vrn R ON R.rn = L.rn + vn.ns
                   WHERE L.rn <= vn.n - vn.ns + 1),
         vwl AS MATERIALIZED (
           SELECT i.rn AS i, min(e.l) AS lft
           FROM vrn i CROSS JOIN vledg e
           WHERE e.xr IS NULL OR i.sx - e.xl <= e.xr - i.sx
           GROUP BY 1),
         vwin AS MATERIALIZED (
           SELECT w.i, i.sx AS xi, i.sy AS yi, j.rn AS j, j.sx AS xj, j.sy AS yj,
                  abs(j.sx - i.sx) AS d
           FROM vwl w CROSS JOIN vn
           JOIN vrn i ON i.rn = w.i
           JOIN vrn j ON j.rn BETWEEN w.lft AND w.lft + vn.ns - 1),
         vh AS (SELECT i, max(d) AS h FROM vwin GROUP BY 1),
         vrw0 AS (SELECT rn, CAST(1.0 AS DOUBLE) AS w FROM vrn),
         ${lowessPassSql(1)},
         ${lowessRobustSql(1)},
         ${lowessPassSql(2)},
         ${lowessRobustSql(2)},
         ${lowessPassSql(3)},
         ${lowessRobustSql(3)},
         ${lowessPassSql(4)},
         vkn AS MATERIALIZED (
           SELECT sx, round(min(ys) + 1e-9, 6) AS ys
           FROM (SELECT v.sx, f.ys FROM vrn v JOIN vf4 f ON f.i = v.rn)
           GROUP BY 1),
         vkm AS (SELECT min(sx) AS xmin, max(sx) AS xmax,
                        arg_min(ys, sx) AS yfirst, arg_max(ys, sx) AS ylast
                 FROM vkn),
         vseg AS (SELECT sx AS x0, ys AS y0,
                         lead(sx) OVER (ORDER BY sx ASC) AS x1,
                         lead(ys) OVER (ORDER BY sx ASC) AS y1
                  FROM vkn),
         vtt AS (SELECT o.gene, o.samp, o.y, o.g,
                        greatest(CASE WHEN o.x <= k.xmin THEN k.yfirst
                                      WHEN o.x >= k.xmax THEN k.ylast
                                      ELSE s.y0 + (s.y1 - s.y0)*(o.x - s.x0)/(s.x1 - s.x0)
                                 END, 1e-6) AS t
                 FROM vo o CROSS JOIN vkm k
                 LEFT JOIN vseg s ON s.x0 <= o.x AND o.x < s.x1),
         vwt AS MATERIALIZED (
           SELECT gene, samp, y, g, 1.0/((t*t)*(t*t)) AS w FROM vtt),
         vws AS (SELECT gene, g AS grp, sum(w) AS sw, sum(w*w) AS sw2,
                        sum(w*y) AS swx, sum(w*y*y) AS swx2 FROM vwt GROUP BY 1,2),
         vst AS (SELECT gene, grp, sw*sw/sw2 AS n, swx/sw AS mean,
                        CASE WHEN sw - sw2/sw > 0
                             THEN (swx2 - swx*swx/sw)/(sw - sw2/sw) END AS var FROM vws)"""

  val oracleSql: Map[String, String] = Map(
    // RMA background: every stage mirrors the Spark arithmetic —
    // 256-bin histogram modes (ties to the lower bin), left/right
    // conditional moments, and Φ via the same A&S 7.1.26 Horner form
    // (StatAlgebra.pnormAS); DuckDB ships no erf, so the polynomial
    // is expanded as projection columns
    "q106_rma_bg" ->
      """WITH cells AS (
           SELECT l_partkey AS g, l_suppkey AS smp, avg(l_extendedprice) AS v
           FROM lineitem GROUP BY 1, 2
         ), rng AS (
           SELECT smp, min(v) AS lo, max(v) AS hi, (max(v) - min(v)) / 256.0 AS w
           FROM cells GROUP BY 1
         ), h1 AS (
           SELECT c.smp, least(CAST(floor((v - lo) / w) AS BIGINT), 255) AS bin,
                  count(*) AS n
           FROM cells c JOIN rng USING (smp) GROUP BY 1, 2
         ), m1 AS (
           SELECT b.smp, lo + (bin + 0.5) * w AS m1
           FROM (SELECT smp, bin FROM h1
                 QUALIFY row_number() OVER (PARTITION BY smp
                   ORDER BY n DESC, bin ASC) = 1) b
           JOIN rng USING (smp)
         ), h2 AS (
           SELECT c.smp,
                  least(CAST(floor((v - lo) / ((m1 - lo) / 256.0)) AS BIGINT), 255) AS bin,
                  count(*) AS n
           FROM cells c JOIN rng USING (smp) JOIN m1 USING (smp)
           WHERE v < m1 GROUP BY 1, 2
         ), mu AS (
           SELECT b.smp, lo + (bin + 0.5) * (m1 - lo) / 256.0 AS mu
           FROM (SELECT smp, bin FROM h2
                 QUALIFY row_number() OVER (PARTITION BY smp
                   ORDER BY n DESC, bin ASC) = 1) b
           JOIN rng USING (smp) JOIN m1 USING (smp)
         ), par AS (
           SELECT c.smp, any_value(mu) AS mu,
                  sqrt(2.0 * avg(CASE WHEN v < mu THEN (v - mu) * (v - mu) END)) AS sigma,
                  1.0 / avg(CASE WHEN v > mu THEN v - mu END) AS alpha
           FROM cells c JOIN mu USING (smp) GROUP BY 1
         ), zz AS (
           SELECT g, c.smp AS smp, v, sigma,
                  v - mu - alpha * sigma * sigma AS a,
                  (v - mu - alpha * sigma * sigma) / sigma AS z1,
                  (v - (v - mu - alpha * sigma * sigma)) / sigma AS z2
           FROM cells c JOIN par USING (smp)
         ), ee AS (
           SELECT *, abs(z1 / sqrt(2.0)) AS ax1, abs(z2 / sqrt(2.0)) AS ax2,
                  CASE WHEN z1 / sqrt(2.0) < 0 THEN -1.0 ELSE 1.0 END AS sg1,
                  CASE WHEN z2 / sqrt(2.0) < 0 THEN -1.0 ELSE 1.0 END AS sg2
           FROM zz
         ), tt AS (
           SELECT *, 1.0 / (1.0 + 0.3275911 * ax1) AS t1,
                     1.0 / (1.0 + 0.3275911 * ax2) AS t2
           FROM ee
         ), pp AS (
           SELECT g, smp, sigma, a,
                  0.5 * (1.0 + sg1 * (1.0 - ((((1.061405429 * t1 - 1.453152027) * t1
                    + 1.421413741) * t1 - 0.284496736) * t1 + 0.254829592) * t1
                    * exp(-ax1 * ax1))) AS p1,
                  0.5 * (1.0 + sg2 * (1.0 - ((((1.061405429 * t2 - 1.453152027) * t2
                    + 1.421413741) * t2 - 0.284496736) * t2 + 0.254829592) * t2
                    * exp(-ax2 * ax2))) AS p2,
                  exp(-z1 * z1 / 2.0) / sqrt(2.0 * pi()) AS d1,
                  exp(-z2 * z2 / 2.0) / sqrt(2.0 * pi()) AS d2
           FROM tt
         )
         SELECT g AS l_partkey, smp AS l_suppkey,
                round(a + sigma * (d1 - d2) / greatest(p1 + p2 - 1.0, 1e-10) + 1e-5, 2)
                  + 0.0 AS bg_value
         FROM pp""",

    "q59_ma_stats" ->
      """WITH ref AS (
           SELECT l_partkey, quantile_cont(l_extendedprice, 0.5) AS ref
           FROM lineitem GROUP BY 1
         ), j AS (
           SELECT l_suppkey, l_extendedprice - ref AS m, (l_extendedprice + ref)/2 AS a
           FROM lineitem JOIN ref USING (l_partkey)
         )
         SELECT l_suppkey,
                round(quantile_cont(m, 0.5) + 1e-5, 2) + 0.0 AS ma_m_median,
                round(quantile_cont(m, 0.75) - quantile_cont(m, 0.25) + 1e-5, 2) + 0.0 AS ma_m_iqr,
                round(quantile_cont(a, 0.5) + 1e-5, 2) + 0.0 AS ma_a_median
         FROM j GROUP BY 1 ORDER BY 1""",

    "q60_nuse" ->
      """WITH cells AS (
           SELECT l_partkey AS ps, l_linenumber AS pr, l_suppkey AS s, avg(l_extendedprice) AS v
           FROM lineitem GROUP BY 1,2,3
         ), summ AS (
           SELECT ps, s, quantile_cont(v, 0.5) AS sm FROM cells GROUP BY 1,2
         ), r0 AS (
           SELECT c.ps, c.pr, c.s, c.v - sm AS r0 FROM cells c JOIN summ USING (ps, s)
         ), pe AS (
           SELECT ps, pr, quantile_cont(r0, 0.5) AS pe FROM r0 GROUP BY 1,2
         ), se AS (
           SELECT r0.ps, r0.s, count(*) AS np, sum(pow(r0.r0 - pe.pe, 2)) AS ssr
           FROM r0 JOIN pe USING (ps, pr) GROUP BY 1,2 HAVING count(*) > 1
         ), se2 AS (
           SELECT ps, s, sqrt(ssr/(np*(np-1.0))) AS se FROM se
         ), med AS (
           SELECT ps, quantile_cont(se, 0.5) AS medse FROM se2 GROUP BY 1
           HAVING quantile_cont(se, 0.5) > 0
         ), nu AS (
           SELECT s, se/medse AS nuse FROM se2 JOIN med USING (ps)
         )
         SELECT s AS l_suppkey,
                round(quantile_cont(nuse, 0.5) + 1e-9, 6) + 0.0 AS nuse_median,
                round(quantile_cont(nuse, 0.75) - quantile_cont(nuse, 0.25) + 1e-9, 6) + 0.0 AS nuse_iqr
         FROM nu GROUP BY 1 ORDER BY 1""",

    "q61_rna_deg" ->
      """WITH posm AS (
           SELECT l_suppkey, CAST(l_linenumber AS DOUBLE) AS pos, avg(l_extendedprice) AS m
           FROM lineitem GROUP BY 1,2
         )
         SELECT l_suppkey,
                round(covar_samp(pos, m)/var_samp(pos) + 1e-5, 2) + 0.0 AS deg_slope,
                round(avg(m) + 1e-5, 2) + 0.0 AS mean_intensity
         FROM posm GROUP BY 1 ORDER BY 1""",

    // ComBat: hyperpriors are moment aggregates; the 30-step it.sol
    // fixed point replays as a recursive CTE (iteration is row-local
    // given the per-batch hyperpriors, so all genes step in lockstep)
    "q44_combat" ->
      """WITH RECURSIVE m AS (
           SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
           FROM lineitem GROUP BY 1,2),
         b AS (SELECT s_suppkey AS samp,
                      CASE WHEN s_nationkey % 3 = 0 THEN 'b0' ELSE 'b1' END AS batch FROM supplier),
         mb AS (SELECT m.gene, m.samp, m.value, b.batch FROM m JOIN b USING (samp)),
         grand AS (SELECT gene, avg(value) AS alpha, var_samp(value) AS sigma2
                   FROM mb GROUP BY 1 HAVING var_samp(value) > 0),
         z AS (SELECT mb.gene, mb.samp, mb.batch, (mb.value - g.alpha)/sqrt(g.sigma2) AS z,
                      g.alpha, g.sigma2
               FROM mb JOIN grand g USING (gene)),
         gb AS (SELECT gene, batch, count(*) AS n_b, avg(z) AS gamma_hat, var_samp(z) AS delta2_hat
                FROM z GROUP BY 1,2 HAVING var_samp(z) IS NOT NULL),
         hp AS (SELECT batch, avg(gamma_hat) AS gamma_bar, var_samp(gamma_hat) AS tau2,
                       (2*var_samp(delta2_hat) + avg(delta2_hat)*avg(delta2_hat))/var_samp(delta2_hat) AS a_prior,
                       (avg(delta2_hat)*var_samp(delta2_hat) + pow(avg(delta2_hat), 3))/var_samp(delta2_hat) AS b_prior
                FROM gb GROUP BY 1),
         base AS (SELECT gb.gene, gb.batch, CAST(gb.n_b AS DOUBLE) AS n, gb.gamma_hat, gb.delta2_hat,
                         hp.gamma_bar, hp.tau2, hp.a_prior, hp.b_prior
                  FROM gb JOIN hp USING (batch)),
         it AS (
           SELECT 0 AS iter, gene, batch, gamma_hat AS g_star, delta2_hat AS d_star,
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior FROM base
           UNION ALL
           SELECT iter+1, gene, batch,
                  (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star),
                  (b_prior + 0.5*((n-1)*delta2_hat
                     + n*pow(gamma_hat - (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star), 2)))
                    / (n/2 + a_prior - 1),
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior
           FROM it WHERE iter < 30),
         post AS (SELECT gene, batch, g_star, d_star FROM it WHERE iter = 30),
         adj AS (SELECT z.gene, z.samp, sqrt(z.sigma2)*(z.z - p.g_star)/sqrt(p.d_star) + z.alpha AS value
                 FROM z JOIN post p ON z.gene = p.gene AND z.batch = p.batch)
         SELECT gene AS l_partkey, round(avg(value) + 1e-5, 2) + 0.0 AS adj_mean, count(*) AS n
         FROM adj GROUP BY 1 ORDER BY 1""",

    // E1 chain replay, stage by stage (the q65 pattern): outlier
    // anti-join + reliable semi-join + per-dataset max-variance dedup
    // (window, ties on probe id) + bind on common genes + the q44
    // ComBat recursion (batch = dataset) + zero-variance and
    // percent_rank top-60%-SD filters + FIVE unrolled REML
    // arrayWeights sweeps (exact DiffExpr.arrayWeightsReml arithmetic)
    // + Kish-weighted group stats + the q45 moderated-t with a 45-term
    // digamma unroll (weighted effective df can average below the
    // 40-term bound).
    "q68_e1_chain" ->
      (s"""$e1StagesSql,
         grp AS MATERIALIZED (
           SELECT 'O-' || CAST(s_suppkey AS VARCHAR) AS samp,
                  CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS g
           FROM supplier
           UNION ALL
           SELECT 'F-' || CAST(s_suppkey AS VARCHAR),
                  CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END
           FROM supplier),
         w0 AS MATERIALIZED (SELECT DISTINCT samp, CAST(1.0 AS DOUBLE) AS w FROM fm),
         ${(0 until 5).map(remlSweepSql).mkString(",\n         ")},
         ws AS (SELECT f.gene, g.g AS grp,
                       sum(w.w) AS sw, sum(w.w*w.w) AS sw2,
                       sum(w.w*f.value) AS swx, sum(w.w*f.value*f.value) AS swx2
                FROM fm f JOIN grp g ON g.samp = f.samp JOIN w5 w ON w.samp = f.samp
                GROUP BY 1,2),
         st AS (SELECT gene, grp, sw*sw/sw2 AS n, swx/sw AS mean,
                       (swx2 - swx*swx/sw)/(sw - sw2/sw) AS var FROM ws),
         per AS (SELECT gene, sum(n) AS n_tot, count(*) AS k, sum((n-1)*var) AS ss_resid,
                        max(CASE WHEN grp='A' THEN mean END) AS ma, max(CASE WHEN grp='B' THEN mean END) AS mb,
                        max(CASE WHEN grp='A' THEN n END) AS na, max(CASE WHEN grp='B' THEN n END) AS nb
                 FROM st GROUP BY 1),
         f AS MATERIALIZED (
               SELECT gene, ma - mb AS log2fc, na, nb, n_tot - 2 AS df_resid,
                      ss_resid/(n_tot-2) AS s2 FROM per
               WHERE k = 2 AND n_tot > 2 AND ma IS NOT NULL AND mb IS NOT NULL
                 AND ss_resid/(n_tot-2) > 0),
         mo2 AS (SELECT avg(ln(s2)) AS zbar, avg(df_resid) AS dbar, avg(df_resid)/2.0 AS dh FROM f),
         s0 AS (SELECT exp(zbar + 13.122362377403995
                  - ($digammaShifted45 - ($digammaRecurrence45))
                  + ln(dbar/1e6)) AS s02 FROM mo2)
         SELECT gene AS gene_id,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(log2fc / sqrt(((1e6 * s02 + df_resid*s2)/(1e6 + df_resid))
                      * (1.0/na + 1.0/nb)) + 1e-7, 4) + 0.0 AS t_mod,
                round(df_resid + 1e6 + 1e-5, 2) + 0.0 AS df_total
         FROM f CROSS JOIN s0 ORDER BY 1"""),

    // E2 chain replay, stage by stage: exact-integer count sums,
    // outlier anti-join, zero-count partition, log2-CPM (integer-grid
    // inputs, so cross-engine log2 noise cannot flip the QN ranks),
    // per-sample quantile normalisation with the string-gene
    // tie-break, the <2→0 floor, the q44 ComBat recursion, zero-var +
    // percent_rank top-50%-SD filters, then the voom fit: de-log
    // (2^x, with 2^x == 1 i.e. x == 0 → 0), library sizes, log2-CPM,
    // unweighted cell means, per-gene (sx, sy) trend points, the
    // DETERMINISTIC LOWESS trend (rank-sensitive quantities rounded
    // at 1e-6 with the +1e-9 jitter, exactly the Scala op order),
    // per-observation fitted-log-count weights 1/t⁴, Kish-weighted
    // group stats, and the q68 eBayes tail. The d0 prior is pinned at
    // the estimator's degenerate branch (1e6): on this fixture
    // var(log s²) < trigamma(dbar/2) at every SF (measured with the
    // lowess voom: evar −0.125/−0.047/−0.003 at sf0.001/0.01/0.1), so
    // the method-of-moments evar is negative and the Scala path takes
    // d0 = 1e6 deterministically.
    "q69_e2_chain" ->
      s"""${e2CoreSql("CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END")},
         vper AS (SELECT gene, sum(n) AS n_tot, count(*) AS kk, sum((n-1)*var) AS ss_resid,
                         max(CASE WHEN grp='A' THEN mean END) AS ma,
                         max(CASE WHEN grp='B' THEN mean END) AS mb,
                         max(CASE WHEN grp='A' THEN n END) AS na,
                         max(CASE WHEN grp='B' THEN n END) AS nb
                  FROM vst GROUP BY 1),
         vf AS MATERIALIZED (
                SELECT gene, ma - mb AS log2fc, na, nb, n_tot - 2 AS df_resid,
                       ss_resid/(n_tot-2) AS s2 FROM vper
                WHERE kk = 2 AND n_tot > 2 AND ma IS NOT NULL AND mb IS NOT NULL
                  AND ss_resid/(n_tot-2) > 0),
         vmo AS (SELECT avg(ln(s2)) AS zbar, avg(df_resid) AS dbar, avg(df_resid)/2.0 AS dh FROM vf),
         vs0 AS (SELECT exp(zbar + 13.122362377403995
                   - ($digammaShifted45 - ($digammaRecurrence45))
                   + ln(dbar/1e6)) AS s02 FROM vmo)
         SELECT gene AS l_partkey,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(log2fc / sqrt(((1e6 * s02 + df_resid*s2)/(1e6 + df_resid))
                      * (1.0/na + 1.0/nb)) + 1e-7, 4) + 0.0 AS t_mod,
                round(df_resid + 1e6 + 1e-5, 2) + 0.0 AS df_total
         FROM vf CROSS JOIN vs0 ORDER BY 1""",

    // E1 multi-contrast replay: the shared stage core with the
    // 3-level factor, then each pairwise contrast read off `tbl`.
    "q73_e1_multi_contrast" ->
      (s"""$e1MultiCoreSql
         SELECT gene AS gene_id, contrast,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(t_mod + 1e-7, 4) + 0.0 AS t_mod,
                round(df_total + 1e-5, 2) + 0.0 AS df_total
         FROM tbl ORDER BY 1, 2"""),

    // decideTests + vennCounts over the contrast matrix: significance
    // on the rounded monotone surrogate (df_r/(df_r + t²), df_r =
    // df_total − the pinned d0) at α = 0.95, masks AvsB=1/AvsC=2/
    // BvsC=4, genes significant nowhere absent (vennCounts counts set
    // members only).
    "q74_contrast_venn" ->
      (s"""$e1MultiCoreSql,
         vsur AS (SELECT gene, contrast, log2fc,
                         round((df_total - 1e6)/((df_total - 1e6) + t_mod*t_mod) + 1e-9, 6) AS p_sur
                  FROM tbl),
         vsig AS (SELECT gene, contrast FROM vsur
                  WHERE p_sur < 0.95 AND abs(log2fc) > 0),
         vmask AS (SELECT gene, sum(CASE contrast WHEN 'AvsB' THEN 1
                                    WHEN 'AvsC' THEN 2 ELSE 4 END) AS mask
                   FROM vsig GROUP BY 1)
         SELECT CAST(mask AS BIGINT) AS mask, count(*) AS n_genes
         FROM vmask GROUP BY 1 ORDER BY 1"""),

    // E2 multi-contrast replay: the shared E2 core with the 3-level
    // factor, then the k-group pooled fit and all C(3,2) contrasts
    // (the q73 tail shape over the voom-weighted stats). d0 pins at
    // the degenerate 1e6 branch here too (measured with the lowess
    // voom: evar −0.100/−0.049/−0.005 at sf0.001/0.01/0.1).
    "q75_e2_multi_contrast" ->
      (s"""${e2CoreSql("CASE WHEN s_nationkey % 3 = 0 THEN 'A' WHEN s_nationkey % 3 = 1 THEN 'B' ELSE 'C' END")},
         vper AS (SELECT gene, sum(n) AS n_tot, count(*) AS k, sum((n-1)*var) AS ss_resid
                  FROM vst GROUP BY 1),
         vf AS MATERIALIZED (
               SELECT gene, n_tot - k AS df_resid, ss_resid/(n_tot - k) AS s2 FROM vper
               WHERE n_tot > k AND ss_resid/(n_tot - k) > 0),
         vmo AS (SELECT avg(ln(s2)) AS zbar, avg(df_resid) AS dbar, avg(df_resid)/2.0 AS dh FROM vf),
         vs0 AS (SELECT exp(zbar + 13.122362377403995
                   - ($digammaShifted45 - ($digammaRecurrence45))
                   + ln(dbar/1e6)) AS s02 FROM vmo),
         pairs AS (SELECT * FROM (VALUES ('AvsB','A','B'), ('AvsC','A','C'), ('BvsC','B','C'))
                   AS pc(contrast, ga, gb)),
         tbl AS MATERIALIZED (
           SELECT f.gene, p.contrast, a.mean - b.mean AS log2fc,
                  (a.mean - b.mean) / sqrt(((1e6 * s02 + f.df_resid*f.s2)/(1e6 + f.df_resid))
                    * (1.0/a.n + 1.0/b.n)) AS t_mod,
                  f.df_resid + 1e6 AS df_total
           FROM vf f CROSS JOIN vs0 CROSS JOIN pairs p
           JOIN vst a ON a.gene = f.gene AND a.grp = p.ga
           JOIN vst b ON b.gene = f.gene AND b.grp = p.gb
           WHERE a.n > 0 AND b.n > 0)
         SELECT gene AS l_partkey, contrast,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(t_mod + 1e-7, 4) + 0.0 AS t_mod,
                round(df_total + 1e-5, 2) + 0.0 AS df_total
         FROM tbl ORDER BY 1, 2"""),

    // E3 chain replay: the q46 ICC stack (dense grids → gramian-row
    // correlation vectors → corr of corr) gates which genes survive
    // the negative-ICC drop and supplies the Stouffer weight. The
    // per-platform DE is the limma fit the reference's meta consumes
    // (topTable col-8/col-11): the FULL eBayes estimator replays per
    // study — method-of-moments on ln s², evar = zvar − trigamma(dbar/2)
    // via the commons-math3 trigamma replay, d0 from BOTH branches
    // (trigammaInverse by the 50-step Newton recursion with limma's
    // −dif/y < 1e-8 freeze when evar > 0, the 1e6 pin otherwise — this
    // fixture takes the pin at sf0.01/0.1 and the Newton branch on
    // study F at sf0.001, so the oracle replays the estimator, not a
    // pinned literal), s0² through the 49-step digamma replay — then
    // the Lentz-CF t-CDF (converges ≤100 iters even at df ≈ 1e6;
    // measured ≤5e-11 rel), per-study BH with the string-gene
    // tie-break (the meta consumes col-11 = ADJUSTED p,
    // Meta_analysis.R:1082-1087), and the Acklam qnorm Stouffer tail.
    "q70_e3_chain" ->
      s"""WITH RECURSIVE cells AS MATERIALIZED (
           SELECT l_linestatus AS st, l_partkey AS g, l_suppkey AS s, avg(l_extendedprice) AS v
           FROM lineitem WHERE l_partkey <= 100 AND l_linestatus IN ('O','F') GROUP BY 1,2,3
         ), common AS (
           SELECT g FROM (SELECT DISTINCT g, st FROM cells) GROUP BY g HAVING count(*) = 2
         ), samps AS (SELECT DISTINCT st, s FROM cells),
         grid AS MATERIALIZED (
           SELECT sp.st, c.g, sp.s, coalesce(cl.v, 0.0) AS v
           FROM common c CROSS JOIN samps sp
           LEFT JOIN cells cl ON cl.st = sp.st AND cl.g = c.g AND cl.s = sp.s
         ), cm AS MATERIALIZED (
           SELECT a.st, a.g AS ga, b.g AS gb, corr(a.v, b.v) AS r
           FROM grid a JOIN grid b ON a.st = b.st AND a.s = b.s
           GROUP BY 1,2,3
         ), icck AS MATERIALIZED (
           SELECT g, icc FROM (
             SELECT o.ga AS g, corr(o.r, f.r) AS icc
             FROM cm o JOIN cm f ON o.ga = f.ga AND o.gb = f.gb AND f.st='F'
             WHERE o.st='O' AND o.ga <> o.gb
             GROUP BY 1)
           WHERE icc >= 0
         ), grp AS (
           SELECT s_suppkey AS samp,
                  CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS label
           FROM supplier
         ), stats AS (
           SELECT c.st AS study, c.g AS gene, gr.label AS lbl,
                  count(*) AS n, avg(c.v) AS mean, var_samp(c.v) AS var
           FROM cells c JOIN grp gr ON gr.samp = c.s GROUP BY 1,2,3
         ), mper AS (
           SELECT study, gene, sum(n) AS n_tot, count(*) AS kk,
                  sum((n - 1) * var) AS ss_resid,
                  max(CASE WHEN lbl='A' THEN mean END) AS ma,
                  max(CASE WHEN lbl='B' THEN mean END) AS mb,
                  max(CASE WHEN lbl='A' THEN n END) AS na,
                  max(CASE WHEN lbl='B' THEN n END) AS nb
           FROM stats GROUP BY 1,2
         ), mf AS MATERIALIZED (
           SELECT study, gene, CAST(ma - mb AS DOUBLE) AS fc, na, nb,
                  CAST(n_tot - 2 AS DOUBLE) AS df_resid,
                  ss_resid/(n_tot - 2) AS s2
           FROM mper
           WHERE kk = 2 AND n_tot > 2 AND ma IS NOT NULL AND mb IS NOT NULL
             AND ss_resid/(n_tot - 2) > 0
         ), mmo AS (
           SELECT study, avg(ln(s2)) AS zbar, var_samp(ln(s2)) AS zvar,
                  avg(df_resid) AS dbar
           FROM mf GROUP BY 1
         ), mev AS MATERIALIZED (
           SELECT study, zbar, dbar, zvar - ${trigammaSql("dbar/2.0")} AS evar FROM mmo
         ), nt AS (
           SELECT 0 AS i, study,
                  CASE WHEN evar > 1e-6 AND evar <= 1e7 THEN evar ELSE 1.0 END AS x,
                  0.5 + 1.0/(CASE WHEN evar > 1e-6 AND evar <= 1e7 THEN evar ELSE 1.0 END) AS y,
                  FALSE AS done
           FROM mev
           UNION ALL
           SELECT i + 1, study, x,
                  CASE WHEN done THEN y ELSE y + dif END,
                  done OR (0.0 - dif)/(y + dif) < 1e-8
           FROM (
             SELECT i, study, x, y, done,
                    tri*(1.0 - tri/x)/((trip - trim)/(2.0*h)) AS dif
             FROM (
               SELECT i, study, x, y, done, h,
                      ${trigammaSql("y")} AS tri,
                      ${trigammaSql("y + h")} AS trip,
                      ${trigammaSql("y - h")} AS trim
               FROM (SELECT *, 1e-4*greatest(1.0, abs(y)) AS h FROM nt WHERE i < 50)
             )
           )
         ), d0s AS MATERIALIZED (
           SELECT m.study, m.zbar, m.dbar,
                  CASE WHEN m.evar <= 0 THEN 1e6
                       WHEN m.evar > 1e7 THEN 2.0/sqrt(m.evar)
                       WHEN m.evar < 1e-6 THEN 2.0/m.evar
                       ELSE 2.0*n.y END AS d0
           FROM mev m JOIN (SELECT study, y FROM nt WHERE i = 50) n USING (study)
         ), s0s AS MATERIALIZED (
           SELECT study, d0,
                  exp(zbar + ${digammaSql("d0/2.0")} - ${digammaSql("dbar/2.0")}
                      + ln(dbar/d0)) AS s02
           FROM d0s
         ), modt AS (
           SELECT f.gene, f.study, f.fc,
                  f.fc / sqrt(((s.d0*s.s02 + f.df_resid*f.s2)/(s.d0 + f.df_resid))
                    * (1.0/f.na + 1.0/f.nb)) AS t,
                  f.df_resid + s.d0 AS df
           FROM mf f JOIN s0s s USING (study)
         ), prep AS MATERIALIZED (
           SELECT gene, study, fc, t, df,
                  df/(df + t*t) AS x0, df/2.0 AS ba, CAST(0.5 AS DOUBLE) AS bb,
                  (df/(df + t*t)) >= (df/2.0 + 1.0)/(df/2.0 + 0.5 + 2.0) AS flip
           FROM modt
         ), cfin AS MATERIALIZED (
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
         ), pcl AS (
           SELECT gene, study, fc, least(greatest(ix, 0.0), 1.0) AS p FROM ibeta
         ), bh AS (
           SELECT *, count(*) OVER (PARTITION BY study) AS nn,
                  row_number() OVER (PARTITION BY study
                    ORDER BY p ASC, CAST(gene AS VARCHAR) ASC) AS rk
           FROM pcl
         ), padj AS MATERIALIZED (
           SELECT gene, study, fc,
                  least(1.0, min(p*nn/rk) OVER (PARTITION BY study
                    ORDER BY p ASC, CAST(gene AS VARCHAR) ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
           FROM bh
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
             FROM (SELECT gene, study, fc,
                          least(greatest(1.0 - 0.5*p_bh, 0.0), 1.0) AS pq FROM padj)
           )
         ), comb AS (
           SELECT z.gene, count(*) AS n_platforms,
                  sum(sqrt(abs(z.fc)) * z.z) AS num,
                  sum(abs(z.fc) + abs(z.fc)*i.icc*i.icc) AS den,
                  avg(z.fc) AS avg_fc
           FROM zfinal z JOIN icck i ON i.g = z.gene
           GROUP BY 1 HAVING count(*) >= 2
         )
         SELECT gene AS l_partkey, n_platforms,
                round(avg_fc + 1e-5, 2) + 0.0 AS avg_log2fc,
                round(num/sqrt(den) + 1e-7, 4) + 0.0 AS z_comb
         FROM comb ORDER BY 1""",

    // image-decode replay: the planted dimensions are pure functions
    // of p_partkey, so the oracle recomputes them relationally — the
    // Spark side only matches if ImageIO's encode→decode roundtrip
    // recovered them all.
    "q83_image_decode" ->
      """SELECT p_partkey, CAST(1 + p_partkey % 37 AS INT) AS width,
                CAST(1 + p_partkey % 23 AS INT) AS height, 3 AS channels
         FROM part WHERE p_partkey <= 200 ORDER BY 1""",

    // image-resize replay: planted dims are pure functions of
    // p_partkey and the target dims are the same half-up rounding of
    // w·(24/max(w,h)) the operator computes; rw/rh replay the target
    // dims — on the Spark side they come from actually re-decoding
    // the re-encoded PNGs, so the gate proves the resize is real.
    "q124_image_resize" ->
      """WITH d AS (
           SELECT p_partkey,
                  CAST(1 + p_partkey % 67 AS INT) AS w,
                  CAST(1 + p_partkey % 41 AS INT) AS h
           FROM part WHERE p_partkey <= 200),
         r AS (
           SELECT p_partkey, w, h,
                  CASE WHEN greatest(w, h) <= 24 THEN w
                       ELSE greatest(1, CAST(round(w * (24.0 / greatest(w, h))) AS INT))
                  END AS nw,
                  CASE WHEN greatest(w, h) <= 24 THEN h
                       ELSE greatest(1, CAST(round(h * (24.0 / greatest(w, h))) AS INT))
                  END AS nh
           FROM d)
         SELECT p_partkey, w AS width, h AS height,
                CAST(nw AS INT) AS new_width, CAST(nh AS INT) AS new_height,
                CAST(nw AS INT) AS rw, CAST(nh AS INT) AS rh
         FROM r ORDER BY 1""",

    // quota-sample replay: the same md5-ordered window per domain.
    "q86_quota_sample" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS domain FROM documents),
         r AS (SELECT domain, doc_id,
                      row_number() OVER (PARTITION BY domain
                        ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)) ASC,
                                 doc_id ASC) AS rn
               FROM d)
         SELECT domain, doc_id FROM r WHERE rn <= 20 ORDER BY 1, 2""",

    // E5 mixing replay: rate filter (seed 11) → per-domain budget
    // prefix sum (seed 12) → global packing prefix sum (seed 13) —
    // the three independent md5 streams the chain seeds.
    "q93_data_mix" ->
      """WITH d AS (SELECT doc_id, doc_id % 5 AS domain,
                           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS toks
                    FROM documents),
         rated AS (SELECT * FROM (
                     SELECT d.*, CASE domain WHEN 0 THEN '2' WHEN 1 THEN '4'
                                             WHEN 2 THEN '8' WHEN 3 THEN 'c' END AS th
                     FROM d)
                   WHERE th IS NULL OR md5('11#' || CAST(doc_id AS VARCHAR)) < th),
         budg AS (SELECT domain, doc_id, toks,
                         sum(toks) OVER (PARTITION BY domain
                           ORDER BY md5('12#' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS ct
                  FROM rated),
         kept AS (SELECT doc_id, toks FROM budg WHERE ct <= 1500),
         packed AS (SELECT doc_id, toks,
                           sum(toks) OVER (ORDER BY md5('13#' || CAST(doc_id AS VARCHAR)) ASC,
                                           doc_id ASC ROWS UNBOUNDED PRECEDING) AS endt
                    FROM kept WHERE toks > 0)
         SELECT doc_id, CAST(endt - toks AS BIGINT) AS start_tok,
                CAST(endt AS BIGINT) AS end_tok,
                CAST((endt - toks) // 256 AS BIGINT) AS block_first,
                CAST((endt - 1) // 256 AS BIGINT) AS block_last
         FROM packed ORDER BY doc_id""",

    // packing replay: one global-window prefix sum in the same md5
    // corpus order (fine at oracle scale).
    "q91_packing_manifest" ->
      """WITH d AS (SELECT doc_id,
                           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS toks
                    FROM documents),
         r AS (SELECT doc_id, toks,
                      sum(toks) OVER (ORDER BY md5('5#' || CAST(doc_id AS VARCHAR)) ASC,
                                      doc_id ASC ROWS UNBOUNDED PRECEDING) AS endt
               FROM d WHERE toks > 0)
         SELECT doc_id, CAST(endt - toks AS BIGINT) AS start_tok,
                CAST(endt AS BIGINT) AS end_tok,
                CAST((endt - toks) // 512 AS BIGINT) AS block_first,
                CAST((endt - 1) // 512 AS BIGINT) AS block_last
         FROM r ORDER BY doc_id""",

    // token-chunk replay: same tokenization, same window memberships
    // (integer floor division both sides), ordered string_agg.
    "q90_token_chunks" ->
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '') AS ts
                       FROM documents),
         tk AS (SELECT doc_id, unnest(ts) AS tk,
                       generate_subscripts(ts, 1) - 1 AS pos
                FROM toks),
         mem AS (SELECT doc_id, pos, tk,
                        unnest(generate_series(
                          CASE WHEN pos - 31 <= 0 THEN 0
                               ELSE (pos - 31 + 23) // 24 END,
                          pos // 24)) AS chunk
                 FROM tk),
         ch AS (SELECT doc_id, chunk, string_agg(tk, ' ' ORDER BY pos) AS text,
                       count(*) AS n
                FROM mem GROUP BY 1, 2)
         SELECT doc_id, CAST(chunk AS INT) AS chunk, md5(text) AS chunk_md5,
                CAST(n AS INT) AS n_tokens
         FROM ch ORDER BY 1, 2""",

    // rate-sample replay: identical md5-threshold Bernoulli per domain.
    "q89_rate_sample" ->
      """WITH d AS (SELECT doc_id, doc_id % 5 AS domain FROM documents),
         r AS (SELECT domain, doc_id,
                      CASE domain WHEN 0 THEN '2' WHEN 1 THEN '4'
                                  WHEN 2 THEN '8' WHEN 3 THEN 'c' END AS th
               FROM d)
         SELECT domain, doc_id FROM r
         WHERE th IS NULL OR md5('7#' || CAST(doc_id AS VARCHAR)) < th
         ORDER BY 1, 2""",

    // token-budget replay: the same md5 rank order, inclusive prefix
    // sum per domain under the budget.
    "q88_token_budget" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS domain,
                           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS toks
                    FROM documents),
         r AS (SELECT domain, doc_id, toks,
                      sum(toks) OVER (PARTITION BY domain
                        ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                        ROWS UNBOUNDED PRECEDING) AS ct
               FROM d)
         SELECT domain, doc_id, CAST(toks AS INT) AS toks
         FROM r WHERE ct <= 2000 ORDER BY 1, 2""",

    // paragraph-dedup replay: same synthetic 3-paragraph docs, the
    // keep-first window per paragraph, ordered string_agg reassembly.
    "q85_paragraph_dedup" ->
      """WITH pool AS (SELECT doc_id AS pid, substr(text, 1, 60) AS para FROM documents),
         nn AS (SELECT count(*) AS n FROM documents),
         sids AS MATERIALIZED (
           SELECT d.doc_id,
                  (d.doc_id * 7 + 13) % nn.n AS i2,
                  (d.doc_id * 3 + 5) % nn.n AS i3
           FROM documents d CROSS JOIN nn),
         synth AS MATERIALIZED (
           SELECT s.doc_id,
                  a.para || chr(10) || b.para || chr(10) || c.para AS text
           FROM sids s
           JOIN pool a ON a.pid = s.doc_id
           JOIN pool b ON b.pid = s.i2
           JOIN pool c ON c.pid = s.i3),
         paras AS (SELECT doc_id,
                          unnest(string_split(text, chr(10))) AS para,
                          generate_subscripts(string_split(text, chr(10)), 1) AS pos
                   FROM synth),
         keep AS (SELECT doc_id, pos, para,
                         row_number() OVER (PARTITION BY para
                           ORDER BY doc_id ASC, pos ASC) AS rn
                  FROM paras WHERE len(para) > 0),
         rebuilt AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
                     FROM keep WHERE rn = 1 GROUP BY 1)
         SELECT s.doc_id, coalesce(r.text, '') AS text
         FROM synth s LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY 1""",

    // video-container replay: the planted ISO-BMFF header fields are
    // pure functions of p_partkey — the Spark side only matches if
    // the box walk recovered every mvhd/tkhd field.
    "q87_video_meta" ->
      """SELECT p_partkey,
                CAST(16*(1 + p_partkey % 30) AS INT) AS width,
                CAST(16*(1 + p_partkey % 17) AS INT) AS height,
                CAST(1000 + p_partkey % 977 AS BIGINT) AS duration_ms,
                CAST(1 + p_partkey % 3 AS INT) AS tracks
         FROM part WHERE p_partkey <= 200 ORDER BY 1""",

    // video-frame replay: planted frame counts and per-frame
    // dimensions are pure functions of (p_partkey, frame_idx) — the
    // Spark side only matches if the RIFF/movi chunk walk found every
    // frame and ImageIO's JPEG roundtrip recovered every sampled
    // frame's dimensions.
    // GIF frame replay: planted dims/frame counts are functions of
    // p_partkey; the checkerboard mean luminance is the closed-form
    // white-cell count (cells with (x+y+i) even; only even i are
    // sampled): nEven = (w·h + (w%2)(h%2)) // 2
    "q107_gif_frames" ->
      """WITH fr AS (
           SELECT p_partkey, unnest(range(0, 1 + p_partkey % 5)) AS i,
                  CAST(4 * (1 + p_partkey % 9) AS INT) AS w,
                  CAST(5 + 4 * (p_partkey % 5) AS INT) AS h
           FROM part WHERE p_partkey <= 200)
         SELECT p_partkey, CAST(i AS INT) AS frame_idx,
                CAST(1 + p_partkey % 5 AS INT) AS n_frames,
                w AS width, h AS height,
                round(255.0 * (CASE WHEN i % 2 = 0
                    THEN (w * h + (w % 2) * (h % 2)) // 2
                    ELSE w * h - (w * h + (w % 2) * (h % 2)) // 2 END)
                  / (w * h) + 1e-7, 4) + 0.0 AS mean_lum
         FROM fr WHERE i % 2 = 0 ORDER BY 1, 2""",

    "q99_video_frames" ->
      """WITH fr AS (
           SELECT p_partkey, unnest(range(0, 1 + p_partkey % 4)) AS i
           FROM part WHERE p_partkey <= 200)
         SELECT p_partkey, CAST(i AS INT) AS frame_idx,
                CAST(1 + p_partkey % 4 AS INT) AS n_frames,
                CAST(8 * (1 + (p_partkey + i) % 11) AS INT) AS width,
                CAST(8 * (1 + (p_partkey + 2 * i) % 7) AS INT) AS height,
                3 AS channels
         FROM fr WHERE i % 2 = 0 ORDER BY 1, 2""",

    // audio-decode replay: planted WAV header fields are pure
    // functions of p_partkey.
    "q84_audio_decode" ->
      """SELECT p_partkey, CAST(8000*(1 + p_partkey % 3) AS INT) AS sample_rate,
                CAST(1 + p_partkey % 2 AS INT) AS channels,
                CAST(50 + p_partkey % 97 AS BIGINT) AS frames
         FROM part WHERE p_partkey <= 200 ORDER BY 1""",

    // J6 × contrasts replay: the e1 multi-contrast core, the true
    // moderated p via the Lentz-CF t-CDF per (gene, contrast), BH per
    // contrast with the string-gene tie-break, and the annotation
    // left-join (every third gene index absent → NA rows).
    "q80_contrast_toptables" ->
      (s"""$e1MultiCoreSql,
         prep AS MATERIALIZED (
           SELECT gene, contrast, log2fc, t_mod AS t, df_total AS df,
                  df_total/(df_total + t_mod*t_mod) AS x0,
                  df_total/2.0 AS ba, CAST(0.5 AS DOUBLE) AS bb,
                  (df_total/(df_total + t_mod*t_mod))
                    >= (df_total/2.0 + 1.0)/(df_total/2.0 + 0.5 + 2.0) AS flip
           FROM tbl),
         cfin AS MATERIALIZED (
           SELECT *, CASE WHEN flip THEN 1.0 - x0 ELSE x0 END AS xx,
                  CASE WHEN flip THEN bb ELSE ba END AS ca,
                  CASE WHEN flip THEN ba ELSE bb END AS cb
           FROM prep),
         cf AS (
           SELECT 0 AS mm, gene, contrast, xx, ca, cb,
                  CAST(1.0 AS DOUBLE) AS c,
                  1.0 / (CASE WHEN abs(1.0 - (ca+cb)*xx/(ca+1.0)) < 1e-300
                              THEN 1e-300 ELSE 1.0 - (ca+cb)*xx/(ca+1.0) END) AS d,
                  1.0 / (CASE WHEN abs(1.0 - (ca+cb)*xx/(ca+1.0)) < 1e-300
                              THEN 1e-300 ELSE 1.0 - (ca+cb)*xx/(ca+1.0) END) AS h
           FROM cfin
           UNION ALL
           SELECT mm + 1, gene, contrast, xx, ca, cb, c2, d2, h * d1*c1 * d2*c2
           FROM (
             SELECT *,
                    1.0/(1.0 + aa2*(1.0/(1.0 + aa1*d))) AS d2,
                    1.0 + aa2/(1.0 + aa1/c) AS c2,
                    1.0/(1.0 + aa1*d) AS d1,
                    1.0 + aa1/c AS c1
             FROM (
               SELECT *, (mm+1)*(cb-(mm+1))*xx/((ca+2*(mm+1)-1.0)*(ca+2*(mm+1))) AS aa1,
                      -(ca+(mm+1))*(ca+cb+(mm+1))*xx/((ca+2*(mm+1))*(ca+2*(mm+1)+1.0)) AS aa2
               FROM cf WHERE mm < 100
             ) s1
           ) s2
         ),
         ibeta AS (
           SELECT p.gene, p.contrast, p.log2fc, p.t,
                  CASE WHEN p.flip
                       THEN 1.0 - exp(cf.ca*ln(cf.xx) + cf.cb*ln(1.0-cf.xx)
                             + lgamma(cf.ca+cf.cb) - lgamma(cf.ca) - lgamma(cf.cb))*cf.h/cf.ca
                       ELSE exp(cf.ca*ln(cf.xx) + cf.cb*ln(1.0-cf.xx)
                             + lgamma(cf.ca+cf.cb) - lgamma(cf.ca) - lgamma(cf.cb))*cf.h/cf.ca END AS ix
           FROM cf JOIN prep p USING (gene, contrast)
           WHERE cf.mm = 100
         ),
         pcl AS (SELECT gene, contrast, log2fc, t,
                        least(greatest(ix, 0.0), 1.0) AS p FROM ibeta),
         bhx AS (SELECT *, count(*) OVER (PARTITION BY contrast) AS nn,
                        row_number() OVER (PARTITION BY contrast
                          ORDER BY p ASC, CAST(gene AS VARCHAR) ASC) AS rk
                 FROM pcl),
         padj AS MATERIALIZED (
           SELECT gene, contrast, log2fc, t, p,
                  least(1.0, min(p*nn/rk) OVER (PARTITION BY contrast
                    ORDER BY p ASC, CAST(gene AS VARCHAR) ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
           FROM bhx),
         ann2 AS (SELECT 'G' || CAST(k AS VARCHAR) AS gene,
                       'HGNC' || CAST(k AS VARCHAR) AS hgnc,
                       'type-' || CAST(k % 5 AS VARCHAR) AS descr,
                       'chr' || CAST(k % 22 AS VARCHAR) AS chrom,
                       'b' || CAST(k % 7 AS VARCHAR) AS band
                FROM range(0, 97) rt(k) WHERE k % 3 <> 0)
         SELECT a.contrast, a.gene AS gene_id,
                coalesce(ann2.hgnc, 'NA') AS hgnc_symbol,
                coalesce(ann2.descr, 'NA') AS description,
                coalesce(ann2.chrom, 'NA') AS chromosome_name,
                coalesce(ann2.band, 'NA') AS band,
                'NA' AS strand, 'NA' AS start_position, 'NA' AS end_position,
                round(a.log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(a.t + 1e-7, 4) + 0.0 AS t_stat,
                round(a.p + 1e-9, 6) + 0.0 AS p_value,
                round(a.p_bh + 1e-9, 6) + 0.0 AS adj_p
         FROM padj a LEFT JOIN ann2 ON ann2.gene = a.gene
         ORDER BY 2, 1"""),

    // E1 blocked replay: the q68 stage core + 5 REML sweeps, then the
    // duplicateCorrelationReml consensus (ANOVA decomposition per
    // gene, Fisher-z mean, tanh via exp — this DuckDB lacks tanh) and
    // the exact GLS stats over pair blocks (compound-symmetry inverse
    // per unit: six sums, A/B/C quadratic forms), eBayes tail with df
    // from TRUE observation counts and SE from the GLS information.
    "q81_e1_blocked" ->
      (s"""$e1StagesSql,
         grp AS MATERIALIZED (
           SELECT 'O-' || CAST(s_suppkey AS VARCHAR) AS samp,
                  CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS g
           FROM supplier
           UNION ALL
           SELECT 'F-' || CAST(s_suppkey AS VARCHAR),
                  CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END
           FROM supplier),
         blk AS MATERIALIZED (
           SELECT 'O-' || CAST(s_suppkey AS VARCHAR) AS samp,
                  'O-' || CAST(s_nationkey % 2 AS VARCHAR) || '-' ||
                    CAST(CAST(floor(s_suppkey/2.0) AS BIGINT) AS VARCHAR) AS unit
           FROM supplier
           UNION ALL
           SELECT 'F-' || CAST(s_suppkey AS VARCHAR),
                  'F-' || CAST(s_nationkey % 2 AS VARCHAR) || '-' ||
                    CAST(CAST(floor(s_suppkey/2.0) AS BIGINT) AS VARCHAR)
           FROM supplier),
         w0 AS MATERIALIZED (SELECT DISTINCT samp, CAST(1.0 AS DOUBLE) AS w FROM fm),
         ${(0 until 5).map(remlSweepSql).mkString(",\n         ")},
         ${dupCorrSql("fm", "value")},
         gobs AS (SELECT f.gene, f.samp, f.value AS v, w.w
                  FROM fm f JOIN w5 w ON w.samp = f.samp),
         ${glsTailSql("gene_id")}"""),

    // E2 blocked replay: the shared E2 core (through the lowess voom
    // weights relation vwt), pair blocks on the supplier axis, the
    // REML consensus on the voom log2-CPM values, and the GLS stats
    // over the PER-OBSERVATION voom weights.
    "q82_e2_blocked" ->
      (s"""${e2CoreSql("CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END")},
         blk AS MATERIALIZED (
           SELECT s_suppkey AS samp,
                  CAST(s_nationkey % 2 AS VARCHAR) || '-' ||
                    CAST(CAST(floor(s_suppkey/2.0) AS BIGINT) AS VARCHAR) AS unit
           FROM supplier),
         ${dupCorrSql("vwt", "y")},
         gobs AS (SELECT gene, samp, y AS v, w FROM vwt),
         ${glsTailSql("l_partkey")}"""),

    // J6 replay: Welch stats → surrogate p → BH with the string-gene
    // tie-break → left join onto the annotation relation (every third
    // gene absent → NA row; strand/start/end never present → NA).
    "q71_annotated_toptable" ->
      """WITH stats AS (
           SELECT l_partkey AS gene, l_linestatus AS grp, count(*) AS n,
                  avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
           FROM lineitem WHERE l_partkey <= 300 GROUP BY 1,2
         ), wide AS (
           SELECT gene,
                  max(CASE WHEN grp='O' THEN n END) AS na, max(CASE WHEN grp='O' THEN mean END) AS ma,
                  max(CASE WHEN grp='O' THEN var END) AS va,
                  max(CASE WHEN grp='F' THEN n END) AS nb, max(CASE WHEN grp='F' THEN mean END) AS mb,
                  max(CASE WHEN grp='F' THEN var END) AS vb
           FROM stats GROUP BY 1
         ), welch AS (
           SELECT gene, CAST(ma - mb AS DOUBLE) AS fc,
                  CAST((ma - mb)/sqrt(va/na + vb/nb) AS DOUBLE) AS t,
                  CAST(pow(va/na + vb/nb, 2)/(pow(va/na,2)/(na-1) + pow(vb/nb,2)/(nb-1)) AS DOUBLE) AS df
           FROM wide
           WHERE na IS NOT NULL AND nb IS NOT NULL AND na > 1 AND nb > 1 AND (va + vb) > 0
         ), pp AS (
           SELECT gene, fc, t, df/(df + t*t) AS p FROM welch
         ), bh AS (
           SELECT *, count(*) OVER () AS nn,
                  row_number() OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC) AS rk
           FROM pp
         ), adj AS (
           SELECT gene, fc, t, p,
                  least(1.0, min(p * nn / rk) OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
           FROM bh
         ), annot AS (
           SELECT p_partkey AS gene, p_brand AS hgnc, p_type AS descr,
                  p_name AS chrom, CAST(p_size AS VARCHAR) AS band
           FROM part WHERE p_partkey <= 300 AND p_partkey % 3 <> 0
         )
         SELECT a.gene AS l_partkey,
                coalesce(an.hgnc, 'NA') AS hgnc_symbol,
                coalesce(an.descr, 'NA') AS description,
                coalesce(an.chrom, 'NA') AS chromosome_name,
                coalesce(an.band, 'NA') AS band,
                'NA' AS strand, 'NA' AS start_position, 'NA' AS end_position,
                round(a.fc + 1e-5, 2) + 0.0 AS log2fc,
                round(a.t + 1e-7, 4) + 0.0 AS t_stat,
                round(a.p + 1e-9, 6) + 0.0 AS p_value,
                round(a.p_bh + 1e-9, 6) + 0.0 AS adj_p
         FROM adj a LEFT JOIN annot an ON an.gene = a.gene
         ORDER BY 1""",

    // J7 replay: two per-study Welch+BH chains (study F's BH runs over
    // ALL its genes, the ≤150 truncation applies after, exactly as the
    // Spark query filters the finished topTable), meta = union-avg,
    // then the known/exclude/mark joins with the excluded rows routed
    // (not dropped) under the `routed` flag.
    "q72_bind_meta_de" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_partkey <= 200),
         sO AS (SELECT l_partkey AS gene, l_returnflag AS grp, count(*) AS n,
                       avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
                FROM li WHERE l_linestatus = 'O' GROUP BY 1,2),
         sF AS (SELECT l_partkey AS gene, l_returnflag AS grp, count(*) AS n,
                       avg(l_extendedprice) AS mean, var_samp(l_extendedprice) AS var
                FROM li WHERE l_linestatus = 'F' GROUP BY 1,2),
         wO AS (SELECT gene,
                  max(CASE WHEN grp='A' THEN n END) AS na, max(CASE WHEN grp='A' THEN mean END) AS ma,
                  max(CASE WHEN grp='A' THEN var END) AS va,
                  max(CASE WHEN grp='N' THEN n END) AS nb, max(CASE WHEN grp='N' THEN mean END) AS mb,
                  max(CASE WHEN grp='N' THEN var END) AS vb
                FROM sO GROUP BY 1),
         wF AS (SELECT gene,
                  max(CASE WHEN grp='A' THEN n END) AS na, max(CASE WHEN grp='A' THEN mean END) AS ma,
                  max(CASE WHEN grp='A' THEN var END) AS va,
                  max(CASE WHEN grp='N' THEN n END) AS nb, max(CASE WHEN grp='N' THEN mean END) AS mb,
                  max(CASE WHEN grp='N' THEN var END) AS vb
                FROM sF GROUP BY 1),
         welO AS (SELECT gene, CAST(ma - mb AS DOUBLE) AS fc,
                         df/(df + t*t) AS p FROM (
                    SELECT gene, ma, mb,
                           CAST((ma - mb)/sqrt(va/na + vb/nb) AS DOUBLE) AS t,
                           CAST(pow(va/na + vb/nb, 2)/(pow(va/na,2)/(na-1) + pow(vb/nb,2)/(nb-1)) AS DOUBLE) AS df
                    FROM wO
                    WHERE na IS NOT NULL AND nb IS NOT NULL AND na > 1 AND nb > 1 AND (va + vb) > 0)),
         welF AS (SELECT gene, CAST(ma - mb AS DOUBLE) AS fc,
                         df/(df + t*t) AS p FROM (
                    SELECT gene, ma, mb,
                           CAST((ma - mb)/sqrt(va/na + vb/nb) AS DOUBLE) AS t,
                           CAST(pow(va/na + vb/nb, 2)/(pow(va/na,2)/(na-1) + pow(vb/nb,2)/(nb-1)) AS DOUBLE) AS df
                    FROM wF
                    WHERE na IS NOT NULL AND nb IS NOT NULL AND na > 1 AND nb > 1 AND (va + vb) > 0)),
         bhO AS (SELECT gene, fc,
                        least(1.0, min(p * nn / rk) OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
                 FROM (SELECT *, count(*) OVER () AS nn,
                              row_number() OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC) AS rk
                       FROM welO)),
         bhF AS (SELECT gene, fc,
                        least(1.0, min(p * nn / rk) OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
                 FROM (SELECT *, count(*) OVER () AS nn,
                              row_number() OVER (ORDER BY p ASC, CAST(gene AS VARCHAR) ASC) AS rk
                       FROM welF)),
         bhFt AS (SELECT * FROM bhF WHERE gene <= 150),
         meta AS (SELECT gene, avg(fc) AS fc, count(*) AS k FROM (
                    SELECT gene, fc FROM bhO
                    UNION ALL SELECT gene, fc FROM bhFt) GROUP BY 1),
         kn AS (SELECT p_partkey AS gene FROM part WHERE p_partkey <= 100),
         ex AS (SELECT p_partkey AS gene FROM part WHERE p_partkey <= 200 AND p_size > 40),
         mk AS (SELECT p_partkey AS gene FROM part WHERE p_partkey <= 200 AND p_partkey % 7 = 0)
         SELECT CASE WHEN mk.gene IS NOT NULL THEN 'M_' || CAST(m.gene AS VARCHAR)
                     ELSE CAST(m.gene AS VARCHAR) END AS gene_id,
                CASE WHEN ex.gene IS NOT NULL THEN 'excluded' ELSE 'kept' END AS routed,
                m.k, CASE WHEN kn.gene IS NOT NULL THEN 'yes' ELSE 'No' END AS known,
                round(m.fc + 1e-5, 2) + 0.0 AS meta_log2fc,
                coalesce(round(o.fc + 1e-5, 2) + 0.0, -999999e0) AS o_log2fc,
                coalesce(round(o.p_bh + 1e-9, 6) + 0.0, -999999e0) AS o_adj_p,
                coalesce(round(f.fc + 1e-5, 2) + 0.0, -999999e0) AS f_log2fc,
                coalesce(round(f.p_bh + 1e-9, 6) + 0.0, -999999e0) AS f_adj_p
         FROM meta m
         LEFT JOIN bhO o ON o.gene = m.gene
         LEFT JOIN bhFt f ON f.gene = m.gene
         LEFT JOIN kn ON kn.gene = m.gene
         LEFT JOIN ex ON ex.gene = m.gene
         LEFT JOIN mk ON mk.gene = m.gene
         ORDER BY 1, 2""",

    // ComBat covariate path: the shared-design OLS replayed exactly —
    // XᵀX entries are integer contingency counts; the inverse is the
    // SAME Gauss-Jordan elimination sequence as the engine's invert()
    // (normalize pivot row, eliminate all other rows; pivot order
    // 0,1,2 — no swaps, since each batch diagonal count strictly
    // exceeds its off-diagonal group cell), unrolled into CTE stages
    // g1..g3 of named columns. All +,-,*,/ on exact-integer-seeded
    // doubles → bit-identical on every engine. Then β̂ = inv·Xᵀy per
    // gene, pooled RSS/n variance, and the q44 it.sol recursion with
    // the row-level center (grand + covariate shift) added back.
    "q66_combat_covariates" ->
      """WITH RECURSIVE m AS (
           SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
           FROM lineitem GROUP BY 1,2),
         meta AS (SELECT s_suppkey AS samp,
                         CASE WHEN s_nationkey % 3 = 0 THEN 'b0' ELSE 'b1' END AS batch,
                         CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS grp
                  FROM supplier),
         mbg AS (SELECT m.gene, m.samp, m.value, meta.batch, meta.grp
                 FROM m JOIN meta USING (samp)),
         cnt AS (SELECT CAST(sum(CASE WHEN batch = 'b0' THEN 1 ELSE 0 END) AS DOUBLE) AS nb0,
                        CAST(sum(CASE WHEN batch = 'b1' THEN 1 ELSE 0 END) AS DOUBLE) AS nb1,
                        CAST(sum(CASE WHEN batch = 'b0' AND grp = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb0b,
                        CAST(sum(CASE WHEN batch = 'b1' AND grp = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb1b,
                        CAST(count(*) AS DOUBLE) AS ntot
                 FROM meta),
         g0 AS (SELECT nb0 AS m00, 0e0 AS m01, nb0b AS m02, 1e0 AS m03, 0e0 AS m04, 0e0 AS m05,
                       0e0 AS m10, nb1 AS m11, nb1b AS m12, 0e0 AS m13, 1e0 AS m14, 0e0 AS m15,
                       nb0b AS m20, nb1b AS m21, nb0b + nb1b AS m22, 0e0 AS m23, 0e0 AS m24, 1e0 AS m25,
                       nb0, nb1, ntot
                FROM cnt),
         g1 AS (SELECT m00/m00 AS m00, m01/m00 AS m01, m02/m00 AS m02,
                       m03/m00 AS m03, m04/m00 AS m04, m05/m00 AS m05,
                       m10 - m10*(m00/m00) AS m10, m11 - m10*(m01/m00) AS m11, m12 - m10*(m02/m00) AS m12,
                       m13 - m10*(m03/m00) AS m13, m14 - m10*(m04/m00) AS m14, m15 - m10*(m05/m00) AS m15,
                       m20 - m20*(m00/m00) AS m20, m21 - m20*(m01/m00) AS m21, m22 - m20*(m02/m00) AS m22,
                       m23 - m20*(m03/m00) AS m23, m24 - m20*(m04/m00) AS m24, m25 - m20*(m05/m00) AS m25,
                       nb0, nb1, ntot FROM g0),
         g2 AS (SELECT m00 - m01*(m10/m11) AS m00, m01 - m01*(m11/m11) AS m01, m02 - m01*(m12/m11) AS m02,
                       m03 - m01*(m13/m11) AS m03, m04 - m01*(m14/m11) AS m04, m05 - m01*(m15/m11) AS m05,
                       m10/m11 AS m10, m11/m11 AS m11, m12/m11 AS m12,
                       m13/m11 AS m13, m14/m11 AS m14, m15/m11 AS m15,
                       m20 - m21*(m10/m11) AS m20, m21 - m21*(m11/m11) AS m21, m22 - m21*(m12/m11) AS m22,
                       m23 - m21*(m13/m11) AS m23, m24 - m21*(m14/m11) AS m24, m25 - m21*(m15/m11) AS m25,
                       nb0, nb1, ntot FROM g1),
         g3 AS (SELECT m00 - m02*(m20/m22) AS m00, m01 - m02*(m21/m22) AS m01, m02 - m02*(m22/m22) AS m02,
                       m03 - m02*(m23/m22) AS m03, m04 - m02*(m24/m22) AS m04, m05 - m02*(m25/m22) AS m05,
                       m10 - m12*(m20/m22) AS m10, m11 - m12*(m21/m22) AS m11, m12 - m12*(m22/m22) AS m12,
                       m13 - m12*(m23/m22) AS m13, m14 - m12*(m24/m22) AS m14, m15 - m12*(m25/m22) AS m15,
                       m20/m22 AS m20, m21/m22 AS m21, m22/m22 AS m22,
                       m23/m22 AS m23, m24/m22 AS m24, m25/m22 AS m25,
                       nb0, nb1, ntot FROM g2),
         inv AS (SELECT m03 AS i00, m04 AS i01, m05 AS i02,
                        m13 AS i10, m14 AS i11, m15 AS i12,
                        m23 AS i20, m24 AS i21, m25 AS i22,
                        nb0, nb1, ntot FROM g3),
         xty AS (SELECT gene,
                        coalesce(sum(CASE WHEN batch = 'b0' THEN value END), 0e0) AS x0,
                        coalesce(sum(CASE WHEN batch = 'b1' THEN value END), 0e0) AS x1,
                        coalesce(sum(CASE WHEN grp = 'B' THEN value END), 0e0) AS x2
                 FROM mbg GROUP BY 1),
         beta AS (SELECT gene,
                         i00*x0 + i01*x1 + i02*x2 AS b0,
                         i10*x0 + i11*x1 + i12*x2 AS b1,
                         i20*x0 + i21*x1 + i22*x2 AS b2,
                         nb0, nb1, ntot
                  FROM xty CROSS JOIN inv),
         wf AS (SELECT g.gene, g.samp, g.value, g.batch,
                       (CASE WHEN g.batch = 'b0' THEN b.b0 WHEN g.batch = 'b1' THEN b.b1 END)
                         + (CASE WHEN g.grp = 'B' THEN b.b2 ELSE 0e0 END) AS fit,
                       ((b.nb0/b.ntot)*b.b0 + (b.nb1/b.ntot)*b.b1)
                         + (CASE WHEN g.grp = 'B' THEN b.b2 ELSE 0e0 END) AS center,
                       b.ntot
                FROM mbg g JOIN beta b USING (gene)),
         pooled AS (SELECT gene, sum((value - fit)*(value - fit))/max(ntot) AS sigma2
                    FROM wf GROUP BY 1
                    HAVING sum((value - fit)*(value - fit))/max(ntot) > 0),
         z AS (SELECT wf.gene, wf.samp, wf.batch, (wf.value - wf.center)/sqrt(p.sigma2) AS z,
                      wf.center, p.sigma2
               FROM wf JOIN pooled p USING (gene)),
         gb AS (SELECT gene, batch, count(*) AS n_b, avg(z) AS gamma_hat, var_samp(z) AS delta2_hat
                FROM z GROUP BY 1,2 HAVING var_samp(z) IS NOT NULL),
         hp AS (SELECT batch, avg(gamma_hat) AS gamma_bar, var_samp(gamma_hat) AS tau2,
                       (2*var_samp(delta2_hat) + avg(delta2_hat)*avg(delta2_hat))/var_samp(delta2_hat) AS a_prior,
                       (avg(delta2_hat)*var_samp(delta2_hat)
                          + avg(delta2_hat)*avg(delta2_hat)*avg(delta2_hat))/var_samp(delta2_hat) AS b_prior
                FROM gb GROUP BY 1),
         base AS (SELECT gb.gene, gb.batch, CAST(gb.n_b AS DOUBLE) AS n, gb.gamma_hat, gb.delta2_hat,
                         hp.gamma_bar, hp.tau2, hp.a_prior, hp.b_prior
                  FROM gb JOIN hp USING (batch)),
         it AS (
           SELECT 0 AS iter, gene, batch, gamma_hat AS g_star, delta2_hat AS d_star,
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior FROM base
           UNION ALL
           SELECT iter+1, gene, batch,
                  (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star),
                  (b_prior + 0.5*((n-1)*delta2_hat
                     + n*((gamma_hat - (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star))
                          *(gamma_hat - (n*tau2*gamma_hat + d_star*gamma_bar)/(n*tau2 + d_star)))))
                    / (n/2 + a_prior - 1),
                  n, gamma_hat, delta2_hat, gamma_bar, tau2, a_prior, b_prior
           FROM it WHERE iter < 30),
         post AS (SELECT gene, batch, g_star, d_star FROM it WHERE iter = 30),
         adj AS (SELECT z.gene, z.samp,
                        sqrt(z.sigma2)*(z.z - p.g_star)/sqrt(p.d_star) + z.center AS value
                 FROM z JOIN post p ON z.gene = p.gene AND z.batch = p.batch)
         SELECT gene AS l_partkey, round(avg(value) + 1e-5, 2) + 0.0 AS adj_mean, count(*) AS n
         FROM adj GROUP BY 1 ORDER BY 1""",

    // ComBat nonparametric int.eprior: pairwise Gaussian LL over
    // per-gene sufficient statistics (T = Σz, S = Σz²) as a per-batch
    // self-join, max-LL softmax guard via a window, weighted posterior
    // means — ln/exp only (proven stable on the gate's engine; no
    // lgamma), every other op +,-,*,/.
    "q67_combat_nonparam" ->
      """WITH m AS (
           SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
           FROM lineitem WHERE l_partkey <= 300 GROUP BY 1,2),
         b AS (SELECT s_suppkey AS samp,
                      CASE WHEN s_nationkey % 3 = 0 THEN 'b0' ELSE 'b1' END AS batch FROM supplier),
         mb AS (SELECT m.gene, m.samp, m.value, b.batch FROM m JOIN b USING (samp)),
         grand AS (SELECT gene, avg(value) AS alpha, var_samp(value) AS sigma2
                   FROM mb GROUP BY 1 HAVING var_samp(value) > 0),
         z AS (SELECT mb.gene, mb.samp, mb.batch, (mb.value - g.alpha)/sqrt(g.sigma2) AS z,
                      g.alpha, g.sigma2
               FROM mb JOIN grand g USING (gene)),
         gb AS (SELECT gene, batch, count(*) AS n_b, avg(z) AS gamma_hat, var_samp(z) AS delta2_hat
                FROM z GROUP BY 1,2 HAVING var_samp(z) IS NOT NULL),
         suff AS (SELECT gene, batch, CAST(count(*) AS DOUBLE) AS n,
                         sum(z) AS t_sum, sum(z*z) AS s_sum
                  FROM z GROUP BY 1,2),
         pairs AS (
           SELECT s.gene, s.batch,
                  -0.5e0*s.n*ln((2*pi())*p.delta2_hat)
                    - (s.s_sum - 2*p.gamma_hat*s.t_sum + s.n*p.gamma_hat*p.gamma_hat)
                      /(2*p.delta2_hat) AS ll,
                  p.gamma_hat, p.delta2_hat
           FROM suff s JOIN gb p ON s.batch = p.batch AND s.gene <> p.gene),
         w AS (SELECT gene, batch,
                      exp(ll - max(ll) OVER (PARTITION BY gene, batch)) AS w,
                      gamma_hat, delta2_hat
               FROM pairs),
         post AS (SELECT gene, batch, sum(w*gamma_hat)/sum(w) AS g_star,
                         sum(w*delta2_hat)/sum(w) AS d_star
                  FROM w GROUP BY 1,2),
         adj AS (SELECT z.gene, z.samp,
                        sqrt(z.sigma2)*(z.z - p.g_star)/sqrt(p.d_star) + z.alpha AS value
                 FROM z JOIN post p ON z.gene = p.gene AND z.batch = p.batch)
         SELECT gene AS l_partkey, round(avg(value) + 1e-5, 2) + 0.0 AS adj_mean, count(*) AS n
         FROM adj GROUP BY 1 ORDER BY 1""",

    // eBayes moderated t: the moment fit lands in the evar<0 branch at
    // every test SF (log-variance spread below trigamma(dbar/2)), so
    // d0 = 1e6 and s0² = exp(zbar + ψ(d0/2) − ψ(dbar/2) + ln(dbar/d0))
    // with zbar/dbar as SQL aggregates. ψ(d0/2) is the constant
    // digamma(5e5); ψ(dbar/2) expands via the commons-math recurrence
    // ψ(x) = ψ(x+40) − Σ_{j<40} 1/(x+j) (valid for x ≥ 9; dbar/2 ≈
    // half the per-gene sample count, ≥ 11 at every SF here).
    "q45_moderated_t" ->
      (s"""WITH m AS (SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
                    FROM lineitem GROUP BY 1,2),
         g AS (SELECT s_suppkey AS samp,
                      CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS grp FROM supplier),
         stats AS (SELECT m.gene, g.grp, count(*) AS n, avg(value) AS mean, var_samp(value) AS var
                   FROM m JOIN g USING (samp) GROUP BY 1,2),
         per AS (SELECT gene, sum(n) AS n_tot, count(*) AS k, sum((n-1)*var) AS ss_resid,
                        max(CASE WHEN grp='A' THEN mean END) AS ma, max(CASE WHEN grp='B' THEN mean END) AS mb,
                        max(CASE WHEN grp='A' THEN n END) AS na, max(CASE WHEN grp='B' THEN n END) AS nb
                 FROM stats GROUP BY 1),
         f AS (SELECT gene, ma - mb AS log2fc, na, nb, n_tot - 2 AS df_resid,
                      ss_resid/(n_tot-2) AS s2 FROM per
               WHERE k = 2 AND n_tot > 2 AND ma IS NOT NULL AND mb IS NOT NULL
                 AND ss_resid/(n_tot-2) > 0),
         mo AS (SELECT avg(ln(s2)) AS zbar, avg(CAST(df_resid AS DOUBLE)) AS dbar,
                       avg(CAST(df_resid AS DOUBLE))/2.0 AS dh FROM f),
         s0 AS (SELECT exp(zbar + 13.122362377403995
                  - ($digammaShifted - ($digammaRecurrence))
                  + ln(dbar/1e6)) AS s02 FROM mo)
         SELECT gene AS l_partkey,
                round(log2fc + 1e-5, 2) + 0.0 AS log2fc,
                round(log2fc / sqrt(((1e6 * s02 + df_resid*s2)/(1e6 + df_resid))
                      * (1.0/na + 1.0/nb)) + 1e-7, 4) + 0.0 AS t_mod,
                round(df_resid + 1e6 + 1e-5, 2) + 0.0 AS df_total
         FROM f CROSS JOIN s0 ORDER BY 1"""),

    // ICC: dense per-platform grids (missing cells = 0, matching the
    // IndexedRow vector semantics), gramian rows = correlation
    // vectors, ICC = corr of the two vectors over the other genes
    "q46_icc" ->
      """WITH cells AS (
           SELECT l_linestatus AS st, l_partkey AS g, l_suppkey AS s, avg(l_extendedprice) AS v
           FROM lineitem WHERE l_partkey <= 100 AND l_linestatus IN ('O','F') GROUP BY 1,2,3
         ), common AS (
           SELECT g FROM cells WHERE st='O' INTERSECT SELECT g FROM cells WHERE st='F'
         ), samps AS (SELECT DISTINCT st, s FROM cells),
         grid AS (
           SELECT sp.st, c.g, sp.s, coalesce(cl.v, 0.0) AS v
           FROM common c CROSS JOIN samps sp
           LEFT JOIN cells cl ON cl.st = sp.st AND cl.g = c.g AND cl.s = sp.s
         ), cm AS (
           SELECT a.st, a.g AS ga, b.g AS gb, corr(a.v, b.v) AS r
           FROM grid a JOIN grid b ON a.st = b.st AND a.s = b.s
           GROUP BY 1,2,3
         ), icc AS (
           SELECT o.ga AS g, corr(o.r, f.r) AS icc
           FROM cm o JOIN cm f ON o.ga = f.ga AND o.gb = f.gb AND f.st='F'
           WHERE o.st='O' AND o.ga <> o.gb
           GROUP BY 1
         ) SELECT g AS l_partkey, round(icc + 1e-7, 4) + 0.0 AS icc FROM icc ORDER BY 1""",

    // permutation FDR: md5 rank-hash permutations replayed exactly;
    // label multiset reassigned by hash rank within each perm; a null
    // observed |z| (zero variance) has a null fdr. The exceedance test
    // has a 1e-12 relative slack: a permutation that labels the
    // observed partition or its mirror reaches the observed |z| only
    // up to summation order here, and the engine counts such a tie
    "q47_perm_fdr" ->
      """WITH m AS (SELECT l_partkey AS gene, CAST(l_suppkey AS VARCHAR) AS samp, avg(l_extendedprice) AS value
                    FROM lineitem WHERE l_partkey <= 300 GROUP BY 1,2),
         grp AS (SELECT CAST(s_suppkey AS VARCHAR) AS samp,
                        CASE WHEN s_nationkey % 2 = 0 THEN 'A' ELSE 'B' END AS label FROM supplier),
         obs_stats AS (SELECT m.gene, g.label, count(*) AS n, avg(value) AS mean, var_samp(value) AS var
                       FROM m JOIN grp g USING (samp) GROUP BY 1,2),
         obsw AS (SELECT gene,
                 max(CASE WHEN label='A' THEN mean END) AS ma, max(CASE WHEN label='B' THEN mean END) AS mb,
                 max(CASE WHEN label='A' THEN var END) AS va, max(CASE WHEN label='B' THEN var END) AS vb,
                 max(CASE WHEN label='A' THEN n END) AS na, max(CASE WHEN label='B' THEN n END) AS nb
                 FROM obs_stats GROUP BY 1),
         obs_z AS (SELECT gene, abs((ma-mb)/sqrt(va/na + vb/nb)) AS z_obs FROM obsw WHERE na > 1 AND nb > 1),
         perms AS (SELECT g.samp, g.label, p.perm
                   FROM grp g CROSS JOIN (SELECT unnest(generate_series(1, 20)) AS perm) p),
         ranked AS (SELECT samp, perm,
                    row_number() OVER (PARTITION BY perm
                      ORDER BY md5(CAST(perm AS VARCHAR) || '#' || samp), samp) AS rk
                    FROM perms),
         bylabel AS (SELECT perm, label,
                     row_number() OVER (PARTITION BY perm ORDER BY label, samp) AS rk FROM perms),
         plabel AS (SELECT r.samp, r.perm, b.label AS perm_label
                    FROM ranked r JOIN bylabel b ON r.perm = b.perm AND r.rk = b.rk),
         perm_stats AS (SELECT m.gene, pl.perm, pl.perm_label AS label, count(*) AS n,
                               avg(m.value) AS mean, var_samp(m.value) AS var
                        FROM m JOIN plabel pl USING (samp) GROUP BY 1,2,3),
         permw AS (SELECT gene, perm,
                 max(CASE WHEN label='A' THEN mean END) AS ma, max(CASE WHEN label='B' THEN mean END) AS mb,
                 max(CASE WHEN label='A' THEN var END) AS va, max(CASE WHEN label='B' THEN var END) AS vb,
                 max(CASE WHEN label='A' THEN n END) AS na, max(CASE WHEN label='B' THEN n END) AS nb
                 FROM perm_stats GROUP BY 1,2),
         perm_z AS (SELECT gene, abs((ma-mb)/sqrt(va/na + vb/nb)) AS z_perm FROM permw WHERE na > 1 AND nb > 1),
         ng AS (SELECT count(*) AS n_genes FROM obs_z),
         exceed AS (SELECT o.gene, sum(CASE WHEN p.z_perm >= o.z_obs * (1 - 1e-12) THEN 1 ELSE 0 END)/20.0 AS e_null
                    FROM obs_z o JOIN perm_z p USING (gene) GROUP BY 1),
         obsrank AS (SELECT gene, z_obs,
                     count(*) OVER (ORDER BY z_obs DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_ge
                     FROM obs_z)
         SELECT o.gene AS l_partkey, round(o.z_obs + 1e-7, 4) + 0.0 AS z_obs,
                CASE WHEN o.z_obs IS NOT NULL THEN
                  round(least(1.0, e.e_null * (SELECT n_genes FROM ng) / o.n_ge) + 1e-9, 6) + 0.0
                END AS fdr
         FROM obsrank o JOIN exceed e USING (gene) ORDER BY 1""",

    // CQN replay: GC-bin medians, Thomas-solve spline (recursive
    // CTEs), centered-effect subtraction, rank-rounded QN, floor
    "q64_cqn" ->
      """WITH RECURSIVE counts AS (
  SELECT CAST(l_partkey AS VARCHAR) AS gene, CAST(l_suppkey AS VARCHAR) AS samp,
         CAST(sum(l_quantity) AS DOUBLE) AS cnt
  FROM lineitem WHERE l_partkey <= 300 GROUP BY 1,2
), info AS (
  SELECT CAST(p_partkey AS VARCHAR) AS gene,
         CAST((p_partkey % 41) / 100.0 + 0.3 AS DOUBLE) AS gc,
         CAST(500 + (p_partkey % 17) * 100 AS DOUBLE) AS length
  FROM part WHERE p_partkey <= 300
), libs AS (SELECT samp, sum(cnt) AS lib FROM counts GROUP BY 1),
y0 AS (
  SELECT c.gene, c.samp,
         log2((c.cnt + 0.5) / (l.lib + 1.0) * 1e6) - log2(i.length / 1000.0) AS y,
         i.gc
  FROM counts c JOIN libs l USING (samp) JOIN info i USING (gene)
), edges AS (
  SELECT quantile_cont(gc, [1.0/6, 2.0/6, 3.0/6, 4.0/6, 5.0/6]) AS e FROM info
), binned AS (
  SELECT y0.*, CAST((gc > e[1]) AS INT) + CAST((gc > e[2]) AS INT) + CAST((gc > e[3]) AS INT)
         + CAST((gc > e[4]) AS INT) + CAST((gc > e[5]) AS INT) AS bin
  FROM y0 CROSS JOIN edges
), knots AS (SELECT bin, avg(gc) AS kx FROM binned GROUP BY 1),
meds AS (SELECT samp, bin, quantile_cont(y, 0.5) AS med FROM binned GROUP BY 1,2),
ptsf AS (
  SELECT g.samp, g.bin, g.kx, m.med
  FROM (SELECT s.samp, k.bin, k.kx
        FROM (SELECT DISTINCT samp FROM counts) s CROSS JOIN knots k) g
  LEFT JOIN meds m ON m.samp = g.samp AND m.bin = g.bin
), pts AS (
  -- samples missing a bin fall back to the nearest previous (then
  -- next) bin's median, as the Scala fill does
  SELECT samp,
         CAST(row_number() OVER (PARTITION BY samp ORDER BY kx) - 1 AS INT) AS i,
         kx AS x,
         coalesce(med,
           last_value(med IGNORE NULLS) OVER (PARTITION BY samp ORDER BY kx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           first_value(med IGNORE NULLS) OVER (PARTITION BY samp ORDER BY kx
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
           0.0) AS y
  FROM ptsf
), np AS (SELECT samp, count(*) AS np FROM pts GROUP BY 1),
coef AS (
  SELECT p.samp, p.i,
         (p.x - pm.x)/6.0 AS a, ((p.x - pm.x) + (pp.x - p.x))/3.0 AS b,
         (pp.x - p.x)/6.0 AS c,
         (pp.y - p.y)/(pp.x - p.x) - (p.y - pm.y)/(p.x - pm.x) AS d
  FROM pts p
  JOIN pts pm ON pm.samp = p.samp AND pm.i = p.i - 1
  JOIN pts pp ON pp.samp = p.samp AND pp.i = p.i + 1
), fwd AS (
  SELECT samp, i, a, b, c, d FROM coef WHERE i = 1
  UNION ALL
  SELECT c2.samp, c2.i, c2.a, c2.b - (c2.a/f.b)*f.c, c2.c, c2.d - (c2.a/f.b)*f.d
  FROM fwd f JOIN coef c2 ON c2.samp = f.samp AND c2.i = f.i + 1
), bwd AS (
  SELECT f.samp, f.i, f.d/f.b AS m, f.c, f.b
  FROM fwd f JOIN np ON np.samp = f.samp AND f.i = np.np - 2
  UNION ALL
  SELECT f.samp, f.i, (f.d - f.c*b.m)/f.b, f.c, f.b
  FROM bwd b JOIN fwd f ON f.samp = b.samp AND f.i = b.i - 1
), m2 AS (
  SELECT samp, i, m FROM bwd
  UNION ALL SELECT samp, 0, CAST(0.0 AS DOUBLE) FROM np
  UNION ALL SELECT samp, np - 1, CAST(0.0 AS DOUBLE) FROM np
), segs AS (
  SELECT p0.samp, p0.i AS seg, p0.x AS x0, p1.x AS x1, p0.y AS y0, p1.y AS y1,
         ma.m AS m0, mb.m AS m1
  FROM pts p0
  JOIN pts p1 ON p1.samp = p0.samp AND p1.i = p0.i + 1
  JOIN m2 ma ON ma.samp = p0.samp AND ma.i = p0.i
  JOIN m2 mb ON mb.samp = p0.samp AND mb.i = p1.i
), kcuts AS (
  SELECT kx, row_number() OVER (ORDER BY kx) AS ki FROM knots
), nk AS (SELECT count(*) AS nk FROM knots),
segassign AS (
  SELECT b.gene, b.samp, b.y, b.gc,
         coalesce(sum(CASE WHEN b.gc > k.kx THEN 1 ELSE 0 END), 0) AS seg
  FROM binned b LEFT JOIN (SELECT kx FROM kcuts, nk WHERE ki > 1 AND ki < nk.nk) k ON TRUE
  GROUP BY 1,2,3,4
), effects AS (
  SELECT s.gene, s.samp, s.y,
         (g.m0 * pow(g.x1 - xc, 3) + g.m1 * pow(xc - g.x0, 3)) / (6.0*(g.x1 - g.x0))
         + (g.y0/(g.x1 - g.x0) - g.m0*(g.x1 - g.x0)/6.0) * (g.x1 - xc)
         + (g.y1/(g.x1 - g.x0) - g.m1*(g.x1 - g.x0)/6.0) * (xc - g.x0) AS eff
  FROM segassign s JOIN segs g ON g.samp = s.samp AND g.seg = s.seg,
  LATERAL (SELECT least(greatest(s.gc, g.x0), g.x1) AS xc) l
), centered AS (
  SELECT gene, samp,
         round(y - (eff - avg(eff) OVER (PARTITION BY samp)) + 1e-9, 6) + 0.0 AS corrected
  FROM effects
), ranked AS (
  SELECT gene, samp, corrected,
         row_number() OVER (PARTITION BY samp ORDER BY corrected, gene) AS r
  FROM centered
), rmeans AS (SELECT r, avg(corrected) AS rm FROM ranked GROUP BY 1)
SELECT CAST(k.gene AS BIGINT) AS l_partkey, CAST(k.samp AS BIGINT) AS l_suppkey,
       round(CASE WHEN m.rm < 2.0 THEN 0.0 ELSE m.rm END + 1e-5, 2) + 0.0 AS cqn_value
FROM ranked k JOIN rmeans m USING (r)
ORDER BY 1, 2""",

    // RSN replay: rank/target aggregates, natural-spline Thomas solve
    // as two single-chain recursive CTEs (forward elimination, back
    // substitution), closed-form piecewise cubic evaluation
    "q63_rsn" ->
      """WITH RECURSIVE mm AS (
           SELECT CAST(l_partkey AS VARCHAR) AS gene, CAST(l_suppkey AS VARCHAR) AS samp,
                  CAST(avg(l_extendedprice) AS DOUBLE) AS v
           FROM lineitem WHERE l_partkey <= 300 GROUP BY 1,2
         ), rk AS (
           SELECT gene, samp, v, row_number() OVER (PARTITION BY samp ORDER BY v, gene) AS r
           FROM mm
         ), ns AS (SELECT samp, count(*) AS n FROM mm GROUP BY 1),
         tgt AS (SELECT r, avg(v) AS target FROM rk GROUP BY 1),
         anch AS (
           SELECT k.samp, least(9, CAST(floor(k.r * 10.0 / (ns.n + 1)) AS INT)) AS bin,
                  avg(k.v) AS x, avg(t.target) AS y
           FROM rk k JOIN ns USING (samp) JOIN tgt t USING (r)
           GROUP BY 1,2
         ), pts AS (
           SELECT samp, CAST(row_number() OVER (PARTITION BY samp ORDER BY x) - 1 AS INT) AS i, x, y
           FROM anch
         ), np AS (SELECT samp, count(*) AS np FROM pts GROUP BY 1),
         coef AS (
           SELECT p.samp, p.i,
                  (p.x - pm.x)/6.0 AS a, ((p.x - pm.x) + (pp.x - p.x))/3.0 AS b,
                  (pp.x - p.x)/6.0 AS c,
                  (pp.y - p.y)/(pp.x - p.x) - (p.y - pm.y)/(p.x - pm.x) AS d
           FROM pts p
           JOIN pts pm ON pm.samp = p.samp AND pm.i = p.i - 1
           JOIN pts pp ON pp.samp = p.samp AND pp.i = p.i + 1
         ), fwd AS (
           SELECT samp, i, a, b, c, d FROM coef WHERE i = 1
           UNION ALL
           SELECT c2.samp, c2.i, c2.a, c2.b - (c2.a/f.b)*f.c, c2.c, c2.d - (c2.a/f.b)*f.d
           FROM fwd f JOIN coef c2 ON c2.samp = f.samp AND c2.i = f.i + 1
         ), bwd AS (
           SELECT f.samp, f.i, f.d/f.b AS m, f.c, f.b
           FROM fwd f JOIN np ON np.samp = f.samp AND f.i = np.np - 2
           UNION ALL
           SELECT f.samp, f.i, (f.d - f.c*b.m)/f.b, f.c, f.b
           FROM bwd b JOIN fwd f ON f.samp = b.samp AND f.i = b.i - 1
         ), m2 AS (
           SELECT samp, i, m FROM bwd
           UNION ALL SELECT samp, 0, CAST(0.0 AS DOUBLE) FROM np
           UNION ALL SELECT samp, np - 1, CAST(0.0 AS DOUBLE) FROM np
         ), segs AS (
           SELECT p0.samp, p0.i AS seg, p0.x AS x0, p1.x AS x1, p0.y AS y0, p1.y AS y1,
                  ma.m AS m0, mb.m AS m1
           FROM pts p0
           JOIN pts p1 ON p1.samp = p0.samp AND p1.i = p0.i + 1
           JOIN m2 ma ON ma.samp = p0.samp AND ma.i = p0.i
           JOIN m2 mb ON mb.samp = p0.samp AND mb.i = p1.i
         ), cuts AS (
           SELECT p.samp, p.x FROM pts p JOIN np ON np.samp = p.samp
           WHERE p.i BETWEEN 1 AND np.np - 2
         ), segidx AS (
           SELECT mm.gene, mm.samp, mm.v,
                  coalesce(sum(CASE WHEN mm.v > c.x THEN 1 ELSE 0 END), 0) AS seg
           FROM mm LEFT JOIN cuts c USING (samp)
           GROUP BY 1,2,3
         )
         SELECT CAST(s.gene AS BIGINT) AS l_partkey, CAST(s.samp AS BIGINT) AS l_suppkey,
                round(
                  (g.m0 * pow(g.x1 - xc, 3) + g.m1 * pow(xc - g.x0, 3)) / (6.0*(g.x1 - g.x0))
                  + (g.y0/(g.x1 - g.x0) - g.m0*(g.x1 - g.x0)/6.0) * (g.x1 - xc)
                  + (g.y1/(g.x1 - g.x0) - g.m1*(g.x1 - g.x0)/6.0) * (xc - g.x0)
                  + 1e-5, 2) + 0.0 AS rsn_value
         FROM segidx s JOIN segs g ON g.samp = s.samp AND g.seg = s.seg,
         LATERAL (SELECT least(greatest(s.v, g.x0), g.x1) AS xc) l
         ORDER BY 1, 2""",

    // Ward.D agglomeration replayed as a recursive CTE: one level per
    // merge — argmin by (d, ca, cb), Lance–Williams update, cluster
    // labels as sorted member joins (list_sort || string_agg)
    "q51_ward" ->
      """WITH RECURSIVE m AS (
           SELECT CAST(l_suppkey AS VARCHAR) AS samp, l_partkey AS gene,
                  CAST(avg(l_extendedprice) AS DOUBLE) AS v
           FROM lineitem WHERE l_suppkey <= 12 GROUP BY 1,2
         ), d0 AS (
           SELECT a.samp AS ca, b.samp AS cb, sum((a.v - b.v)*(a.v - b.v)) AS d
           FROM m a JOIN m b ON a.gene = b.gene AND a.samp < b.samp
           GROUP BY 1,2
         ), st AS (
           SELECT 0 AS step, 'pair' AS kind, ca, cb, d,
                  CAST(1 AS BIGINT) AS na, CAST(1 AS BIGINT) AS nb
           FROM d0
           UNION ALL
           SELECT * FROM (
             WITH cur AS (SELECT * FROM st WHERE kind = 'pair'),
             best AS (SELECT step AS bstep, ca AS bca, cb AS bcb, d AS bd, na AS bna, nb AS bnb
                      FROM cur ORDER BY d, ca, cb LIMIT 1),
             newlab AS (SELECT *, list_aggregate(list_sort(string_split(bca, '+') || string_split(bcb, '+')), 'string_agg', '+') AS nl
                        FROM best),
             untouched AS (
               SELECT c.step + 1 AS step, 'pair' AS kind, c.ca, c.cb, c.d, c.na, c.nb
               FROM cur c, newlab b
               WHERE c.ca NOT IN (b.bca, b.bcb) AND c.cb NOT IN (b.bca, b.bcb)),
             touched AS (
               SELECT b.bstep, b.bna, b.bnb, b.bd, b.nl,
                      CASE WHEN c.ca IN (b.bca, b.bcb) THEN c.cb ELSE c.ca END AS k,
                      CASE WHEN c.ca IN (b.bca, b.bcb) THEN c.nb ELSE c.na END AS nk,
                      CASE WHEN c.ca = b.bca OR c.cb = b.bca THEN c.d END AS dak,
                      CASE WHEN c.ca = b.bcb OR c.cb = b.bcb THEN c.d END AS dbk
               FROM cur c, newlab b
               WHERE (c.ca IN (b.bca, b.bcb)) <> (c.cb IN (b.bca, b.bcb))),
             merged AS (
               SELECT bstep, k, max(nk) AS nk, max(dak) AS dak, max(dbk) AS dbk,
                      max(bna) AS bna, max(bnb) AS bnb, max(bd) AS bd, max(nl) AS nl
               FROM touched GROUP BY bstep, k),
             newpairs AS (
               SELECT bstep + 1 AS step, 'pair' AS kind,
                      least(nl, k) AS ca, greatest(nl, k) AS cb,
                      ((bna + nk)*dak + (bnb + nk)*dbk - nk*bd) / (bna + bnb + nk) AS d,
                      CASE WHEN nl < k THEN bna + bnb ELSE nk END AS na,
                      CASE WHEN nl < k THEN nk ELSE bna + bnb END AS nb
               FROM merged),
             mergerow AS (
               SELECT bstep + 1 AS step, 'merge' AS kind, bca AS ca, bcb AS cb, bd AS d,
                      bna + bnb AS na, CAST(0 AS BIGINT) AS nb
               FROM best)
             SELECT * FROM untouched
             UNION ALL SELECT * FROM newpairs
             UNION ALL SELECT * FROM mergerow
           )
         )
         SELECT CAST(step AS INT) AS step, CAST(na AS INT) AS size,
                round(d/1e6) + 0.0 AS height_m
         FROM st WHERE kind = 'merge' ORDER BY 1""",

    // median polish replayed as a recursive CTE: one level per sweep,
    // medians as windows, per-probeset convergence as a frozen-carry
    // flag (matches the Scala early-exit loop's final state)
    "q54_median_polish" ->
      """WITH RECURSIVE cells0 AS (
           SELECT CAST(l_partkey AS VARCHAR) AS ps,
                  CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS probe,
                  l_suppkey AS samp, CAST(avg(l_extendedprice) AS DOUBLE) AS v
           FROM lineitem WHERE l_partkey <= 100 GROUP BY 1,2,3
         ), probes AS (SELECT DISTINCT ps, probe FROM cells0),
         samps AS (SELECT DISTINCT ps, samp FROM cells0),
         colmed AS (SELECT ps, samp, median(v) AS cm FROM cells0 GROUP BY 1,2),
         grid AS (
           SELECT p.ps, p.probe, s.samp,
                  coalesce(c.v, cm.cm, 0.0) AS v
           FROM probes p JOIN samps s USING (ps)
           LEFT JOIN cells0 c ON c.ps = p.ps AND c.probe = p.probe AND c.samp = s.samp
           LEFT JOIN colmed cm ON cm.ps = p.ps AND cm.samp = s.samp
         ), st AS (
           SELECT 0 AS iter, ps, probe, samp, v AS resid,
                  CAST(0.0 AS DOUBLE) AS roweff, CAST(0.0 AS DOUBLE) AS coleff,
                  CAST(0.0 AS DOUBLE) AS overall, TRUE AS active
           FROM grid
           UNION ALL
           SELECT iter + 1, ps, probe, samp,
                  CASE WHEN active THEN resid2 ELSE resid END,
                  CASE WHEN active THEN roweff2 ELSE roweff END,
                  CASE WHEN active THEN coleff2 ELSE coleff END,
                  CASE WHEN active THEN overall2 ELSE overall END,
                  CASE WHEN active THEN delta > 0.01 ELSE FALSE END
           FROM (
             SELECT *,
                    overall1 + cmm AS overall2,
                    coleff1 - cmm AS coleff2,
                    resid1 - cmj AS resid2,
                    drow + abs(rmm) + dcol + abs(cmm) AS delta
             FROM (
               SELECT *,
                      median(coleff1) OVER (PARTITION BY iter, ps) AS cmm,
                      sum(abs(cmj)) OVER (PARTITION BY iter, ps) / nprobes AS dcol
               FROM (
                 SELECT *, coleff + cmj AS coleff1
                 FROM (
                   SELECT *, median(resid1) OVER (PARTITION BY iter, ps, samp) AS cmj
                   FROM (
                     SELECT *,
                            overall + rmm AS overall1,
                            roweff1 - rmm AS roweff2
                     FROM (
                       SELECT *,
                              median(roweff1) OVER (PARTITION BY iter, ps) AS rmm,
                              sum(abs(rmi)) OVER (PARTITION BY iter, ps) / nsamps AS drow
                       FROM (
                         SELECT *, resid - rmi AS resid1, roweff + rmi AS roweff1
                         FROM (
                           SELECT st.*,
                                  median(resid) OVER (PARTITION BY iter, ps, probe) AS rmi,
                                  count(*) OVER (PARTITION BY iter, ps, probe) AS nsamps,
                                  count(*) OVER (PARTITION BY iter, ps, samp) AS nprobes
                           FROM st WHERE iter < 10
                         ) a
                       ) b
                     ) c
                   ) d
                 ) e
               ) f
             ) g
           ) h
         )
         SELECT CAST(ps AS BIGINT) AS l_partkey, samp AS l_suppkey,
                round(max(overall + coleff) + 1e-5, 2) + 0.0 AS summarized
         FROM st WHERE iter = 10
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // IRLS logistic replayed as a recursive CTE. DECIMAL hazards: the
    // anchor's 0.0 literals and avg(DECIMAL) MUST cast to DOUBLE or
    // the recursion coerces the state to DECIMAL(2,1).
    "q53_logistic" ->
      """WITH RECURSIVE data AS (
           SELECT m.gene, CAST(m.value AS DOUBLE) / 100000.0 AS x,
                  CAST(CASE WHEN s.s_nationkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
           FROM (SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
                 FROM lineitem WHERE l_partkey <= 200 GROUP BY 1,2) m
           JOIN supplier s ON s.s_suppkey = m.samp
         ), st AS (
           SELECT 0 AS iter, gene, CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                  FALSE AS conv, CAST('nan' AS DOUBLE) AS se
           FROM (SELECT DISTINCT gene FROM data)
           UNION ALL
           SELECT iter + 1, gene,
                  CASE WHEN conv OR abs(det) < 1e-12 THEN b0 ELSE b0 + (s11*g0 - s01*g1)/det END,
                  CASE WHEN conv OR abs(det) < 1e-12 THEN b1 ELSE b1 + (s00*g1 - s01*g0)/det END,
                  CASE WHEN conv THEN TRUE
                       WHEN abs(det) < 1e-12 THEN TRUE
                       ELSE abs((s11*g0 - s01*g1)/det) < 1e-10 AND abs((s00*g1 - s01*g0)/det) < 1e-10 END,
                  CASE WHEN conv OR abs(det) < 1e-12 THEN se ELSE sqrt(s00/det) END
           FROM (
             SELECT iter, gene, b0, b1, conv, se,
                    sum(w) AS s00, sum(w*x) AS s01, sum(w*x*x) AS s11,
                    sum(y - p) AS g0, sum((y - p)*x) AS g1,
                    sum(w)*sum(w*x*x) - sum(w*x)*sum(w*x) AS det
             FROM (
               SELECT st.iter, st.gene, st.b0, st.b1, st.conv, st.se, d.x, d.y,
                      1.0/(1.0 + exp(-(st.b0 + st.b1*d.x))) AS p,
                      greatest(1.0/(1.0 + exp(-(st.b0 + st.b1*d.x))) *
                               (1.0 - 1.0/(1.0 + exp(-(st.b0 + st.b1*d.x)))), 1e-10) AS w
               FROM st JOIN data d USING (gene) WHERE st.iter < 25
             ) s GROUP BY 1,2,3,4,5,6
           )
         )
         SELECT gene AS l_partkey,
                round(CASE WHEN se > 0 THEN b1/se ELSE CAST('nan' AS DOUBLE) END + 1e-7, 4) + 0.0 AS z
         FROM st WHERE iter = 25 ORDER BY 1""",

    // hypergeometric upper tail replayed with the SAME mode-anchored
    // multiplicative pmf recurrence as StatKernels.hyperTail — only
    // +,*,/ on exact-integer doubles, IEEE-identical on every DuckDB
    // build (the previous lgamma/exp form broke at the 6dp rounding
    // boundary under a different libm). Walk: phase 0 climbs from the
    // mode to hi, phase 1 descends from the mode to lo, phase 2 done;
    // accumulators carry the exact Scala summation order.
    "q49_enrichment" ->
      """WITH RECURSIVE
         uni AS (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) AS nn FROM part),
         sig0 AS (SELECT DISTINCT l_partkey AS g FROM lineitem WHERE l_quantity > 45),
         sigk AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM sig0),
         counts AS (
           SELECT p_brand AS term, CAST(count(*) AS BIGINT) AS ts,
                  CAST(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ov
           FROM part LEFT JOIN sig0 s ON part.p_partkey = s.g
           GROUP BY 1),
         init AS (
           SELECT term, ts, ov, nn, kk,
                  greatest(CAST(0 AS BIGINT), ts + kk - nn) AS lo,
                  least(ts, kk) AS hi,
                  least(greatest(((ts+1)*(kk+1))//(nn+2),
                                 greatest(CAST(0 AS BIGINT), ts + kk - nn)),
                        least(ts, kk)) AS md
           FROM counts CROSS JOIN uni CROSS JOIN sigk),
         walk AS (
           SELECT term, ts, ov, nn, kk, lo, hi, md,
                  0 AS phase, md AS i,
                  CAST(1.0 AS DOUBLE) AS w,
                  CAST(1.0 AS DOUBLE) AS total,
                  CASE WHEN md >= ov THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS tl
           FROM init
           UNION ALL
           SELECT term, ts, ov, nn, kk, lo, hi, md,
                  CASE WHEN phase = 0 AND i < hi THEN 0
                       WHEN phase = 0 THEN 1
                       WHEN phase = 1 AND i > lo THEN 1
                       ELSE 2 END AS phase,
                  CASE WHEN phase = 0 AND i < hi THEN i + 1
                       WHEN phase = 0 THEN md
                       WHEN phase = 1 AND i > lo THEN i - 1
                       ELSE i END AS i,
                  CASE WHEN phase = 0 AND i < hi
                         THEN w * CAST((kk - i) * (ts - i) AS DOUBLE)
                                / CAST((i + 1) * (nn - kk - ts + i + 1) AS DOUBLE)
                       WHEN phase = 0 THEN CAST(1.0 AS DOUBLE)
                       WHEN phase = 1 AND i > lo
                         THEN w * CAST(i * (nn - kk - ts + i) AS DOUBLE)
                                / CAST((kk - i + 1) * (ts - i + 1) AS DOUBLE)
                       ELSE w END AS w,
                  CASE WHEN phase = 0 AND i < hi
                         THEN total + w * CAST((kk - i) * (ts - i) AS DOUBLE)
                                        / CAST((i + 1) * (nn - kk - ts + i + 1) AS DOUBLE)
                       WHEN phase = 1 AND i > lo
                         THEN total + w * CAST(i * (nn - kk - ts + i) AS DOUBLE)
                                        / CAST((kk - i + 1) * (ts - i + 1) AS DOUBLE)
                       ELSE total END AS total,
                  CASE WHEN phase = 0 AND i < hi AND i + 1 >= ov
                         THEN tl + w * CAST((kk - i) * (ts - i) AS DOUBLE)
                                     / CAST((i + 1) * (nn - kk - ts + i + 1) AS DOUBLE)
                       WHEN phase = 1 AND i > lo AND i - 1 >= ov
                         THEN tl + w * CAST(i * (nn - kk - ts + i) AS DOUBLE)
                                     / CAST((kk - i + 1) * (ts - i + 1) AS DOUBLE)
                       ELSE tl END AS tl
           FROM walk WHERE phase < 2)
         SELECT term, ts AS term_size, ov AS overlap,
                round(tl / total + 1e-9, 6) + 0.0 AS p
         FROM walk WHERE phase = 2 ORDER BY term""",

    // PCA replay (q43): dense gene×sample grid, per-gene
    // standardization, gene Gramian XᵀX by a sample-keyed self-join,
    // then THREE seeded 500-step power-iteration passes with deflation
    // (the q62 machinery on a 50×50 matrix), sign-fixed loadings,
    // coordinates as Σ x·v, and the Mahalanobis call against the
    // baked qchisq(0.999, 3) cutoff.
    "q43_pca_outliers" ->
      (s"""WITH RECURSIVE m AS MATERIALIZED (
           -- BETWEEN 1 AND 50, not <= 50: the Spark side selects genes
           -- by the explicit id list "1".."50", and partkey 0 exists —
           -- it must not smuggle its suppliers into the sample universe
           SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
           FROM lineitem WHERE l_partkey BETWEEN 1 AND 50 GROUP BY 1,2),
         samples AS (SELECT DISTINCT samp FROM m),
         gs AS (SELECT unnest(generate_series(CAST(1 AS BIGINT), CAST(50 AS BIGINT))) AS gene),
         grid AS MATERIALIZED (
           SELECT s.samp, g.gene, coalesce(m.value, 0e0) AS value
           FROM samples s CROSS JOIN gs g
           LEFT JOIN m ON m.samp = s.samp AND m.gene = g.gene),
         gstats AS (SELECT gene, avg(value) AS mu, stddev_samp(value) AS sd
                    FROM grid GROUP BY 1),
         scaled AS MATERIALIZED (
           SELECT grid.samp, grid.gene, CAST(grid.gene - 1 AS BIGINT) AS gi,
                  CASE WHEN st.sd > 0 THEN (grid.value - st.mu)/st.sd ELSE 0e0 END AS x
           FROM grid JOIN gstats st USING (gene)),
         gm AS MATERIALIZED (
           SELECT a.gi AS i, b.gi AS j, sum(a.x * b.x) AS v
           FROM scaled a JOIN scaled b USING (samp) GROUP BY 1,2),
         v1seed AS (SELECT i, CAST(((i + 1) * 40503) % 65536 AS DOUBLE) / 65536e0 - 0.5e0 AS v
                    FROM (SELECT DISTINCT i FROM gm)),
         p1 AS (
           SELECT 0 AS iter, i, v FROM v1seed
           UNION ALL
           SELECT s.iter, s.i, s.w / sqrt(sum(s.w*s.w) OVER ()) AS v
           FROM (SELECT p.iter + 1 AS iter, b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                 FROM p1 p JOIN gm b ON b.j = p.i WHERE p.iter < 500
                 GROUP BY p.iter, b.i) s),
         tl1 AS MATERIALIZED (SELECT iter, i, v FROM p1 WHERE iter >= 499),
         fv1 AS MATERIALIZED (SELECT i, v FROM tl1 WHERE iter = 500),
         pv1 AS MATERIALIZED (SELECT i, v FROM tl1 WHERE iter = 499),
         lam1 AS MATERIALIZED (
           SELECT sum(x.vw ORDER BY x.i) AS lam
           FROM (SELECT w1.i, p.v * w1.w AS vw
                 FROM (SELECT b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                       FROM gm b JOIN pv1 p ON p.i = b.j GROUP BY b.i) w1
                 JOIN pv1 p ON p.i = w1.i) x),
         gm2 AS MATERIALIZED (
           SELECT b.i, b.j, b.v - (SELECT lam FROM lam1) * vi.v * vj.v AS v
           FROM gm b JOIN fv1 vi ON vi.i = b.i JOIN fv1 vj ON vj.i = b.j),
         v2seed AS (SELECT i, CAST(((i + 1) * 40503 + 7919) % 65536 AS DOUBLE) / 65536e0 - 0.5e0 AS v
                    FROM (SELECT DISTINCT i FROM gm)),
         p2 AS (
           SELECT 0 AS iter, i, v FROM v2seed
           UNION ALL
           SELECT s.iter, s.i, s.w / sqrt(sum(s.w*s.w) OVER ()) AS v
           FROM (SELECT p.iter + 1 AS iter, b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                 FROM p2 p JOIN gm2 b ON b.j = p.i WHERE p.iter < 500
                 GROUP BY p.iter, b.i) s),
         tl2 AS MATERIALIZED (SELECT iter, i, v FROM p2 WHERE iter >= 499),
         fv2 AS MATERIALIZED (SELECT i, v FROM tl2 WHERE iter = 500),
         pv2 AS MATERIALIZED (SELECT i, v FROM tl2 WHERE iter = 499),
         lam2 AS MATERIALIZED (
           SELECT sum(x.vw ORDER BY x.i) AS lam
           FROM (SELECT w2.i, p.v * w2.w AS vw
                 FROM (SELECT b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                       FROM gm2 b JOIN pv2 p ON p.i = b.j GROUP BY b.i) w2
                 JOIN pv2 p ON p.i = w2.i) x),
         gm3 AS MATERIALIZED (
           SELECT b.i, b.j, b.v - (SELECT lam FROM lam2) * vi.v * vj.v AS v
           FROM gm2 b JOIN fv2 vi ON vi.i = b.i JOIN fv2 vj ON vj.i = b.j),
         v3seed AS (SELECT i, CAST(((i + 1) * 40503 + 15838) % 65536 AS DOUBLE) / 65536e0 - 0.5e0 AS v
                    FROM (SELECT DISTINCT i FROM gm)),
         p3 AS (
           SELECT 0 AS iter, i, v FROM v3seed
           UNION ALL
           SELECT s.iter, s.i, s.w / sqrt(sum(s.w*s.w) OVER ()) AS v
           FROM (SELECT p.iter + 1 AS iter, b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                 FROM p3 p JOIN gm3 b ON b.j = p.i WHERE p.iter < 500
                 GROUP BY p.iter, b.i) s),
         fv3 AS MATERIALIZED (SELECT i, v FROM p3 WHERE iter = 500),
         ff1 AS (SELECT CASE WHEN (SELECT v FROM fv1 ORDER BY abs(v) DESC, i ASC LIMIT 1) < 0
                             THEN -1e0 ELSE 1e0 END AS f),
         ff2 AS (SELECT CASE WHEN (SELECT v FROM fv2 ORDER BY abs(v) DESC, i ASC LIMIT 1) < 0
                             THEN -1e0 ELSE 1e0 END AS f),
         ff3 AS (SELECT CASE WHEN (SELECT v FROM fv3 ORDER BY abs(v) DESC, i ASC LIMIT 1) < 0
                             THEN -1e0 ELSE 1e0 END AS f),
         pcs AS MATERIALIZED (
           SELECT sc.samp,
                  sum(sc.x * v1.v) * (SELECT f FROM ff1) AS pc1,
                  sum(sc.x * v2.v) * (SELECT f FROM ff2) AS pc2,
                  sum(sc.x * v3.v) * (SELECT f FROM ff3) AS pc3
           FROM scaled sc
           JOIN fv1 v1 ON v1.i = sc.gi
           JOIN fv2 v2 ON v2.i = sc.gi
           JOIN fv3 v3 ON v3.i = sc.gi
           GROUP BY 1),
         pst AS (SELECT avg(pc1) AS m1, var_samp(pc1) AS s1,
                        avg(pc2) AS m2, var_samp(pc2) AS s2,
                        avg(pc3) AS m3, var_samp(pc3) AS s3 FROM pcs),
         d2 AS (SELECT p.samp,
                       (p.pc1 - t.m1)*(p.pc1 - t.m1)/t.s1
                       + (p.pc2 - t.m2)*(p.pc2 - t.m2)/t.s2
                       + (p.pc3 - t.m3)*(p.pc3 - t.m3)/t.s3 AS d2
                FROM pcs p CROSS JOIN pst t)
         SELECT CAST(samp AS BIGINT) AS l_suppkey,
                round(d2 + 1e-5, 2) + 0.0 AS d2,
                d2 > ${graft.functions.StatKernels.qchisq(0.999, 3.0)} AS outlier
         FROM d2 ORDER BY 1"""),

    // cmdscale replay: identical rounded distance inputs, exact
    // double-centering (ordered sums mirror the Scala index-order
    // loops), then the 500-step seeded power iteration + deflation as
    // two recursive CTEs. The per-step norm is a window sum (pairwise
    // vs the Scala sequential fold — ~1e-16/step noise); the iteration
    // is contractive, so the cross-engine steady-state difference is
    // 1e-16/(1−λ2/λ1), invisible at the 2dp output grid unless the
    // eigenvalues tie to one part in 1e8 (the engine logs a residual
    // warning in that case).
    "q62_mds" ->
      """WITH RECURSIVE m AS (
           SELECT l_partkey AS gene, l_suppkey AS samp, avg(l_extendedprice) AS value
           FROM lineitem WHERE l_partkey <= 50 AND l_suppkey <= 300 GROUP BY 1,2),
         pr AS MATERIALIZED (
                SELECT a.samp AS s1, b.samp AS s2,
                       round(sum((a.value - b.value)*(a.value - b.value)) + 1e-5, 0) + 0.0 AS d
                FROM m a JOIN m b ON a.gene = b.gene
                                 AND CAST(a.samp AS VARCHAR) < CAST(b.samp AS VARCHAR)
                GROUP BY 1,2),
         samples AS (SELECT samp FROM (SELECT s1 AS samp FROM pr UNION SELECT s2 FROM pr) u GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM samples),
         sidx AS (SELECT samp, CAST(row_number() OVER (ORDER BY CAST(samp AS VARCHAR)) AS BIGINT) - 1 AS i
                  FROM samples),
         sym AS (SELECT s1 AS sa, s2 AS sb, d FROM pr UNION ALL SELECT s2, s1, d FROM pr),
         grid AS MATERIALIZED (
                  SELECT si.i AS i, sj.i AS j, coalesce(y.d, 0e0) AS v
                  FROM sidx si CROSS JOIN sidx sj
                  LEFT JOIN sym y ON y.sa = si.samp AND y.sb = sj.samp),
         rm AS (SELECT g.i, sum(g.v ORDER BY g.j) / (SELECT n FROM nn) AS rm
                FROM grid g GROUP BY g.i),
         gd AS (SELECT sum(rm ORDER BY i) / (SELECT n FROM nn) AS gd FROM rm),
         bm AS MATERIALIZED (
                SELECT g.i, g.j, -0.5e0*(g.v - ri.rm - rj.rm + (SELECT gd FROM gd)) AS v
                FROM grid g JOIN rm ri ON ri.i = g.i JOIN rm rj ON rj.i = g.j),
         v1seed AS (SELECT i, CAST(((i + 1) * 40503) % 65536 AS DOUBLE) / 65536e0 - 0.5e0 AS v
                    FROM sidx),
         p1 AS (
           SELECT 0 AS iter, i, v FROM v1seed
           UNION ALL
           SELECT s.iter, s.i, s.w / sqrt(sum(s.w*s.w) OVER ()) AS v
           FROM (SELECT p.iter + 1 AS iter, b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                 FROM p1 p JOIN bm b ON b.j = p.i
                 WHERE p.iter < 500
                 GROUP BY p.iter, b.i) s),
         tail1 AS MATERIALIZED (SELECT iter, i, v FROM p1 WHERE iter >= 499),
         fv1 AS MATERIALIZED (SELECT i, v FROM tail1 WHERE iter = 500),
         pv1 AS MATERIALIZED (SELECT i, v FROM tail1 WHERE iter = 499),
         w1 AS (SELECT b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                FROM bm b JOIN pv1 p ON p.i = b.j GROUP BY b.i),
         lam1 AS MATERIALIZED (
                  SELECT sum(x.vw ORDER BY x.i) AS lam
                  FROM (SELECT w1.i, p.v * w1.w AS vw
                        FROM w1 JOIN pv1 p ON p.i = w1.i) x),
         bm2 AS MATERIALIZED (
                 SELECT b.i, b.j, b.v - (SELECT lam FROM lam1) * vi.v * vj.v AS v
                 FROM bm b JOIN fv1 vi ON vi.i = b.i JOIN fv1 vj ON vj.i = b.j),
         v2seed AS (SELECT i, CAST(((i + 1) * 40503 + 7919) % 65536 AS DOUBLE) / 65536e0 - 0.5e0 AS v
                    FROM sidx),
         p2 AS (
           SELECT 0 AS iter, i, v FROM v2seed
           UNION ALL
           SELECT s.iter, s.i, s.w / sqrt(sum(s.w*s.w) OVER ()) AS v
           FROM (SELECT p.iter + 1 AS iter, b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                 FROM p2 p JOIN bm2 b ON b.j = p.i
                 WHERE p.iter < 500
                 GROUP BY p.iter, b.i) s),
         tail2 AS MATERIALIZED (SELECT iter, i, v FROM p2 WHERE iter >= 499),
         fv2 AS MATERIALIZED (SELECT i, v FROM tail2 WHERE iter = 500),
         pv2 AS MATERIALIZED (SELECT i, v FROM tail2 WHERE iter = 499),
         w2 AS (SELECT b.i AS i, sum(b.v * p.v ORDER BY b.j) AS w
                FROM bm2 b JOIN pv2 p ON p.i = b.j GROUP BY b.i),
         lam2 AS MATERIALIZED (
                  SELECT sum(x.vw ORDER BY x.i) AS lam
                  FROM (SELECT w2.i, p.v * w2.w AS vw
                        FROM w2 JOIN pv2 p ON p.i = w2.i) x),
         c1r AS MATERIALIZED (
                  SELECT f.i, f.v * sqrt(greatest((SELECT lam FROM lam1), 0e0)) AS c FROM fv1 f),
         c2r AS MATERIALIZED (
                  SELECT f.i, f.v * sqrt(greatest((SELECT lam FROM lam2), 0e0)) AS c FROM fv2 f),
         f1 AS (SELECT CASE WHEN (SELECT c FROM c1r ORDER BY abs(c) DESC, i ASC LIMIT 1) < 0
                            THEN -1e0 ELSE 1e0 END AS f),
         f2 AS (SELECT CASE WHEN (SELECT c FROM c2r ORDER BY abs(c) DESC, i ASC LIMIT 1) < 0
                            THEN -1e0 ELSE 1e0 END AS f)
         SELECT CAST(s.samp AS BIGINT) AS l_suppkey,
                round(c1r.c * (SELECT f FROM f1) + 1e-5, 2) + 0.0 AS c1,
                round(c2r.c * (SELECT f FROM f2) + 1e-5, 2) + 0.0 AS c2,
                round((SELECT lam FROM lam1) + 1e-5, 0) + 0.0 AS eig1,
                round((SELECT lam FROM lam2) + 1e-5, 0) + 0.0 AS eig2
         FROM sidx s JOIN c1r ON c1r.i = s.i JOIN c2r ON c2r.i = s.i
         ORDER BY 1""",

    "q58_probe_filter" ->
      """WITH annot AS (
           SELECT CAST(l_partkey AS VARCHAR) AS probeset,
                  CASE WHEN l_linenumber = 7 THEN '-'
                       WHEN l_partkey % 37 = 0
                         THEN 'G' || CAST(l_partkey AS VARCHAR) || 'x' || CAST(l_suppkey % 2 AS VARCHAR)
                       ELSE 'G' || CAST(l_partkey AS VARCHAR) END AS gene_id,
                  CASE WHEN l_linenumber = 7 THEN '-'
                       ELSE 'N' || CAST(l_partkey AS VARCHAR) END AS gene_short_name,
                  CASE WHEN l_quantity = 1 THEN '24=1X' ELSE '25=' END AS cigar,
                  CASE WHEN l_quantity = 50 THEN 2 ELSE 1 END AS gene_no
           FROM lineitem
         ), g AS (
           SELECT probeset,
                  count(DISTINCT gene_id) AS n_genes,
                  sum(CASE WHEN cigar <> '25=' OR gene_no <> 1 THEN 1 ELSE 0 END) AS bad_rows,
                  max(gene_id) AS gene_idD,
                  max(gene_short_name) AS gene_short_name
           FROM annot WHERE gene_id <> '-' GROUP BY 1
         )
         SELECT CAST(probeset AS BIGINT) AS probeset, gene_idD, gene_short_name
         FROM g WHERE n_genes = 1 AND bad_rows <= 1
         ORDER BY probeset""",

    "q55_decide_tests" ->
      """WITH p AS (
           SELECT l_orderkey, l_linenumber,
                  ((l_orderkey * 131 + l_linenumber * 7919) % 9973) / 9973.0 AS p,
                  CAST(((l_orderkey * 7) % 21) - 10 AS DOUBLE) AS log2fc
           FROM lineitem
         ), ranked AS (
           SELECT *, count(*) OVER () AS n,
                  row_number() OVER (ORDER BY p ASC, l_orderkey ASC, l_linenumber ASC) AS rk
           FROM p
         ), adj AS (
           SELECT log2fc,
                  least(1.0, min(p * n / rk) OVER
                    (ORDER BY p ASC, l_orderkey ASC, l_linenumber ASC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
           FROM ranked
         ) SELECT CAST(CASE WHEN p_bh < 0.4 AND abs(log2fc) > 3.0
                            THEN CASE WHEN log2fc > 0 THEN 1 WHEN log2fc < 0 THEN -1 ELSE 0 END
                            ELSE 0 END AS INT) AS sig,
                  count(*) AS n
           FROM adj GROUP BY 1""",

    "q56_contrasts" ->
      (contrastSql("A", "N") + "\nUNION ALL\n" + contrastSql("A", "R") +
       "\nUNION ALL\n" + contrastSql("N", "R")),

    "q28_melt" ->
      """WITH wide AS (
           SELECT l_partkey,
             round(coalesce(sum(CASE WHEN l_returnflag='R' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_r,
             round(coalesce(sum(CASE WHEN l_returnflag='A' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_a,
             round(coalesce(sum(CASE WHEN l_returnflag='N' THEN l_quantity END), 0) + 1e-5, 2) + 0.0 AS qty_n
           FROM lineitem GROUP BY 1
         )
         SELECT l_partkey, 'qty_r' AS sample_id, qty_r AS value FROM wide
         UNION ALL
         SELECT l_partkey, 'qty_a' AS sample_id, qty_a AS value FROM wide
         UNION ALL
         SELECT l_partkey, 'qty_n' AS sample_id, qty_n AS value FROM wide""",

    "q29_zero_partition" ->
      """WITH sums AS (
           SELECT l_partkey, sum(abs(l_discount)) AS s FROM lineitem GROUP BY 1
         )
         SELECT 'nonzero' AS branch, count(*) AS n FROM sums WHERE s <> 0
         UNION ALL
         SELECT 'zero' AS branch, count(*) AS n FROM sums WHERE s = 0""",

    "q41_replicate_renumber" ->
      """SELECT o_orderkey, o_orderpriority AS dataset,
                o_custkey % 100 AS replicate,
                CAST(dense_rank() OVER (ORDER BY o_orderpriority ASC, o_custkey % 100 ASC) AS INT)
                  AS replicate_global
         FROM orders""",

    "q42_dedup_first" ->
      """WITH ranked AS (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
           FROM orders
         ) SELECT o_custkey, o_orderkey FROM ranked WHERE rn = 1""",

    "q48_idr" ->
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
         ), sized AS (
           SELECT l_partkey, dstar,
                  1.0/na + 1.0/nb + dstar*dstar / (2*(na+nb)) AS sigmad,
                  1.0 / (1.0/na + 1.0/nb + dstar*dstar / (2*(na+nb))) AS w
           FROM star
         ), per_gene AS (
           SELECT l_partkey,
                  max(abs(dstar / sqrt(sigmad))) AS z_max_single,
                  count(*) AS k,
                  (sum(w*dstar)/sum(w)) * sqrt(sum(w)) AS z_comb
           FROM sized GROUP BY 1 HAVING count(*) > 1
         )
         SELECT CAST(t.t AS DOUBLE) AS t,
                CAST(coalesce(sum(CASE WHEN abs(z_comb) >= t.t
                                        AND abs(z_max_single) < t.t
                                   THEN 1 END), 0) AS BIGINT) AS idr_count
         FROM per_gene CROSS JOIN (VALUES (0.5), (1.0), (1.5), (2.0), (2.5), (3.0)) t(t)
         GROUP BY 1""",

    "q50_hist" ->
      """WITH bounds AS (
           SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
         )
         SELECT CAST(least(19, floor((l_extendedprice - lo) / ((hi - lo) / 20.0))) AS INT) AS bucket,
                count(*) AS n
         FROM lineitem CROSS JOIN bounds
         GROUP BY 1""",

    "q52_percent_rank" ->
      """WITH sd AS (
           SELECT l_partkey, round(stddev_samp(l_extendedprice) + 1e-5, 2) + 0.0 AS sd_price
           FROM lineitem GROUP BY 1
         ), pr AS (
           SELECT l_partkey, sd_price,
                  round(percent_rank() OVER (ORDER BY sd_price ASC, l_partkey ASC) + 1e-9, 6) + 0.0 AS pr
           FROM sd WHERE sd_price IS NOT NULL
         ) SELECT l_partkey, sd_price, pr FROM pr WHERE pr >= 0.5""",
  )
}
