package graft.operators

import graft.functions.{SampleSheet, StatKernels}
import graft.model.{ExpressionMatrix, RelCache}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential-expression operators — SURVEY.md §2.4 A11–A13.
  *
  * The reference fits limma's per-gene linear model with a cell-means
  * design (`~0+group`, `DiffExpression_closedPlatform.R:474-543`), so
  * β̂ per group is the group mean and the residual variance is the
  * pooled within-group variance — everything is `groupBy(gene, group)`
  * algebra until eBayes, whose two hyperparameters (d0, s0²) come from
  * a method-of-moments fit over the per-gene variances (Smyth 2004).
  * That fit needs two scalar moments of log s² — computed as one tiny
  * aggregate, not a collect of per-gene data.
  *
  * Sample sheets (groups, array weights, replicate units) enter as
  * driver-side [[graft.functions.SampleSheet]] lookups, not joins: a
  * cell relation never exchanges or broadcasts against a sheet.
  */
object DiffExpr {

  /** Per-(gene, group) sufficient statistics: the whole lmFit input. */
  def groupStats(m: ExpressionMatrix, groups: DataFrame,
      groupCol: String = "group"): DataFrame =
    SampleSheet.collect(groups, "groups", Seq(groupCol), m.sample).attach(m.df, m.sample)
      .groupBy(m.geneCol, col(groupCol))
      .agg(count(m.valueCol).as("n"), avg(m.valueCol).as("mean"),
           var_samp(m.valueCol).as("var"))

  /** A14 wiring — per-(gene, group) sufficient statistics under array
    * quality weights (`DiffExpression_closedPlatform.R:456-507`: limma
    * runs `lmFit(eset, design, weights=arrayw, ...)`). Weighted mean,
    * the unbiased weighted variance Σw(x−μ̂)²/(Σw − Σw²/Σw), and the
    * Kish effective sample size n_eff = (Σw)²/Σw² in place of n, so
    * noisy arrays shrink both the estimate and its evidence. Output is
    * schema-compatible with [[groupStats]] — drop-in for
    * [[welchT]]/[[moderatedT]]. */
  def groupStatsWeighted(m: ExpressionMatrix, groups: DataFrame, weights: DataFrame,
      groupCol: String = "group"): DataFrame =
    SampleSheet.collect(weights, "weights", Seq("weight")).attach(
      SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(m.canonical.df))
      .groupBy(col("gene_id"), col(groupCol))
      .agg(sum("weight").as("__sw"), sum(col("weight") * col("weight")).as("__sw2"),
           sum(col("weight") * col("value")).as("__swx"),
           sum(col("weight") * col("value") * col("value")).as("__swx2"))
      .withColumn("mean", col("__swx") / col("__sw"))
      // single-observation cells have zero weighted-variance df
      // (Σw − Σw²/Σw = 0): NULL, matching var_samp's n=1 semantics
      .withColumn("var",
        when(col("__sw") - col("__sw2") / col("__sw") > 0,
          (col("__swx2") - col("__swx") * col("__swx") / col("__sw")) /
            (col("__sw") - col("__sw2") / col("__sw"))))
      .withColumn("n", col("__sw") * col("__sw") / col("__sw2"))
      .select(col("gene_id"), col(groupCol), col("n"), col("mean"), col("var"))

  /** A15 wiring — per-(gene, group) sufficient statistics under
    * per-OBSERVATION precision weights (limma voom: `lmFit(v$E,
    * design, weights = v$weights)`,
    * `DiffExpression_openPlatform.R:442-457`). Same Kish effective-n
    * algebra as [[groupStatsWeighted]] with the weight varying per
    * cell. Input `vw` is the [[graft.operators.Normalize.voom]] output
    * (gene_id, sample_id, value, weight); output is schema-compatible
    * with [[groupStats]] — drop-in for [[welchT]]/[[moderatedT]]. */
  def groupStatsObsWeighted(vw: DataFrame, groups: DataFrame,
      groupCol: String = "group"): DataFrame =
    SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(vw)
      .groupBy(col("gene_id"), col(groupCol))
      .agg(sum("weight").as("__sw"), sum(col("weight") * col("weight")).as("__sw2"),
           sum(col("weight") * col("value")).as("__swx"),
           sum(col("weight") * col("value") * col("value")).as("__swx2"))
      .withColumn("mean", col("__swx") / col("__sw"))
      // single-observation cells: NULL var (see groupStatsWeighted)
      .withColumn("var",
        when(col("__sw") - col("__sw2") / col("__sw") > 0,
          (col("__swx2") - col("__swx") * col("__swx") / col("__sw")) /
            (col("__sw") - col("__sw2") / col("__sw"))))
      .withColumn("n", col("__sw") * col("__sw") / col("__sw2"))
      .select(col("gene_id"), col(groupCol), col("n"), col("mean"), col("var"))

  /** A14×A15 — combined precision weights. When limma gets both
    * `arrayWeights` and voom weights it multiplies them per
    * observation (`lmFit(..., weights = w)` with
    * `w = voom$weights * matrix(arrayw, nrow=G, ncol=n, byrow=TRUE)`):
    * w_gj = obsW_gj · arrayW_j. Either side at unit weight degrades to
    * the other (KernelSpec property). `obsW` is a voom-shaped relation
    * (gene_id, sample_id, value, weight); `arrayW` is sample-keyed
    * (sample_id, weight). Output is voom-shaped — drop-in for
    * [[groupStatsObsWeighted]]. */
  def combineObsWeights(obsW: DataFrame, arrayW: DataFrame): DataFrame = {
    val aw = SampleSheet.collect(arrayW, "array weights", Seq("weight"))
    obsW.filter(aw.contains(col("sample_id")))
      .withColumn("weight", col("weight") * aw("weight", col("sample_id")))
  }

  /** A11 blocking wiring, fast approximation (the exact fit is
    * [[groupStatsGlsObs]], which the chains use): each group's sample
    * size deflates by Kish's design effect 1 + (m̄−1)ρ for m̄ technical
    * replicates per biological unit. Kept for callers who want the
    * one-line design-effect adjustment; diverges from limma's
    * gls.series when block sizes are unbalanced. */
  def deflateForBlocking(stats: DataFrame, rho: Double, repsPerUnit: Double): DataFrame = {
    val deff = math.max(1.0, 1.0 + (repsPerUnit - 1.0) * rho)
    stats.withColumn("n", col("n") / lit(deff))
  }

  /** A11 blocking — EXACT GLS sufficient statistics (limma
    * `gls.series`: `lmFit(..., block=, correlation=corfit$consensus)`,
    * `DiffExpression_closedPlatform.R:489-507` /
    * `DiffExpression_openPlatform.R:457-475`). The model per gene is
    * y ~ N(Xβ, σ²V) with V_ij = R_ij/√(w_i w_j), R block-diagonal
    * compound symmetry with the consensus ρ, and w the per-observation
    * precision weights (array weights and/or voom weights). limma
    * whitens by chol(V) and runs OLS; for a cell-means design with
    * blocks NESTED IN GROUPS (technical replicates share their
    * biological unit's group — the operator's contract) the whitened
    * normal equations collapse to closed-form per-block algebra via
    * CS⁻¹ = (I − ρ/(1+(m−1)ρ)·J)/(1−ρ):
    *
    *   A_b = uᵀR⁻¹u,  B_b = uᵀR⁻¹v,  C_b = vᵀR⁻¹v
    *   (u = √w, v = √w·y — six sums per (gene, unit))
    *
    * summed per (gene, group): β̂_c = B/A (the GLS mean), the scaled
    * information A_c (limma's 1/stdev.unscaled², exposed as `n` so the
    * t's SE term 1/na + 1/nb is exact), the residual sum C − B²/A,
    * and the TRUE observation count `n_obs` (limma's σ̂² divides by
    * N − k, not by effective n — [[moderatedT]]/[[moderatedTAll]] use
    * `n_obs` for df whenever the column is present). ρ = 0 and
    * singleton blocks degrade to the weighted OLS fit exactly.
    *
    * `vw` is an observation-grain relation (gene_id, sample_id,
    * value, weight) — join gene-constant array weights in, or pass
    * the voom output directly; `replicates` maps sample_id → unit
    * (samples missing from it become singleton units). Both sheets
    * are driver lookups, checked there: a duplicate sample_id, or a
    * unit spanning two groups (which breaks the nested-blocks premise
    * of the closed-form CS algebra), fails with a named `require`
    * instead of producing plausible but wrong statistics. Two keyed
    * shuffles: (gene, group, unit) then (gene, group). */
  def groupStatsGlsObs(vw: DataFrame, groups: DataFrame, replicates: DataFrame,
      rho: Double, groupCol: String = "group"): DataFrame = {
    require(rho > -1.0 && rho < 1.0, s"consensus rho must be in (-1, 1), got $rho")
    val g = SampleSheet.collect(groups, "groups", Seq(groupCol))
    val reps = SampleSheet.collect(replicates, "replicates", Seq("unit"))
    locally {
      val units = reps.values("unit").toSeq.collect { case (s, u) if u != null =>
        u -> g.values(groupCol).get(s).filter(_ != null) }
      val spanning = units.groupBy(_._1).collect {
        case (u, gs) if gs.flatMap(_._2).distinct.size > 1 => u.toString }.toSeq.sorted
      require(spanning.isEmpty,
        s"a replicate unit spans more than one $groupCol (${spanning.take(3).mkString(", ")})" +
          " — blocks must be nested in groups")
    }
    val withUnit = g.attach(vw)
      .withColumn("unit", coalesce(reps("unit", col("sample_id")),
        concat(lit("__self_"), col("sample_id"))))
    val perUnit = withUnit.groupBy(col("gene_id"), col(groupCol), col("unit"))
      .agg(count(lit(1)).as("__m"),
           sum("weight").as("__sw"),
           sum(sqrt(col("weight"))).as("__su"),
           sum(col("weight") * col("value")).as("__swy"),
           sum(sqrt(col("weight")) * col("value")).as("__suy"),
           sum(col("weight") * col("value") * col("value")).as("__swyy"))
      .withColumn("__kb", lit(1.0) + (col("__m") - 1) * lit(rho))
      .withColumn("__ab",
        (col("__sw") - lit(rho) * col("__su") * col("__su") / col("__kb")) / lit(1.0 - rho))
      .withColumn("__bb",
        (col("__swy") - lit(rho) * col("__su") * col("__suy") / col("__kb")) / lit(1.0 - rho))
      .withColumn("__cb",
        (col("__swyy") - lit(rho) * col("__suy") * col("__suy") / col("__kb")) / lit(1.0 - rho))
    perUnit.groupBy(col("gene_id"), col(groupCol))
      .agg(sum("__m").as("n_obs"), sum("__ab").as("__a"),
           sum("__bb").as("__b"), sum("__cb").as("__c"))
      .withColumn("mean", col("__b") / col("__a"))
      // a single-observation group has no residual df: NULL var, the
      // groupStatsWeighted convention
      .withColumn("var", when(col("n_obs") > 1,
        (col("__c") - col("__b") * col("__b") / col("__a")) / (col("n_obs") - 1)))
      .select(col("gene_id"), col(groupCol), col("__a").as("n"), col("n_obs"),
        col("mean"), col("var"))
  }

  /** A11+A12-lite — two-group contrast via Welch's t-test: log2FC =
    * meanA − meanB, t from unpooled variances, Welch–Satterthwaite df,
    * two-sided p. Matches the reference's contrast semantics for a
    * single pairwise comparison without variance moderation. */
  def welchT(stats: DataFrame, groupCol: String, groupA: String, groupB: String,
      gene: String = "gene_id"): DataFrame = {
    val a = stats.filter(col(groupCol) === groupA)
      .select(col(gene), col("n").as("na"), col("mean").as("ma"), col("var").as("va"))
    val b = stats.filter(col(groupCol) === groupB)
      .select(col(gene), col("n").as("nb"), col("mean").as("mb"), col("var").as("vb"))
    // genes with zero variance in both groups are untestable (the
    // reference drops them via the F4 zero-variance filter); guard here
    // too so ANSI mode never divides by zero
    val j = a.join(b, Seq(gene))
      .filter(col("na") > 1 && col("nb") > 1 && (col("va") + col("vb")) > 0)
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    val df = (se2 * se2) /
      ((col("va") / col("na")) * (col("va") / col("na")) / (col("na") - 1) +
       (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1))
    j.select(col(gene), (col("ma") - col("mb")).as("log2fc"),
        ((col("ma") - col("mb")) / sqrt(se2)).as("t"), df.as("df"))
      .withColumn("p", graft.functions.StatFunctions.tP2(col("t"), col("df")))
  }

  /** A12 — moderated t (limma eBayes). Pools per-gene residual
    * variances: pooled s² per gene over all groups, then shrinks
    * toward s0² with prior df d0 estimated by method of moments on
    * log s² (Smyth 2004 §6; `DiffExpression_closedPlatform.R:546`).
    * Returns per-gene (log2fc, t_mod, df_total, p_mod) for contrast
    * groupA − groupB. The hyperparameter fit aggregates two scalars —
    * no per-gene collect. */
  def moderatedT(stats: DataFrame, groupCol: String, groupA: String, groupB: String,
      gene: String = "gene_id"): DataFrame =
    moderatedTFit(stats, groupCol, groupA, groupB, gene)._1

  /** A12 + A13 fused — the limma chain's `eBayes` then `topTable`
    * (`DiffExpression_closedPlatform.R:546,600`): [[moderatedT]] with
    * `p_mod` named `p`, BH-adjusted into `p_bh` and sorted by p, i.e.
    * `topTable(moderatedT(...).withColumnRenamed("p_mod", "p"))`. The
    * eBayes moment collect also counts the genes, so BH runs with that
    * n (the [[bhWindow]] program, or the stitch above
    * `spark.graft.bh.smallThreshold`) and needs no hold or count job of
    * its own. */
  def moderatedTopTable(stats: DataFrame, groupCol: String, groupA: String,
      groupB: String, gene: String = "gene_id"): DataFrame = {
    val (mt, n) = moderatedTFit(stats, groupCol, groupA, groupB, gene)
    bhWithCount(mt.withColumnRenamed("p_mod", "p"), "p", Seq(col(gene)), n, "p_bh")
      .orderBy(col("p").asc, col(gene).asc)
  }

  /** [[moderatedT]] and its gene count, from one moment collect. */
  private def moderatedTFit(stats: DataFrame, groupCol: String, groupA: String,
      groupB: String, gene: String): (DataFrame, Long) = {
    // GLS stats ([[groupStatsGlsObs]]) carry the true observation
    // count separately from the effective information `n`: df comes
    // from observations (limma's N − k), the SE term from `n`
    val nDf = if (stats.columns.contains("n_obs")) col("n_obs") else col("n")
    // gene-grain bounded, and read twice (the moment collect below,
    // then the returned plan): the hold runs the stats lineage (for
    // the chains: the whole upstream fit) once
    val perGene = RelCache.hold("diffexpr.moderatedt.pergene",
      stats.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(gene))
      .agg(sum(nDf).as("n_tot"), count(lit(1)).as("k"),
           sum((nDf - 1) * col("var")).as("ss_resid"),
           max(when(col(groupCol) === groupA, col("mean"))).as("ma"),
           max(when(col(groupCol) === groupB, col("mean"))).as("mb"),
           max(when(col(groupCol) === groupA, col("n"))).as("na"),
           max(when(col(groupCol) === groupB, col("n"))).as("nb"))
      .filter(col("k") === 2 && col("n_tot") > 2 && col("ma").isNotNull && col("mb").isNotNull)
      .withColumn("df_resid", col("n_tot") - 2)
      .withColumn("s2", col("ss_resid") / col("df_resid"))
      .filter(col("s2") > 0))
    // method-of-moments on z = log(s2): E[z] and Var[z] give (d0, s0),
    // plus the gene count. Null-guarded: an empty perGene (every gene
    // filtered) leaves all three moments NULL, and a single gene
    // leaves zvar NULL — both degrade to the d0 = 1e6 branch over
    // however many rows remain instead of an opaque NPE.
    val moments = perGene
      .select(avg(log(col("s2"))).as("zbar"), var_samp(log(col("s2"))).as("zvar"),
              avg(col("df_resid").cast("double")).as("dbar"), count(lit(1)).as("n"))
      .collect()(0)
    val zbar = if (moments.isNullAt(0)) 0.0 else moments.getDouble(0)
    val zvar = if (moments.isNullAt(1)) 0.0 else moments.getDouble(1)
    val dbar = if (moments.isNullAt(2)) 1.0 else moments.getDouble(2)
    // Var[log s2] = trigamma(d/2) + trigamma(d0/2) => d0 via trigamma inverse
    val evar = zvar - StatKernels.trigamma(dbar / 2.0)
    val d0 = if (evar > 0) 2.0 * StatKernels.trigammaInverse(evar) else 1e6
    // limma fitFDist: log s0² = ē + ψ(d0/2) − log(d0/2) with
    // ē = mean(log s²) − ψ(d/2) + log(d/2) — i.e. the ratio inside the
    // log is d/d0, not d0/d (Smyth 2004 eq. 3; sign error here
    // previously inflated s0² by (d0/d)² and zeroed every moderated t)
    val s02 = math.exp(zbar + StatKernels.digamma(d0 / 2.0) - StatKernels.digamma(dbar / 2.0) +
      math.log(dbar / d0))
    val mt = perGene
      .withColumn("s2_post", (lit(d0) * lit(s02) + col("df_resid") * col("s2")) / (lit(d0) + col("df_resid")))
      .withColumn("log2fc", col("ma") - col("mb"))
      .withColumn("t_mod", col("log2fc") / sqrt(col("s2_post") * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
      .withColumn("df_total", col("df_resid") + lit(d0))
      .withColumn("p_mod", graft.functions.StatFunctions.tP2(col("t_mod"), col("df_total")))
      .select(col(gene), col("log2fc"), col("t_mod"), col("df_total"), col("p_mod"))
    (mt, moments.getLong(3))
  }

  /** A12 multi-contrast — the reference fits ALL C(k,2) pairwise
    * contrasts per invocation (`combn` + `makeContrasts` +
    * `contrasts.fit` + `eBayes`,
    * `DiffExpression_closedPlatform.R:511-556` and the identical block
    * in `DiffExpression_openPlatform.R:485-515`): ONE cell-means fit
    * over all k groups (per-gene residual df = n − k pooled across
    * every group), ONE eBayes method-of-moments fit, and every
    * pairwise contrast shares the same posterior variance s²_post.
    * Contrast names follow the reference's `paste(a, b, sep="vs")`
    * over the sorted group levels (R factor level order).
    *
    * Output: (gene, contrast, log2fc, t_mod, df_total, p_mod) — one
    * row per gene per contrast. The group-label set is
    * reference-bounded, so the pair relation broadcasts; everything
    * else is the same keyed aggregation as [[moderatedT]]. */
  def moderatedTAll(stats: DataFrame, groupCol: String = "group",
      gene: String = "gene_id"): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    // see moderatedT: GLS stats split df (n_obs) from information (n)
    val nDf = if (stats.columns.contains("n_obs")) col("n_obs") else col("n")
    // see moderatedT: two executions (moments collect + output plan)
    val perGene = RelCache.hold("diffexpr.moderatedtall.pergene",
      stats
      .groupBy(col(gene))
      .agg(sum(nDf).as("n_tot"), count(lit(1)).as("k"),
           sum((nDf - 1) * col("var")).as("ss_resid"))
      .filter(col("n_tot") > col("k"))
      .withColumn("df_resid", col("n_tot") - col("k"))
      .withColumn("s2", col("ss_resid") / col("df_resid"))
      .filter(col("s2") > 0))
    // null-guarded like moderatedT: empty/single-gene moment rows
    // degrade to the d0 = 1e6 branch instead of an NPE
    val moments = perGene
      .select(avg(log(col("s2"))).as("zbar"), var_samp(log(col("s2"))).as("zvar"),
              avg(col("df_resid").cast("double")).as("dbar"))
      .collect()(0)
    val zbar = if (moments.isNullAt(0)) 0.0 else moments.getDouble(0)
    val zvar = if (moments.isNullAt(1)) 0.0 else moments.getDouble(1)
    val dbar = if (moments.isNullAt(2)) 1.0 else moments.getDouble(2)
    val evar = zvar - StatKernels.trigamma(dbar / 2.0)
    val d0 = if (evar > 0) 2.0 * StatKernels.trigammaInverse(evar) else 1e6
    val s02 = math.exp(zbar + StatKernels.digamma(d0 / 2.0) - StatKernels.digamma(dbar / 2.0) +
      math.log(dbar / d0))
    val labels = stats.select(col(groupCol)).distinct()
      .collect().map(_.getString(0)).sorted
    val pairs = labels.combinations(2).collect { case Array(a, b) => (a, b, s"${a}vs$b") }.toSeq
    val pairsDf = broadcast(pairs.toDF("__ga", "__gb", "contrast"))
    val sa = stats.select(col(gene), col(groupCol).as("__ga"),
      col("n").as("na"), col("mean").as("ma"))
    val sb = stats.select(col(gene), col(groupCol).as("__gb"),
      col("n").as("nb"), col("mean").as("mb"))
    perGene
      .withColumn("s2_post",
        (lit(d0) * lit(s02) + col("df_resid") * col("s2")) / (lit(d0) + col("df_resid")))
      .crossJoin(pairsDf)
      .join(sa, Seq(gene, "__ga"))
      .join(sb, Seq(gene, "__gb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("log2fc", col("ma") - col("mb"))
      .withColumn("t_mod", col("log2fc") /
        sqrt(col("s2_post") * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
      .withColumn("df_total", col("df_resid") + lit(d0))
      .withColumn("p_mod", graft.functions.StatFunctions.tP2(col("t_mod"), col("df_total")))
      .select(col(gene), col("contrast"), col("log2fc"), col("t_mod"),
        col("df_total"), col("p_mod"))
  }

  /** A11 blocking — duplicateCorrelation, exact REML estimator
    * (`DiffExpression_closedPlatform.R:489-507`, limma
    * `duplicateCorrelation`). Per gene, the mixed model
    * y = group + unit_random + ε is fitted by REML; for (near-)
    * balanced technical-replicate layouts the REML estimates equal
    * the ANOVA between/within decomposition on the fixed-effect
    * residuals (a classical identity), so the per-gene fit is pure
    * keyed aggregation: σ̂u² = (MSB − MSW)/m̄, ρ_g = σ̂u²/(σ̂u² + MSW),
    * consensus = tanh(mean Fisher-z) exactly as limma combines genes.
    * `replicates` maps sample_id → (unit, rep); `groups` supplies the
    * fixed effect. Fully distributed: one shuffle per keyed step (the
    * cell means are a (gene, group) window, not a join back), only the
    * scalar consensus leaves the cluster. */
  def duplicateCorrelationReml(m: ExpressionMatrix, replicates: DataFrame,
      groups: DataFrame, groupCol: String = "group"): (DataFrame, Double) = {
    val joined = SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(
      SampleSheet.collect(replicates, "replicates", Seq("unit")).attach(m.canonical.df))
    // gene×sample bounded; referenced by BOTH the unit decomposition
    // and the per-gene group count below — persist or the cell-mean
    // lineage executes twice (round 17). A cell with a null gene or
    // group has no cell mean and drops (equi-join semantics).
    val resid = RelCache.hold("diffexpr.dupcorr.resid",
      joined.filter(col("gene_id").isNotNull && col(groupCol).isNotNull)
        .withColumn("__e", col("value") -
          avg("value").over(Window.partitionBy(col("gene_id"), col(groupCol)))))
    val unit = resid.groupBy(col("gene_id"), col("unit"))
      .agg(avg("__e").as("__eu"), count(lit(1)).as("__m"),
           sum(col("__e") * col("__e")).as("__se2"))
    val perGene = unit.groupBy("gene_id")
      .agg(count(lit(1)).as("__nu"),
           sum("__m").as("__n"),
           avg(col("__m").cast("double")).as("__mbar"),
           sum(col("__m") * col("__eu") * col("__eu")).as("__ssb"),
           (sum("__se2") - sum(col("__m") * col("__eu") * col("__eu"))).as("__ssw"))
      .join(resid.groupBy("gene_id").agg(countDistinct(groupCol).as("__p")), Seq("gene_id"))
      .filter(col("__n") - col("__nu") > 0 && col("__nu") - col("__p") > 0)
      .withColumn("__msw", col("__ssw") / (col("__n") - col("__nu")))
      .withColumn("__msb", col("__ssb") / (col("__nu") - col("__p")))
      .filter(col("__msw") > 0)
      .withColumn("__su2", (col("__msb") - col("__msw")) / col("__mbar"))
      .withColumn("r",
        greatest(lit(-0.999), least(lit(0.999),
          col("__su2") / (col("__su2") + col("__msw")))))
      .select(col("gene_id"), col("r"))
    val consensus = perGene
      .agg(avg(lit(0.5) * log((lit(1.0) + col("r")) / (lit(1.0) - col("r")))))
      .head().getDouble(0)
    (perGene, math.tanh(consensus))
  }

  /** A11 blocking — duplicateCorrelation
    * (`DiffExpression_closedPlatform.R:489-507`, limma
    * `duplicateCorrelation`): consensus intra-replicate correlation.
    * Fast approximation (the exact estimator is
    * [[duplicateCorrelationReml]], which the E1 chain uses):
    * per gene, the Pearson correlation across biological units between
    * technical replicate 1 and 2 values; consensus = tanh of the mean
    * Fisher z over genes. `replicates` maps sample_id → (unit, rep).
    * One aggregation per step, fully distributed until the scalar. */
  def duplicateCorrelation(m: ExpressionMatrix, replicates: DataFrame): (DataFrame, Double) = {
    val wide = SampleSheet.collect(replicates, "replicates", Seq("unit", "rep"))
      .attach(m.canonical.df)
      .groupBy(col("gene_id"), col("unit"))
      .agg(max(when(col("rep") === 1, col("value"))).as("v1"),
           max(when(col("rep") === 2, col("value"))).as("v2"))
      .filter(col("v1").isNotNull && col("v2").isNotNull)
    val perGene = wide.groupBy("gene_id")
      .agg(corr("v1", "v2").as("r"), count(lit(1)).as("n_units"))
      .filter(col("r").isNotNull && abs(col("r")) < 1.0)
    val consensus = perGene
      .agg(avg(lit(0.5) * log((lit(1.0) + col("r")) / (lit(1.0) - col("r")))))
      .head().getDouble(0)
    (perGene, math.tanh(consensus))
  }

  /** A14 — array quality weights, exact REML estimator (Ritchie 2006;
    * `DiffExpression_closedPlatform.R:456-464`, limma `arrayWeights`).
    * Heteroscedastic model y_gj ~ N(μ_{g,c(j)}, σ_g²/w_j); the REML
    * score equation for array j (profiling the per-gene σ_g²) is
    *
    *   w_j · Σ_g e_gj²/s_g²  =  Σ_g (1 − h_gj)
    *
    * with e the WLS residual, h_gj = w_j/Σ_{j'∈c} w_{j'} the leverage
    * and s_g² = Σ_j w_j e_gj²/(n_g − p_g) the REML variance. Solved by
    * the natural fixed point w_j ← (Σ(1−h) + n₀)/(Σ(e²/s²) + n₀),
    * normalised to mean 1 each sweep — at convergence the (penalised)
    * score equations hold exactly, i.e. the REML stationary point
    * (verified in IccSpec against direct numerical maximisation of the
    * restricted likelihood on a fixture at priorN = 0). `priorN`
    * mirrors limma's `prior.n = 10` default: each array's variance
    * estimate is squeezed toward equality as if by n₀ unit-weight
    * pseudo-genes — without it, an array observed in very few genes
    * gets a self-referential one-observation weight whose fixed point
    * amplifies float noise without bound.
    *
    * Execution shape: the (gene, sample) relation shuffles ONCE into a
    * compact per-gene column triplet (sample idx, group idx, value) —
    * per-gene rows are cohort-bounded, the same contract as the ICC
    * and logistic kernels — and every sweep is then a single
    * shuffle-free job: broadcast the array-bounded weight vector, map
    * each gene's score contributions, `treeAggregate` two
    * samples-sized vectors to the driver. 5 sweeps = 5 jobs with zero
    * exchanges, instead of 4 shuffle rounds per sweep. */
  def arrayWeightsReml(m: ExpressionMatrix, groups: DataFrame,
      groupCol: String = "group", maxIter: Int = 50, tol: Double = 1e-8,
      priorN: Double = 10.0): DataFrame = {
    val spark = m.df.sparkSession
    import spark.implicits._
    val base = SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(m.canonical.df)
      .select(col("gene_id"), col("sample_id"), col(groupCol).as("__grp"), col("value"))
    val keys = base.groupBy("sample_id", "__grp").count()
      .select("sample_id", "__grp").collect()
    val sampleIds = keys.map(_.getString(0)).distinct.sorted
    val grpIds = keys.map(_.getString(1)).distinct.sorted
    val nS = sampleIds.length
    val bcIdx = spark.sparkContext.broadcast(
      (sampleIds.zipWithIndex.toMap, grpIds.zipWithIndex.toMap))
    // one shuffle: gene-keyed compact arrays, then every sweep is local
    val compact = base.as[(String, String, String, Double)]
      .groupByKey(_._1)
      .mapGroups { (_, it) =>
        val (sIdx, gIdx) = bcIdx.value
        val rows = it.toArray
        (rows.map(r => sIdx(r._2)), rows.map(r => gIdx(r._3)), rows.map(_._4))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nG = grpIds.length
    var w = sampleIds.map(_ -> 1.0).toMap
    var iter = 0
    var delta = Double.MaxValue
    // depth-1 tree (= direct aggregate) while the partition count is
    // modest: depth 2 inserts a shuffle level per sweep, which at ≤64
    // partitions only adds a stage + job to every iteration (round
    // 17); the vectors are samples-bounded either way, and huge
    // partition counts (true cluster scale) keep the tree
    val aggDepth = if (compact.rdd.getNumPartitions <= 64) 1 else 2
    while (iter < maxIter && delta > tol) {
      val bcW = spark.sparkContext.broadcast(sampleIds.map(w))
      val ab = compact.rdd.treeAggregate(null: Array[Double])(
        (acc0, g) => {
          val acc = if (acc0 == null) new Array[Double](2 * nS) else acc0
          val (ss, gg, vv) = g
          val wv = bcW.value
          val sw = new Array[Double](nG)
          val swy = new Array[Double](nG)
          var i = 0
          while (i < ss.length) {
            sw(gg(i)) += wv(ss(i)); swy(gg(i)) += wv(ss(i)) * vv(i); i += 1
          }
          var p = 0
          var k = 0
          while (k < nG) { if (sw(k) > 0) p += 1; k += 1 }
          val d = ss.length - p
          if (d > 0) {
            var swe2 = 0.0
            i = 0
            while (i < ss.length) {
              val e = vv(i) - swy(gg(i)) / sw(gg(i))
              swe2 += wv(ss(i)) * e * e
              i += 1
            }
            val s2 = swe2 / d
            if (s2 > 0) {
              i = 0
              while (i < ss.length) {
                val e = vv(i) - swy(gg(i)) / sw(gg(i))
                acc(ss(i)) += e * e / s2
                acc(nS + ss(i)) += 1.0 - wv(ss(i)) / sw(gg(i))
                i += 1
              }
            }
          }
          acc
        },
        (a, b) =>
          if (a == null) b else if (b == null) a
          else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = aggDepth)
      bcW.destroy()
      val wRaw = sampleIds.zipWithIndex.map { case (s, i) =>
        val (a, b) = if (ab == null) (0.0, 0.0) else (ab(i), ab(nS + i))
        s -> (if (a + priorN > 1e-300 && b + priorN > 0)
          math.max((b + priorN) / (a + priorN), 1e-6) else w(s))
      }.toMap
      val mean = wRaw.values.sum / wRaw.size
      val wNew = wRaw.map { case (s, v) => s -> v / mean }
      delta = sampleIds.map(s => math.abs(wNew(s) - w(s))).max
      w = wNew
      iter += 1
    }
    compact.unpersist(blocking = false)
    sampleIds.map(s => (s, w(s))).toSeq.toDF("sample_id", "weight")
  }

  /** A14 — array quality weights, fast single-pass approximation (the
    * exact estimator is [[arrayWeightsReml]], which the E1 chain
    * uses): each array's weight is the inverse of its mean squared
    * residual from the per-(gene, group) means, normalised to mean 1 —
    * the same "noisy arrays count less" contract, one aggregation
    * pass. */
  def arrayWeights(m: ExpressionMatrix, groups: DataFrame,
      groupCol: String = "group"): DataFrame = {
    val withGroup = SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(m.canonical.df)
    val cellMeans = withGroup.groupBy("gene_id", groupCol)
      .agg(avg("value").as("__mu"))
    val resid = withGroup.join(cellMeans, Seq("gene_id", groupCol))
      .withColumn("__r2", (col("value") - col("__mu")) * (col("value") - col("__mu")))
      .groupBy("sample_id").agg(avg("__r2").as("msr"))
      .withColumn("__w_raw", lit(1.0) / greatest(col("msr"), lit(1e-12)))
    val meanW = resid.agg(avg("__w_raw")).head().getDouble(0)
    resid.select(col("sample_id"), (col("__w_raw") / meanW).as("weight"))
  }

  /** The Benjamini–Hochberg window program, once for every BH entry
    * point: within each `partCols` partition rank p ascending
    * (deterministic tiebreak), candidate = p·n/rank, adjusted = running
    * minimum of candidates from the current row to the largest p,
    * capped at 1. `n` is the test count per partition (a window count
    * or a driver literal). */
  private[graft] def bhWindow(df: DataFrame, p: String, partCols: Seq[Column],
      tiebreak: Seq[Column], n: Column, out: String): DataFrame = {
    val wRank = Window.partitionBy(partCols: _*)
      .orderBy(col(p).asc +: tiebreak.map(_.asc): _*)
    // The running min "from here to the largest p" is expressed as a
    // GROWING frame over the reverse ordering: Spark evaluates
    // unbounded-preceding frames incrementally (O(n)), whereas an
    // unbounded-following frame re-scans the buffered partition per
    // row — O(n²), catastrophic once the window buffer spills.
    // __rk is the final tie-break so the reverse ordering is the exact
    // mirror of the ranking order even when (p, tiebreak) has
    // duplicate keys.
    val wRevCum = Window.partitionBy(partCols: _*)
      .orderBy(col(p).desc +: tiebreak.map(_.desc) :+ col("__rk").desc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__n", n)
      .withColumn("__rk", row_number().over(wRank))
      .withColumn(out, least(lit(1.0), min(col(p) * col("__n") / col("__rk")).over(wRevCum)))
      .drop("__n", "__rk")
  }

  /** W5/A13 at data scale — BH without the single-partition global
    * window of [[bhWindow]] over the whole relation: range-partition on
    * the ranking key, take
    * local ranks and reverse running-mins per partition, and stitch
    * with per-partition offsets (windows over ≤ #partitions rows).
    * Numerically identical to that global window, and so to R
    * `p.adjust(method="BH")` — same p·n/rank candidates,
    * same running min — so use this whenever the p-value relation is
    * data-sized rather than gene-sized. Equal (p, tiebreak) keys land
    * in one range partition, so ranks stitch exactly. */
  def bhAdjustScalable(df: DataFrame, p: String, tiebreak: Seq[Column],
      out: String = "p_bh"): DataFrame = {
    // The stitch fans the input into several consumers, and without
    // persistence each branch re-executed the ENTIRE upstream lineage
    // — for the DE chains that meant the voom/GLS fit ran ~5× inside
    // one topTable action (round 17: q82's physical plan carried 186
    // exchanges and re-scanned the checkpointed matrix 8×). One query
    // may invoke BH per contrast/platform; every invocation's holds
    // live until that query's RelCache scope exits.
    val base = RelCache.hold("diffexpr.bhadjust.base", df)
    // n as a DRIVER scalar (round 18, the DE-chain job-floor fix):
    // counting the persisted base materializes it once and replaces
    // the broadcast-count subquery stage inside the action — and the
    // count picks the path below, making the operator scale-adaptive
    // instead of paying the multi-stage stitch on gene-grain inputs.
    bhWithCount(base, p, tiebreak, base.count(), out)
  }

  /** BH over `df` whose row count `n` the caller already knows. */
  private def bhWithCount(df: DataFrame, p: String, tiebreak: Seq[Column], n: Long,
      out: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val smallMax = spark.conf.getOption("spark.graft.bh.smallThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (n <= smallMax) {
      // gene-grain input: the [[bhWindow]] program with the
      // known n injected — numerically identical (same p·n/rank
      // candidates, same running min; DiffExprSpec pins both paths),
      // one single-task sort instead of the stitch's range exchange +
      // two persisted window passes + two broadcast joins. The
      // single-partition window is exactly what `n ≤ smallMax` makes
      // safe; data-sized relations take the stitch below.
      bhWindow(df, p, Nil, tiebreak, lit(n), out)
    } else {
      val orderAsc = col(p).asc +: tiebreak.map(_.asc)
      val ranged = df.repartitionByRange(parts, orderAsc: _*)
        .withColumn("__pid", spark_partition_id())
      val wLocal = Window.partitionBy("__pid").orderBy(orderAsc: _*)
      val withLrk = RelCache.hold("diffexpr.bhadjust.lrk",
        ranged.withColumn("__lrk", row_number().over(wLocal)))
      val wOff = Window.partitionBy(lit(0)).orderBy(col("__pid").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = withLrk.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
        .select(col("__pid"), coalesce(sum("__cnt").over(wOff), lit(0L)).as("__off"))
      val cand = withLrk.join(broadcast(offs), Seq("__pid"))
        .withColumn("__rk", col("__lrk") + col("__off"))
        .withColumn("__cand", col(p) * lit(n) / col("__rk"))
      // suffix min over the global rank order = within-partition reverse
      // running min, floored by the min of all later partitions
      val wRevLocal = Window.partitionBy("__pid").orderBy(col("__rk").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withLmin = RelCache.hold("diffexpr.bhadjust.lmin",
        cand.withColumn("__lmin", min("__cand").over(wRevLocal)))
      val wRevOff = Window.partitionBy(lit(0)).orderBy(col("__pid").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sufmins = withLmin.groupBy("__pid").agg(min("__cand").as("__pmin"))
        .select(col("__pid"), min("__pmin").over(wRevOff).as("__sufmin"))
      withLmin.join(broadcast(sufmins), Seq("__pid"))
        .withColumn(out, least(lit(1.0),
          least(col("__lmin"), coalesce(col("__sufmin"), lit(Double.MaxValue)))))
        .drop("__pid", "__lrk", "__off", "__rk", "__cand", "__lmin", "__sufmin")
    }
  }

  /** W5/A13 — BH within groups (limma `decideTests(method="separate")`
    * adjusts each contrast's p column independently): the [[bhWindow]]
    * program with every window additionally partitioned by
    * `partCols`. Each partition holds one test set (≤ genes rows per
    * contrast), so the windows are gene-grain bounded — the shape the
    * multi-contrast chain needs at scale. */
  def bhAdjustGrouped(df: DataFrame, p: String, partCols: Seq[Column],
      tiebreak: Seq[Column], out: String = "p_bh"): DataFrame =
    bhWindow(df, p, partCols, tiebreak,
      count(lit(1)).over(Window.partitionBy(partCols: _*)), out)

  /** A13 — decideTests: significance call at (α, lfc) thresholds. */
  def decideTests(df: DataFrame, pAdj: String = "p_bh", lfc: String = "log2fc",
      alpha: Double = 0.05, minLfc: Double = 0.0): DataFrame =
    df.withColumn("sig",
      when(col(pAdj) < alpha && abs(col(lfc)) > minLfc, signum(col(lfc)).cast("int"))
        .otherwise(lit(0)))

  /** A13 — topTable: ranked DE table sorted by p (reference
    * `sort.by="p"`, `DiffExpression_closedPlatform.R:600`).
    *
    * BH runs through [[bhAdjustScalable]] (numerically identical to
    * the global [[bhWindow]], proven by spec) so the one operator users point
    * data-sized p-relations at never hits a single-partition global
    * window. */
  def topTable(de: DataFrame, p: String = "p", gene: String = "gene_id"): DataFrame =
    bhAdjustScalable(de, p, Seq(col(gene))).orderBy(col(p).asc, col(gene).asc)
}
