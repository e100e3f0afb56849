package graft.operators

import graft.functions.SampleSheet
import graft.model.{ExpressionMatrix, RelCache}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A10 — ComBat empirical-Bayes batch-effect removal
  * (`DiffExpression_closedPlatform.R:372-437`, sva's ComBat with the
  * reference's stability patch at :108-169).
  *
  * Spark-first decomposition:
  *
  *  0. the batch (and covariate) sheets are sample-grain: collected
  *     once to the driver and read per cell through a
  *     [[graft.functions.SampleSheet]] lookup, the reference's
  *     sample-length `batch` vector, never joined;
  *  1. standardize — null model: z = (x − α̂_g)/σ̂_g from per-gene
  *     grand stats; covariate model (`combatWithCovariates`): OLS fit
  *     of value ~ batch + group with the shared-design trick (XᵀX from
  *     the batch×group contingency counts, inverted once on the
  *     driver; per-gene Xᵀy one window sum; β̂ row-local algebra),
  *     pooled residual variance, covariate effect kept in the
  *     standardized mean. Every per-gene statistic is a window over
  *     the gene partition, so the cells are never joined back to a
  *     gene-grain relation;
  *  2. per-(gene, batch) location/scale estimates (γ̂, δ̂²) — one agg;
  *  3. EB hyperparameters per batch — one tiny per-batch collect;
  *  4. posterior (γ*, δ²*): parametric via sva's `it.sol` fixed point
  *     (bounded row-local loop), or nonparametric via the reference's
  *     log-likelihood-weighted `int.eprior` patch
  *     (`DiffExpression_closedPlatform.R:110-158`) — see
  *     [[nonparametricPosterior]];
  *  5. adjust: x* = σ̂_g · (z − γ*)/√δ²* + standardized mean.
  *
  * Everything shuffles on gene; no collect of any gene-sized relation
  * (driver-side collects are the sample sheets and per-batch
  * hyperpriors, from which the p×p design is built).
  */
object Batch {

  def combat(m: ExpressionMatrix, batches: DataFrame, batchCol: String = "batch",
      iterations: Int = 30, parametric: Boolean = true,
      nonparametricGeneCap: Int = 20000): ExpressionMatrix = {
    // null covariate model: standardized mean = per-gene grand mean
    val standardized = SampleSheet.collect(batches, "batches", Seq(batchCol))
      .attach(geneCells(m)).withColumnRenamed(batchCol, "batch")
      .withColumn("__center", avg("value").over(perGene))
      .withColumn("sigma2", var_samp("value").over(perGene))
      .filter(col("sigma2") > 0)
      .withColumn("z", (col("value") - col("__center")) / sqrt(col("sigma2")))
    combatCore(standardized, iterations, parametric, nonparametricGeneCap)
  }

  /** ComBat with the reference's `mod = model.matrix(~group)` design
    * (`DiffExpression_closedPlatform.R:381-437`): the outcome of
    * interest enters the standardization fit so the batch adjustment
    * cannot absorb it. See object doc for the shared-design OLS shape. */
  def combatWithCovariates(m: ExpressionMatrix, batches: DataFrame, covariates: DataFrame,
      batchCol: String = "batch", covCol: String = "group",
      iterations: Int = 30, parametric: Boolean = true,
      nonparametricGeneCap: Int = 20000): ExpressionMatrix = {
    val b = SampleSheet.collect(batches, "batches", Seq(batchCol))
    val cov = SampleSheet.collect(covariates, "covariates", Seq(covCol))
    val df = cov.attach(b.attach(geneCells(m)))
      .withColumnRenamed(batchCol, "batch").withColumnRenamed(covCol, "__cov")

    // the whole driver-side design comes from the two sheets: joint
    // sample counts per (batch, covariate) level over the samples in
    // both, and the level sets as their key projections
    val cells = (b.samples intersect cov.samples).toSeq
      .groupBy(s => (b.values(batchCol)(s).asInstanceOf[String],
        cov.values(covCol)(s).asInstanceOf[String]))
      .map { case (k, ss) => k -> ss.size.toLong }
    val batchLevels = cells.keys.map(_._1).toSeq.distinct.sorted
    val covLevels = cells.keys.map(_._2).toSeq.distinct.sorted
    val covNonRef = covLevels.drop(1) // model.matrix(~f) drops the reference level
    val nBatch = batchLevels.size
    val p = nBatch + covNonRef.size
    // XtX from the batch × covariate contingency table (the design is
    // shared by all genes; entries are joint sample counts)
    def nOf(b: String, c: String): Double = cells.getOrElse((b, c), 0L).toDouble
    val xtx = Array.ofDim[Double](p, p)
    for ((b, i) <- batchLevels.zipWithIndex) {
      xtx(i)(i) = covLevels.map(c => nOf(b, c)).sum
      for ((c, j) <- covNonRef.zipWithIndex) {
        xtx(i)(nBatch + j) = nOf(b, c)
        xtx(nBatch + j)(i) = nOf(b, c)
      }
    }
    for ((c1, j1) <- covNonRef.zipWithIndex; (c2, j2) <- covNonRef.zipWithIndex)
      xtx(nBatch + j1)(nBatch + j2) =
        if (j1 == j2) batchLevels.map(b => nOf(b, c1)).sum else 0.0
    val inv = invert(xtx)
    val nTotal = cells.values.sum.toDouble

    // per-gene Xᵀy, then β̂ = (XᵀX)⁻¹Xᵀy as row-local column algebra
    def xty(c: Column): Column = coalesce(sum(when(c, col("value"))).over(perGene), lit(0.0))
    val xtyCols =
      batchLevels.map(b => xty(col("batch") === b).as(s"__xty_$b")) ++
      covNonRef.map(c => xty(col("__cov") === c).as(s"__xty_c_$c"))
    val xtyVec: Seq[Column] =
      batchLevels.map(b => col(s"__xty_$b")) ++ covNonRef.map(c => col(s"__xty_c_$c"))
    def betaExpr(i: Int): Column =
      (0 until p).map(j => lit(inv(i)(j)) * xtyVec(j)).reduce(_ + _)
    val withBeta = df.select(col("*") +: xtyCols: _*)
      .select(col("*") +: (0 until p).map(i => betaExpr(i).as(s"__beta_$i")): _*)

    // fitted = β_batch + β_cov; standardized mean keeps grand + cov
    // (grand mean = Σ_b (n_b/n)·β_b, sva's n.batches/n.array weights)
    val batchBeta = batchLevels.zipWithIndex
      .map { case (b, i) => when(col("batch") === b, col(s"__beta_$i")) }
      .reduce(_ otherwise _)
    val covShift =
      if (covNonRef.isEmpty) lit(0.0)
      else coalesce(covNonRef.zipWithIndex
        .map { case (c, j) => when(col("__cov") === c, col(s"__beta_${nBatch + j}")) }
        .reduce(_ otherwise _), lit(0.0))
    val grandMean = batchLevels.zipWithIndex.map { case (b, i) =>
      lit(covLevels.map(c => nOf(b, c)).sum / nTotal) * col(s"__beta_$i")
    }.reduce(_ + _)
    val withFit = withBeta
      .withColumn("__fit", batchBeta + covShift)
      .withColumn("__center", grandMean + covShift)
    // squared residual as an explicit product (not pow): x*x is the
    // same IEEE op on every engine, pow(x, 2) is only 1-ulp-accurate
    val standardized = withFit
      .withColumn("sigma2", sum((col("value") - col("__fit")) * (col("value") - col("__fit")))
        .over(perGene) / lit(nTotal))
      .filter(col("sigma2") > 0)
      .withColumn("z", (col("value") - col("__center")) / sqrt(col("sigma2")))
    combatCore(standardized, iterations, parametric, nonparametricGeneCap)
  }

  /** The cells of `m` that have a gene: a null gene has no per-gene
    * statistics (equi-join semantics). */
  private def geneCells(m: ExpressionMatrix): DataFrame =
    m.canonical.df.filter(col("gene_id").isNotNull)

  private val perGene = Window.partitionBy("gene_id")

  /** Steps 2-5 over a standardized relation with columns (gene_id,
    * sample_id, batch, value, __center, sigma2, z). `__center` is the
    * row-level standardized mean added back at the end. */
  private[graft] def combatCore(standardized: DataFrame, iterations: Int,
      parametric: Boolean, nonparametricGeneCap: Int): ExpressionMatrix = {
    val z = RelCache.hold("batch.combat.z", standardized
      .select("gene_id", "sample_id", "batch", "__center", "sigma2", "z"))
    val gb = RelCache.hold("batch.combat.gb", z.groupBy("gene_id", "batch")
      .agg(count(lit(1)).as("n_b"), avg("z").as("gamma_hat"), var_samp("z").as("delta2_hat"))
      .filter(col("delta2_hat").isNotNull))
    val post =
      if (parametric) parametricPosterior(gb, iterations)
      else nonparametricPosterior(z, gb, nonparametricGeneCap)
    val adjusted = z.join(post, Seq("gene_id", "batch"))
      .withColumn("value",
        sqrt(col("sigma2")) * (col("z") - col("g_star")) / sqrt(col("d_star")) + col("__center"))
      .select("gene_id", "sample_id", "value")
    ExpressionMatrix(adjusted)
  }

  /** Parametric EB posterior via sva's `it.sol` fixed point:
    *    g* = (n τ² γ̂ + δ²* γ̄)/(n τ² + δ²*)
    *    δ²* = (b + ½Σ(z−g*)²) / (n/2 + a − 1), with Σ(z−g*)² =
    *          (n−1)δ̂² + n(γ̂ − g*)²  [sufficient statistics only].
    * Hyperpriors are per-batch moment estimates (rows = #batches),
    * collected to the driver; the iteration is row-local given them, so
    * it runs as a typed map — a bounded Scala loop per (gene, batch)
    * row. */
  private def parametricPosterior(gb: DataFrame, iterations: Int): DataFrame = {
    val hyper = gb.filter(col("batch").isNotNull).groupBy("batch").agg(
        avg("gamma_hat").as("gamma_bar"), var_samp("gamma_hat").as("tau2"),
        avg("delta2_hat").as("d_bar"), var_samp("delta2_hat").as("d_var"))
      .withColumn("a_prior", (lit(2.0) * col("d_var") + col("d_bar") * col("d_bar")) / col("d_var"))
      .withColumn("b_prior", (col("d_bar") * col("d_var") + col("d_bar") * col("d_bar") * col("d_bar")) / col("d_var"))
      .select("batch", "gamma_bar", "tau2", "a_prior", "b_prior")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val spark = gb.sparkSession
    import spark.implicits._
    gb.filter(col("batch").isNotNull)
      .select(col("gene_id"), col("batch"), col("n_b").cast("double"),
        col("gamma_hat"), col("delta2_hat"))
      .as[(String, String, Double, Double, Double)]
      .map { case (gene, batch, n, gammaHat, delta2Hat) =>
        val (gammaBar, tau2, aPrior, bPrior) = hyper(batch)
        var gStar = gammaHat
        var dStar = delta2Hat
        var i = 0
        while (i < iterations) {
          gStar = (n * tau2 * gammaHat + dStar * gammaBar) / (n * tau2 + dStar)
          dStar = (bPrior + 0.5 * ((n - 1) * delta2Hat +
            n * (gammaHat - gStar) * (gammaHat - gStar))) / (n / 2 + aPrior - 1)
          i += 1
        }
        (gene, batch, gStar, dStar)
      }.toDF("gene_id", "batch", "g_star", "d_star")
  }

  /** Nonparametric posterior — the reference's log-likelihood
    * `int.eprior` patch (`DiffExpression_closedPlatform.R:110-158`,
    * replacing sva's density-product Monte Carlo form that underflows
    * on large batches): for gene g in batch b, weight every OTHER
    * gene g′ of the batch by its Gaussian log-likelihood for g's
    * standardized values, and take the weighted mean of (γ̂′, δ̂²′):
    *
    *   LL(g, g′) = −n/2·log(2π δ̂²′) − Σ_j (z_gj − γ̂′)² / (2 δ̂²′)
    *
    * Σ_j (z_gj − γ̂′)² expands to S_g − 2γ̂′T_g + nγ̂′² over per-gene
    * sufficient statistics (T = Σz, S = Σz²), so the pairwise LL is a
    * closed form of two bounded per-gene rows — the G×G structure of
    * the reference becomes a per-batch self-join producing pair rows,
    * stabilized by max-LL subtraction per gene (the reference orders
    * by LL and divides by the top term — algebraically the same
    * softmax guard). Quadratic per batch by definition, exactly like
    * the reference; `geneCap` guards against accidental data-sized
    * inputs (reference runs post-variance-filter, 3k–10k genes). */
  def nonparametricPosterior(z: DataFrame, gb: DataFrame, geneCap: Int): DataFrame = {
    val nGenes = gb.select("gene_id").distinct().count()
    require(nGenes <= geneCap,
      s"nonparametric int.eprior is O(G^2) per batch: $nGenes genes > cap $geneCap; " +
        "apply a variance filter first or raise nonparametricGeneCap")
    val suff = z.groupBy("gene_id", "batch")
      .agg(count(lit(1)).cast("double").as("n"),
           sum("z").as("t_sum"), sum(col("z") * col("z")).as("s_sum"))
    val params = gb.select(col("batch"), col("gene_id").as("__other"),
      col("gamma_hat"), col("delta2_hat"))
    val pairs = suff.join(params, Seq("batch"))
      .filter(col("gene_id") =!= col("__other"))
      .withColumn("__ll",
        lit(-0.5) * col("n") * log(lit(2.0 * math.Pi) * col("delta2_hat")) -
          (col("s_sum") - lit(2.0) * col("gamma_hat") * col("t_sum") +
            col("n") * col("gamma_hat") * col("gamma_hat")) / (lit(2.0) * col("delta2_hat")))
    val wMax = Window.partitionBy("gene_id", "batch")
    pairs
      .withColumn("__w", exp(col("__ll") - max("__ll").over(wMax)))
      .groupBy("gene_id", "batch")
      .agg((sum(col("__w") * col("gamma_hat")) / sum("__w")).as("g_star"),
           (sum(col("__w") * col("delta2_hat")) / sum("__w")).as("d_star"))
  }

  private def invert(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val aug = Array.tabulate(n, 2 * n)((i, j) =>
      if (j < n) a(i)(j) else if (j - n == i) 1.0 else 0.0)
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(aug(r)(c)))
      val tmp = aug(c); aug(c) = aug(piv); aug(piv) = tmp
      require(math.abs(aug(c)(c)) > 1e-12, "singular design (confounded batch/covariate)")
      val d = aug(c)(c)
      for (j <- 0 until 2 * n) aug(c)(j) /= d
      for (r <- 0 until n if r != c) {
        val f = aug(r)(c)
        for (j <- 0 until 2 * n) aug(r)(j) -= f * aug(c)(j)
      }
    }
    Array.tabulate(n, n)((i, j) => aug(i)(j + n))
  }
}
