package graft.operators

import graft.functions.{RmaBgParams, SampleSheet, StatAlgebra}
import graft.model.{ExpressionMatrix, RelCache}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Normalisation operators — SURVEY.md §2.4 A4, A15, A17.
  *
  * Quantile normalisation is the classic two-window formulation; CPM
  * is pure column algebra over a per-sample aggregate. Both stay in
  * whole-stage codegen and shuffle exactly once per keyed step.
  */
object Normalize {

  /** A4 — library sizes: `colSums(data)` (`GenExpressionComb_RNAseq.R:144`). */
  def librarySizes(m: ExpressionMatrix): DataFrame =
    m.df.groupBy(m.sampleCol).agg(sum(m.valueCol).as("lib_size"))

  /** A17 — quantile normalisation
    * (`GenExpressionComb_Affy_HuEx1ST.R:197-199`, aroma
    * `QuantileNormalization`): replace each sample's k-th order
    * statistic by the mean of the k-th order statistics across
    * samples. Two windows: a per-sample rank (ties broken on gene id
    * for determinism) and a mean per rank joined back.
    *
    * Scale note: the rank window partitions by sample — at 100 TB the
    * matrix is sample-partitioned and each partition sorts locally;
    * the rank→mean relation has one row per (rank), i.e. ≤ #genes, and
    * joins back by shuffle on rank.
    */
  def quantileNormalize(m: ExpressionMatrix): ExpressionMatrix = {
    val wRank = Window.partitionBy(m.sampleCol).orderBy(m.valueCol.asc, m.geneCol.asc)
    // the ranked relation feeds the rank-mean aggregation AND the
    // join back — persist, or the per-sample sort window (and the
    // whole upstream) executes twice (round 17)
    val ranked = RelCache.hold("normalize.quantile.ranked",
      m.df.withColumn("__rk", row_number().over(wRank)))
    val rankMeans = ranked.groupBy(col("__rk")).agg(avg(m.valueCol).as("__rkmean"))
    val normed = ranked.join(rankMeans, Seq("__rk"))
      .select(m.geneCol, m.sampleCol, col("__rkmean").as(m.value))
    m.copy(df = normed)
  }

  /** A15 — log2-CPM, the deterministic half of voom
    * (`DiffExpression_openPlatform.R:440-443`):
    * `log2((count + 0.5) / (lib_size + 1) * 1e6)`. */
  def log2Cpm(counts: ExpressionMatrix): ExpressionMatrix = {
    val libs = librarySizes(counts)
    counts.copy(df = counts.df.join(libs, Seq(counts.sample))
      .withColumn(counts.value,
        log2((counts.valueCol + 0.5) / (col("lib_size") + 1.0) * 1e6))
      .drop("lib_size"))
  }

  /** A15 — voom (limma `voom`; the reference's open-platform DE fit,
    * `DiffExpression_openPlatform.R:427-445`: `DGEList` → `voom(DGEdata,
    * mod)` whose `$E`/`$weights` feed `lmFit`): log2-CPM with
    * per-OBSERVATION precision weights from the mean–variance trend.
    *
    *  1. y = log2((count+0.5)/(lib+1)·1e6); first-pass UNWEIGHTED
    *     cell-means fit, so each observation's fitted value is its
    *     (gene, group) mean of y;
    *  2. per-gene trend point: sx = Amean + mean(log2(lib+1)) −
    *     log2 1e6 (the mean log2-count), sy = sqrt(residual sd)
    *     (quarter-root variance), exactly voom's (sx, sy);
    *  3. trend = DETERMINISTIC LOWESS through the per-gene points —
    *     R `lowess(sx, sy, f = 0.5)` semantics (tricube local linear
    *     fit over the sliding nearest-`f·n` window, 3 bisquare
    *     robustness iterations), see [[lowessFit]] for the two
    *     documented divergences (delta = 0, cmad ≤ 0 freeze). The fit
    *     runs driver-side over the gene-grain (sx, sy) relation — the
    *     same ≤-genes-rows contract as the CQN spline — and the
    *     fitted curve re-enters the plan as [[graft.functions.Interp1]]
    *     knot literals (binary-search codegen, no join, no window);
    *  4. per observation: fitted log2-count x = fitted + log2(lib_s+1)
    *     − log2 1e6, weight = 1/trend(x)⁴ — limma's
    *     `approxfun(lowess(sx, sy), rule = 2)` evaluation.
    *
    * Rank/comparison-sensitive quantities (sx, the interpolation
    * knots, x) round at 1e-6 with the catalog's +1e-9 jitter so the
    * window selection and knot bracketing reproduce across engines;
    * the fitted knot values round the same way so cross-engine float
    * noise in the fit cannot leak into the weights. The trend floors
    * at 1e-6 (an overshooting robust fit could cross zero on a
    * pathological fixture; 1/t⁴ must stay finite).
    *
    * Returns (gene_id, sample_id, value = log2-CPM, weight) for the
    * samples present in `groups` (the design voom fits against). */
  def voom(counts: ExpressionMatrix, groups: DataFrame, f: Double = 0.5,
      robustIters: Int = 3, groupCol: String = "group"): DataFrame = {
    val spark = counts.df.sparkSession
    val c = counts.canonical.df
    // library sizes are sample-grain: one collect gives both the
    // per-cell lookup and the mean log library size
    val libs = SampleSheet.collect(c.groupBy("sample_id").agg(sum("value").as("__lib")),
      "library sizes", Seq("__lib"))
    val logLibs = libs.values("__lib").toSeq.sortBy(_._1).collect {
      case (_, l: Double) if l + 1.0 > 0 => StrictMath.log(l + 1.0) / StrictMath.log(2.0) }
    val meanLogLib = logLibs.sum / logLibs.size
    val log2e6 = math.log(1e6) / math.log(2.0)
    val lib = libs("__lib", col("sample_id"))
    val y = SampleSheet.collect(groups, "groups", Seq(groupCol)).attach(c)
      .withColumn("__loglib", log2(lib + 1.0))
      .withColumn("value", log2((col("value") + 0.5) / (lib + 1.0) * 1e6))
    // cell means as a (gene, group) window; a cell with a null gene or
    // group has none and drops (equi-join semantics)
    val obs = RelCache.hold("normalize.voom.obs",
      y.filter(col("gene_id").isNotNull && col(groupCol).isNotNull)
        .withColumn("__mu", avg("value").over(Window.partitionBy(col("gene_id"), col(groupCol))))
        .select(col("gene_id"), col("sample_id"), col(groupCol), col("value"),
          col("__loglib"), col("__mu")))
    // per-gene trend points (genes with residual df and nonzero SS),
    // collected in the fit's ordering (sx, gene) — gene-grain bounded
    val pts = obs.groupBy("gene_id")
      .agg(avg("value").as("__amean"),
           sum((col("value") - col("__mu")) * (col("value") - col("__mu"))).as("__ss"),
           count(lit(1)).as("__n"), countDistinct(col(groupCol)).as("__k"))
      .filter(col("__n") > col("__k") && col("__ss") > 0)
      .select(col("gene_id"),
        round(col("__amean") + lit(meanLogLib - log2e6) + lit(1e-9), 6).as("__sx"),
        sqrt(sqrt(col("__ss") / (col("__n") - col("__k")))).as("__sy"))
      .orderBy(col("__sx").asc, col("gene_id").asc)
      .select("__sx", "__sy")
      .collect()
    val xObs = round(col("__mu") + col("__loglib") - lit(log2e6) + lit(1e-9), 6)
    if (pts.isEmpty) {
      return obs.select(col("gene_id"), col("sample_id"), col("value"),
        lit(1.0).as("weight"))
    }
    val sx = pts.map(_.getDouble(0))
    val sy = pts.map(_.getDouble(1))
    val fitted = lowessFit(sx, sy, f, robustIters)
    // knots: ties on sx collapse to the MIN fitted value (tied points
    // share the same window, so their fits agree up to summation
    // order; min is the deterministic pick on both engines), then the
    // knot values round like every other rank-sensitive quantity
    val knots = sx.indices.foldLeft(Vector.empty[(Double, Double)]) { (acc, i) =>
      if (acc.nonEmpty && acc.last._1 == sx(i))
        acc.init :+ ((acc.last._1, math.min(acc.last._2, fitted(i))))
      else acc :+ ((sx(i), fitted(i)))
    }
    val kx = knots.map(_._1).toArray
    // same rounding semantics as Spark/DuckDB round(x, 6) (HALF_UP on
    // the positive trend) — math.rint would be HALF_EVEN
    val ky = knots.map(t => BigDecimal(t._2 + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray
    val trend = greatest(
      graft.functions.Interp1.interp1(col("__x"), kx, ky), lit(1e-6))
    obs.withColumn("__x", xObs)
      .withColumn("__t", trend)
      .select(col("gene_id"), col("sample_id"), col("value"),
        (lit(1.0) / ((col("__t") * col("__t")) * (col("__t") * col("__t")))).as("weight"))
  }

  /** Deterministic LOWESS (Cleveland 1979, the exact R `lowess`
    * algorithm shape): for each point, a tricube-weighted linear fit
    * over the sliding window of the `max(2, ⌊f·n + 1e-7⌋)` nearest
    * neighbours (contiguous in sorted x; on distance ties the window
    * keeps the left point, R's `d1 > d2` advance rule), then
    * `robustIters` bisquare reweighting passes with the 6·median
    * |residual| scale. Two documented divergences from R's C
    * implementation, both deterministic:
    *   - delta = 0: R interpolates across points within
    *     `0.01·range(x)` of the last fit as a SPEED approximation; we
    *     evaluate the local fit at every point (pure accuracy win);
    *   - the "effectively zero" scale guard: when ≥ half the
    *     residuals are (float-noise) zero the 6·median scale
    *     collapses and the bisquare would zero every point with a
    *     genuine residual — R breaks out of the robustness loop on
    *     `cmad < 1e-7 · scale`; we freeze the robustness weights when
    *     cmad ≤ 1e-7 · mean|res| (the mean keeps the outliers the
    *     median ignores, so it is a sound degenerate-scale detector),
    *     which makes the remaining passes reproduce the same fit —
    *     break semantics in unrolled-SQL-replayable form.
    * `x` must be sorted ascending (ties allowed). O(f·n²) driver-side
    * — seconds at the reference's ≤60k gene grain. */
  private[graft] def lowessFit(x: Array[Double], y: Array[Double], f: Double = 0.5,
      robustIters: Int = 3): Array[Double] = {
    val n = x.length
    val fit = new Array[Double](n)
    if (n == 0) return fit
    if (n == 1) { fit(0) = y(0); return fit }
    val ns = math.max(2, math.min(n, (f * n + 1e-7).toInt))
    val range = x(n - 1) - x(0)
    val rw = Array.fill(n)(1.0)
    var frozen = false
    var iter = 1
    while (iter <= robustIters + 1) {
      // sliding window: nleft advances while the left edge is farther
      // than the next right point (ties keep left) — equivalently the
      // minimal L with x(i) − x(L) ≤ x(L+ns) − x(i), which is what the
      // oracle SQL computes (KernelSpec asserts the equivalence)
      var nleft = 0
      var i = 0
      while (i < n) {
        while (nleft + ns < n &&
            x(i) - x(nleft) > x(nleft + ns) - x(i)) nleft += 1
        val nright = nleft + ns - 1
        var h = math.max(x(i) - x(nleft), x(nright) - x(i))
        val h9 = 0.999 * h
        val h1 = 0.001 * h
        val w = new Array[Double](ns)
        var a = 0.0
        var k = 0
        while (k < ns) {
          val j = nleft + k
          val r = math.abs(x(j) - x(i))
          var wk = 0.0
          if (r <= h1) wk = 1.0
          else if (r <= h9) {
            val u = r / h
            val t = 1.0 - u * u * u
            wk = t * t * t
          }
          if (iter > 1) wk *= rw(j)
          w(k) = wk
          a += wk
          k += 1
        }
        if (a <= 0) fit(i) = y(i)
        else {
          k = 0
          while (k < ns) { w(k) /= a; k += 1 }
          if (h > 0) {
            var xm = 0.0
            k = 0
            while (k < ns) { xm += w(k) * x(nleft + k); k += 1 }
            var cc = 0.0
            k = 0
            while (k < ns) { val d = x(nleft + k) - xm; cc += w(k) * d * d; k += 1 }
            if (math.sqrt(cc) > 0.001 * range) {
              val b = (x(i) - xm) / cc
              k = 0
              while (k < ns) { w(k) *= b * (x(nleft + k) - xm) + 1.0; k += 1 }
            }
          }
          var s = 0.0
          k = 0
          while (k < ns) { s += w(k) * y(nleft + k); k += 1 }
          fit(i) = s
        }
        i += 1
      }
      if (iter <= robustIters && !frozen) {
        val absRes = Array.tabulate(n)(j => math.abs(y(j) - fit(j)))
        val sorted = absRes.sorted
        val cmad =
          if (n % 2 == 0) 3.0 * (sorted(n / 2 - 1) + sorted(n / 2))
          else 6.0 * sorted(n / 2)
        if (cmad <= 1e-7 * (absRes.sum / n)) frozen = true
        else {
          val c9 = 0.999 * cmad
          val c1 = 0.001 * cmad
          var j = 0
          while (j < n) {
            val r = absRes(j)
            rw(j) =
              if (r <= c1) 1.0
              else if (r <= c9) { val u = 1.0 - (r / cmad) * (r / cmad); u * u }
              else 0.0
            j += 1
          }
        }
      }
      iter += 1
    }
    fit
  }

  /** A16 — CQN-lite: per-dataset quantile normalisation plus the
    * reference's post-CQN floor (`GenExpressionComb_RNAseq.R:183-201`:
    * spline-based conditional quantile normalisation; v1 implements
    * the quantile component per dataset and the `<2 → 0` clamp F9,
    * with the GC/length spline recorded as a divergence). */
  def cqnLite(counts: ExpressionMatrix, clampBelow: Double = 2.0): ExpressionMatrix =
    Filters.clampLow(quantileNormalize(log2Cpm(counts)), clampBelow)

  /** A16 — conditional quantile normalisation with the GC/length
    * systematic-effect component (cqn, Hansen 2012;
    * `GenExpressionComb_RNAseq.R:183-201`:
    * `cqn(dat, lengths=GenesInfo$length, x=GenesInfo$GC_content)` then
    * the `<2 → 0` floor).
    *
    * Spark-first decomposition:
    *  1. y = log2-CPM − log2(length/1000) (the RPKM length offset);
    *  2. per-sample GC systematic effect: genes bin into global GC
    *     quantile bins; the per-(sample, bin) median y and the global
    *     bin GC means give `bins` points per sample, through which the
    *     driver fits one natural cubic spline (a `bins`-point
    *     tridiagonal solve per sample — samples are reference-bounded,
    *     genes never leave the cluster). Executors evaluate the
    *     broadcast piecewise cubic via a (sample, segment) join and
    *     subtract the mean-centered effect;
    *  3. quantile-normalize the corrected values across samples and
    *     apply the reference's floor.
    *
    * `geneInfo` columns: gene_id, gc, length. One shuffle per keyed
    * step; the only collects are bins×samples medians and GC edges. */
  def cqn(counts: ExpressionMatrix, geneInfo: DataFrame, bins: Int = 10,
      clampBelow: Double = 2.0): ExpressionMatrix = {
    val spark = counts.df.sparkSession
    import spark.implicits._
    val info = broadcast(geneInfo.select(col("gene_id"), col("gc").cast("double"),
      col("length").cast("double")))
    val y = log2Cpm(counts).canonical.df.join(info, Seq("gene_id"))
      .withColumn("y", col("value") - log2(col("length") / 1000.0))

    // global GC bins (exact interpolating quantile edges over the
    // bounded gene-info relation — `percentile`, which both engines
    // define identically) and their mean GC = the spline knots
    val edges = geneInfo.selectExpr(
        s"percentile(cast(gc as double), array(${(1 until bins).map(_.toDouble / bins).mkString(",")})) as e")
      .head().getSeq[Double](0).toArray
    val binExpr = edges.foldLeft(lit(0)) { (acc, e) => acc + (col("gc") > e).cast("int") }
    val binned = RelCache.hold("normalize.cqn.binned", y.withColumn("__bin", binExpr))
    val knotX = binned.groupBy("__bin").agg(avg("gc").as("x"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val medians = binned.groupBy("sample_id", "__bin")
      .agg(expr("percentile(y, 0.5)").as("med"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap

    // one natural cubic spline per sample through (knotX, median).
    // Knot x's are shared across samples; coincident knots (discrete
    // GC grids can collide bin means) collapse identically for every
    // sample, so segments stay consistent with the index below.
    val sampleIds = medians.keys.map(_._1).toSeq.distinct.sorted
    val ks = knotX.keys.toSeq.sorted
    val segRows = sampleIds.flatMap { s =>
      val xsRaw = ks.map(knotX)
      val ysRaw = ks.map(k => medians.get((s, k)))
      // a sample missing a bin (no genes) falls back to its neighbours
      val ysFilled = ysRaw.zipWithIndex.map { case (v, i) =>
        v.orElse(ysRaw.take(i).reverse.flatten.headOption)
          .orElse(ysRaw.drop(i + 1).flatten.headOption).getOrElse(0.0)
      }
      val (xs, ys) = collapseAnchors(xsRaw.zip(ysFilled))
      val m2 = naturalSplineSecondDerivs(xs, ys)
      (0 until xs.length - 1).map { k =>
        (s, k, xs(k), xs(k + 1), ys(k), ys(k + 1), m2(k), m2(k + 1))
      }
    }
    val segs = broadcast(segRows
      .toDF("sample_id", "__seg", "x0", "x1", "y0", "y1", "m0", "m1"))

    // segment index: count of interior knots below gc, clamped to the
    // knot span (flat extrapolation beyond the end knots); uses the
    // same collapsed knot xs as the spline pieces
    val xsAll = collapseAnchors(ks.map(k => (knotX(k), 0.0)))._1.toSeq
    val segExpr = xsAll.tail.dropRight(1).foldLeft(lit(0)) { (acc, xk) =>
      acc + (col("gc") > xk).cast("int")
    }
    val xc = least(greatest(col("gc"), lit(xsAll.head)), lit(xsAll.last))
    val h = col("x1") - col("x0")
    val spline =
      (col("m0") * pow(col("x1") - xc, 3) + col("m1") * pow(xc - col("x0"), 3)) / (lit(6.0) * h) +
      (col("y0") / h - col("m0") * h / 6.0) * (col("x1") - xc) +
      (col("y1") / h - col("m1") * h / 6.0) * (xc - col("x0"))
    val withEffect = binned.withColumn("__seg", segExpr)
      .join(segs, Seq("sample_id", "__seg"))
      .withColumn("__effect", spline)
    // subtract the mean-centered effect so each sample keeps its
    // level. Corrected values round at 1e-6 before the quantile step:
    // the spline correction is a computed float, and the QN ranking
    // must be reproducible bit-for-bit across engines (the catalog's
    // rank-over-rounded-values convention); 1e-6 is far below any
    // biological signal and far above cross-engine float noise.
    val centers = withEffect.groupBy("sample_id").agg(avg("__effect").as("__eff_mean"))
    val corrected = withEffect.join(centers, Seq("sample_id"))
      .select(col("gene_id"), col("sample_id"),
        round(col("y") - (col("__effect") - col("__eff_mean")) + 1e-9, 6).as("value"))
    Filters.clampLow(quantileNormalize(ExpressionMatrix(corrected)), clampBelow)
  }

  /** A19 — robust spline normalisation (lumi `rsn`,
    * `GenExpressionComb_Illum_HT_12_V3.R` chain): each array maps onto
    * the target distribution through a SMOOTH monotone curve instead
    * of quantile normalisation's exact rank replacement — QN's
    * equalize-everything step destroys within-array spacing; RSN
    * preserves it up to a monotone warp.
    *
    * Engine shape: target = per-rank mean across arrays (the same
    * relation QN uses); per sample, `bins` quantile-bin anchor points
    * (bin mean value → bin mean target) feed one driver-side natural
    * cubic spline (samples are reference-bounded); executors evaluate
    * the broadcast piecewise cubic per row. Monotone for monotone
    * anchors at reference bin counts; values outside the anchor span
    * clamp to the end segments. */
  /** A18-pre — RMA background correction, the affinity-FREE
    * normal+exponential convolution (`affy::bg.correct.rma`). The
    * reference's actual call is `gcrma(dat)`
    * (`GenExpressionComb_Affy_U133Plus2.R:151`) — GC-RMA, whose
    * background step is sequence-AFFINITY-based and needs vendor
    * probe sequences, so it stays out of pure-Spark scope (SURVEY
    * §7.4.5). This operator implements the affinity-free
    * `bg.correct.rma` analogue of that background stage (followed in
    * both pipelines by quantile norm + median polish); the
    * convolution model is:
    * observed = signal(Exp(α)) + background(N(μ, σ²)), corrected
    * value = E[signal | observed] in closed form.
    *
    * Parameter estimation per SAMPLE (the affy `bg.parameters` shape,
    * kernel-density mode replaced by a deterministic 256-bin
    * histogram mode — documented divergence, same principle):
    *  - m₁ = mode of the value histogram over [lo, hi];
    *  - μ = mode of the sub-histogram over [lo, m₁) (values < m₁);
    *  - σ² = 2 · mean((x−μ)² | x < μ)  (left-tail, doubled);
    *  - α = 1 / mean(x−μ | x > μ).
    * Correction per cell, a = x − μ − ασ²:
    *  x' = a + σ·(φ(a/σ) − φ((x−a)/σ)) / (Φ(a/σ) + Φ((x−a)/σ) − 1),
    * with Φ from the Abramowitz–Stegun 7.1.26 erf rational
    * approximation — column algebra on BOTH the Spark side and the
    * DuckDB oracle, so the hash gate replays bit-for-bit (the same
    * trick as the Acklam qnorm oracles).
    *
    * Scale shape: one aggregation keyed by sample collects each
    * sample's values and evaluates μ, σ and α in one native expression
    * ([[graft.functions.RmaBgParams]]); the parameters re-enter the
    * plan through one broadcast join (samples are contract-bounded);
    * the correction itself is one codegen projection over the cells.
    * Per-sample state is one sample's values in one task, about
    * 2.4 MB at 306k probesets. */
  def rmaBackground(m: ExpressionMatrix, bins: Int = 256): ExpressionMatrix = {
    val df = m.canonical.df
    val params = df.groupBy("sample_id")
      .agg(RmaBgParams.rma_bg_params(
        collect_list(col("value").cast("double")), count(lit(1)), bins)
        .as("__p"))
      .select(col("sample_id"), col("__p.mu").as("__mu"),
        col("__p.sigma").as("__sigma"), col("__p.alpha").as("__alpha"))
    val a = col("value") - col("__mu") - col("__alpha") * col("__sigma") * col("__sigma")
    val corrected = a + col("__sigma") *
      (StatAlgebra.dnorm(a / col("__sigma")) -
        StatAlgebra.dnorm((col("value") - a) / col("__sigma"))) /
      greatest(StatAlgebra.pnormAS(a / col("__sigma")) +
        StatAlgebra.pnormAS((col("value") - a) / col("__sigma")) - 1.0, lit(1e-10))
    // Degenerate parameter estimates (null / NaN / non-positive σ,
    // null / NaN / non-positive α) → identity correction for that
    // sample; every input row survives to the output unconditionally.
    val paramsOk = col("__sigma").isNotNull && !isnan(col("__sigma")) &&
      col("__sigma") > 0 && col("__alpha").isNotNull &&
      !isnan(col("__alpha")) && col("__alpha") > 0
    ExpressionMatrix(df.join(broadcast(params), Seq("sample_id"), "left")
      .select(col("gene_id"), col("sample_id"),
        when(paramsOk, corrected).otherwise(col("value")).as("value")))
  }

  def rsn(m: ExpressionMatrix, bins: Int = 20): ExpressionMatrix = {
    val spark = m.df.sparkSession
    import spark.implicits._
    val wRank = Window.partitionBy("sample_id").orderBy(col("value").asc, col("gene_id").asc)
    val ranked = RelCache.hold("normalize.rsn.ranked",
      m.canonical.df.withColumn("__rk", row_number().over(wRank)))
    val rankMeans = ranked.groupBy("__rk").agg(avg("value").as("__target"))
    val nPerSample = ranked.groupBy("sample_id").agg(count(lit(1)).as("__n"))
    val anchors = ranked.join(rankMeans, Seq("__rk"))
      .join(nPerSample, Seq("sample_id"))
      .withColumn("__bin", least(lit(bins - 1),
        floor(col("__rk") * bins / (col("__n") + 1)).cast("int")))
      .groupBy("sample_id", "__bin")
      .agg(avg("value").as("x"), avg("__target").as("y"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val sampleIds = anchors.keys.map(_._1).toSeq.distinct.sorted
    // coincident-x anchors collapse before the Thomas solve (h = 0
    // guard); the collapsed xs also drive the segment index below, so
    // segments and spline pieces stay consistent
    val perSample: Map[String, (Array[Double], Array[Double], Array[Double])] =
      sampleIds.map { s =>
        val pts = (0 until bins).flatMap(b => anchors.get((s, b)))
        val (xs, ys) = collapseAnchors(pts)
        s -> ((xs, ys, naturalSplineSecondDerivs(xs, ys)))
      }.toMap
    val segRows = sampleIds.flatMap { s =>
      val (xs, ys, m2) = perSample(s)
      (0 until xs.length - 1).map { k =>
        (s, k, xs(k), xs(k + 1), ys(k), ys(k + 1), m2(k), m2(k + 1))
      }
    }
    val segs = broadcast(segRows.toDF("sample_id", "__seg", "x0", "x1", "y0", "y1", "m0", "m1"))
    // segment index per row: count of interior anchor x's below value.
    // Anchors are per-sample, so broadcast ONE row per sample carrying
    // its cut ARRAY and fold a fixed number of element_at comparisons
    // (the cqn knot idiom) — no row×cuts fan-out, no re-aggregation,
    // one broadcast join. try_element_at past a shorter sample's cut
    // list is null (element_at would THROW under ANSI) → coalesce to 0.
    val cutsDf = broadcast(perSample.toSeq.map { case (s, (xs, _, _)) =>
      (s, xs.drop(1).dropRight(1).toSeq)
    }.toDF("sample_id", "__cuts"))
    val maxCuts = perSample.values.map(v => math.max(v._1.length - 2, 0)).maxOption.getOrElse(0)
    val segCol = (1 to maxCuts)
      .map(j => coalesce((col("value") > try_element_at(col("__cuts"), lit(j))).cast("int"), lit(0)))
      .foldLeft(lit(0))(_ + _)
    val segIdx = m.canonical.df.join(cutsDf, Seq("sample_id"))
      .withColumn("__seg", segCol).drop("__cuts")
    val h = col("x1") - col("x0")
    val xc = least(greatest(col("value"), col("x0")), col("x1"))
    val spline =
      (col("m0") * pow(col("x1") - xc, 3) + col("m1") * pow(xc - col("x0"), 3)) / (lit(6.0) * h) +
      (col("y0") / h - col("m0") * h / 6.0) * (col("x1") - xc) +
      (col("y1") / h - col("m1") * h / 6.0) * (xc - col("x0"))
    ExpressionMatrix(segIdx.join(segs, Seq("sample_id", "__seg"))
      .select(col("gene_id"), col("sample_id"), spline.as("value")))
  }

  /** Merge anchor points whose x's coincide within `eps`: heavily
    * tied/discrete arrays can land two quantile-bin anchors on the
    * same x, which would give a zero-width segment (h = 0 → division
    * by zero in the piecewise cubic) and break the strictly-increasing
    * precondition of the Thomas solve. Coincident anchors average
    * their y. */
  private[operators] def collapseAnchors(pts: Seq[(Double, Double)],
      eps: Double = 1e-9): (Array[Double], Array[Double]) = {
    val sorted = pts.sortBy(_._1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    for ((x, y) <- sorted) {
      if (buf.nonEmpty && x - buf.last._1 <= eps) {
        val (lx, ls, ln) = buf.last
        buf(buf.size - 1) = (lx, ls + y, ln + 1)
      } else buf += ((x, y, 1))
    }
    (buf.map(_._1).toArray, buf.map(t => t._2 / t._3).toArray)
  }

  /** Natural cubic spline second derivatives through (x_i, y_i):
    * tridiagonal Thomas solve with natural boundary M_0 = M_n = 0. */
  private[operators] def naturalSplineSecondDerivs(x: Array[Double], y: Array[Double]): Array[Double] = {
    val n = x.length
    val m = new Array[Double](n)
    if (n < 3) return m
    val a = new Array[Double](n); val b = new Array[Double](n)
    val c = new Array[Double](n); val d = new Array[Double](n)
    for (i <- 1 until n - 1) {
      val h0 = x(i) - x(i - 1); val h1 = x(i + 1) - x(i)
      a(i) = h0 / 6.0; b(i) = (h0 + h1) / 3.0; c(i) = h1 / 6.0
      d(i) = (y(i + 1) - y(i)) / h1 - (y(i) - y(i - 1)) / h0
    }
    // Thomas algorithm on rows 1..n-2
    for (i <- 2 until n - 1) {
      val w = a(i) / b(i - 1)
      b(i) -= w * c(i - 1)
      d(i) -= w * d(i - 1)
    }
    m(n - 2) = d(n - 2) / b(n - 2)
    for (i <- n - 3 to 1 by -1) m(i) = (d(i) - c(i) * m(i + 1)) / b(i)
    m
  }
}
