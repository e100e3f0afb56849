package graft.operators

import graft.model.{ExpressionMatrix, RelCache}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** QC / diagnostic operators — SURVEY.md §2.4 A6–A9, A28–A29.
  *
  * The reference's QC stage emits ~60 diagnostic plots; the engine
  * emits the tables behind them (per-sample summary batteries, RLE,
  * stratified correlations, PCA coordinates, outlier calls).
  */
object QC {

  /** A28 — per-sample summary battery (arrayQualityMetrics-style):
    * mean/median/IQR/quantiles per array in one pass, using exact
    * `percentile` (reference works on ≤ hundreds of arrays; the
    * aggregation is per-sample so it scales by partition count). */
  def sampleSummary(m: ExpressionMatrix): DataFrame =
    m.df.groupBy(m.sampleCol).agg(
      count(m.valueCol).as("n"),
      avg(m.valueCol).as("mean"),
      expr(s"percentile(${m.value}, 0.25)").as("q25"),
      expr(s"percentile(${m.value}, 0.5)").as("median"),
      expr(s"percentile(${m.value}, 0.75)").as("q75"),
      stddev_samp(m.valueCol).as("sd"))

  /** A28 — RLE (relative log expression): value − per-gene median;
    * summarised per sample. The matrix feeds TWO consumers (the
    * per-gene median aggregation and the residual join) — cache it
    * PARTITIONED BY THE SHARED KEY (gene), so the scan runs once and
    * both the aggregation and the join reuse the layout with no
    * further gene exchange (round 18, the rmaBackground pattern,
    * guide §2.4 "two operations keyed the same way share one
    * exchange"). */
  def rle(m: ExpressionMatrix): DataFrame = {
    val parts = m.df.sparkSession.sessionState.conf.numShufflePartitions
    val df = RelCache.hold("qc.rle.in", m.df.repartition(parts, m.geneCol))
    val med = df.groupBy(m.geneCol)
      .agg(expr(s"percentile(${m.value}, 0.5)").as("__med"))
    df.join(med, Seq(m.gene))
      .withColumn("__rle", m.valueCol - col("__med"))
      .groupBy(m.sampleCol)
      .agg(expr("percentile(__rle, 0.5)").as("rle_median"),
           (expr("percentile(__rle, 0.75)") - expr("percentile(__rle, 0.25)")).as("rle_iqr"))
  }

  /** A6 — pairwise sample correlation (`Study_effect.R:320-398`):
    * Pearson r per sample pair via a self-join on gene. The join
    * shuffles on gene (co-partitioned), the corr aggregates per pair;
    * strata predicates (same group / same study) attach from metadata
    * afterwards. */
  def pairwiseSampleCorr(m: ExpressionMatrix, minCommon: Long = 3): DataFrame = {
    val a = m.canonical.df.select(col("gene_id"),
      col("sample_id").as("s1"), col("value").as("v1"))
    val b = m.canonical.df.select(col("gene_id"),
      col("sample_id").as("s2"), col("value").as("v2"))
    a.join(b, Seq("gene_id")).filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_common"), corr("v1", "v2").as("r"))
      .filter(col("n_common") >= minCommon)
  }

  /** A7 — PCA of samples (`Study_effect.R:543-593`, `prcomp(scale=T)`
    * semantics). Deterministic Spark-first decomposition — no MLlib
    * model state, so the q43 oracle can replay it exactly:
    *  1. dense-complete the (bounded) gene × sample grid (missing
    *     cells → 0, as the reference's filled matrix), standardize per
    *     gene ((x − μ)/sd, zero-variance genes → 0);
    *  2. gene×gene Gramian XᵀX by a sample-keyed self-join — one
    *     shuffle, output bounded at |genes|²; collected (bounded);
    *  3. top-k eigenpairs by the seeded 500-step power iteration with
    *     deflation ([[Cluster.powerIter]]); each loading vector is
    *     sign-fixed (largest-|entry| component positive — prcomp
    *     leaves sign arbitrary, this makes output deterministic);
    *  4. coordinates = Σ_g x·v_g via a broadcast loadings join + one
    *     keyed aggregation — pure codegen column algebra.
    * Returns (sample_id, pc1..pcK). */
  def pca(m: ExpressionMatrix, k: Int, genes: Seq[String],
      forceDual: Option[Boolean] = None): DataFrame = {
    val spark = m.df.sparkSession
    import spark.implicits._
    val long = m.canonical.df.filter(col("gene_id").isin(genes: _*))
    val samples = long.select("sample_id").distinct()
    val grid = samples.crossJoin(broadcast(genes.toDF("gene_id")))
      .join(long, Seq("gene_id", "sample_id"), "left")
      .withColumn("value", coalesce(col("value"), lit(0.0)))
    val stats = grid.groupBy("gene_id")
      .agg(avg("value").as("__mu"), stddev_samp("value").as("__sd"))
    val scaled = RelCache.hold("qc.pca.scaled", grid.join(broadcast(stats), Seq("gene_id"))
      .withColumn("x",
        when(col("__sd") > 0, (col("value") - col("__mu")) / col("__sd")).otherwise(lit(0.0)))
      .select("gene_id", "sample_id", "x"))
    val sampleIds = samples.orderBy("sample_id").collect().map(_.getString(0))
    // dual only pays off when the G×G collect is actually large: a
    // G ≤ 256 Gramian is ≤ 0.5 MB, and keeping small inputs primal
    // means hash-gated fixtures (q43/q62 at EVERY SF, including
    // sf0.001's 10-sample shape) never switch arithmetic paths under
    // a fixture-size change — the two paths agree to ~1e-6, which is
    // parity-tested but not bit-identical
    if (forceDual.getOrElse(genes.size > math.max(sampleIds.length, 256)))
      pcaDual(scaled, genes, sampleIds, k)
    else
      pcaPrimal(scaled, genes, k)
  }

  /** Primal path (G ≤ S): gene×gene Gramian XᵀX, G² bounded — the
    * shape every reference fixture takes (gene lists ≤ 50). */
  private def pcaPrimal(scaled: DataFrame, genes: Seq[String], k: Int): DataFrame = {
    val spark = scaled.sparkSession
    import spark.implicits._
    val gIdx = genes.zipWithIndex.toMap
    val p = genes.size
    val gram = Array.ofDim[Double](p, p)
    scaled.select(col("gene_id").as("g1"), col("sample_id"), col("x").as("x1"))
      .join(scaled.select(col("gene_id").as("g2"), col("sample_id"), col("x").as("x2")),
        Seq("sample_id"))
      .groupBy("g1", "g2").agg(sum(col("x1") * col("x2")).as("s"))
      .collect().foreach(r => gram(gIdx(r.getString(0)))(gIdx(r.getString(1))) = r.getDouble(2))
    val work = gram.map(_.clone())
    val loadings = (0 until k).map { d =>
      val (lam, v) = Cluster.powerIter(work, d)
      for (i <- 0 until p; j <- 0 until p) work(i)(j) -= lam * v(i) * v(j)
      val maxAbs = v.maxBy(math.abs)
      if (maxAbs < 0) v.map(-_) else v
    }
    val loadDf = broadcast(genes.zipWithIndex.map { case (g, i) =>
      (g, loadings.map(_(i)))
    }.toDF("gene_id", "__l"))
    val pcCols = (0 until k).map(d =>
      sum(col("x") * col("__l")(d)).as(s"pc${d + 1}"))
    scaled.join(loadDf, Seq("gene_id"))
      .groupBy("sample_id")
      .agg(pcCols.head, pcCols.tail: _*)
  }

  /** Dual path (G > S): the S×S sample Gramian M = XᵀX has the SAME
    * nonzero eigenvalues as the gene Gramian, and every gene loading
    * is recovered distributed as v = X·u/√λ — so at the reference's
    * own post-filter config (10k genes × ≤ hundreds of samples,
    * `Study_effect.R:186-231`) the driver holds S² cells, never G²
    * (10⁸ cells ≈ 800 MB was the primal's collect).
    *
    * Work: one gene-keyed groupByKey (shuffle O(G·S) rows) whose
    * partitions accumulate local S×S outer-product tiles, treeReduced
    * to the driver (the ICC gramian shape); eigenpairs by the same
    * seeded 500-step deflated power iteration; loadings one keyed
    * aggregation; the primal's sign convention (largest-|loading|
    * gene positive, first-gene tie-break) replayed with a distributed
    * max(struct) so both paths emit identical PCs. */
  private def pcaDual(scaled: DataFrame, genes: Seq[String],
      sampleIds: Array[String], k: Int): DataFrame = {
    val spark = scaled.sparkSession
    import spark.implicits._
    val n = sampleIds.length
    val sIdxB = spark.sparkContext.broadcast(sampleIds.zipWithIndex.toMap)
    val flat = scaled.select("gene_id", "sample_id", "x").as[(String, String, Double)]
      .rdd.map { case (g, s, x) => (g, (sIdxB.value(s), x)) }
      .groupByKey(scaled.sparkSession.sessionState.conf.numShufflePartitions)
      .mapPartitions { it =>
        val local = Array.ofDim[Double](n * n)
        it.foreach { case (_, entries) =>
          val arr = entries.toArray
          var i = 0
          while (i < arr.length) {
            var j = 0
            while (j < arr.length) {
              local(arr(i)._1 * n + arr(j)._1) += arr(i)._2 * arr(j)._2
              j += 1
            }
            i += 1
          }
        }
        Iterator(local)
      }
      .treeReduce { (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }
    val work = Array.tabulate(n, n)((i, j) => flat(i * n + j))
    val eig = (0 until k).map { d =>
      val (lam, u) = Cluster.powerIter(work, d)
      for (i <- 0 until n; j <- 0 until n) work(i)(j) -= lam * u(i) * u(j)
      (math.max(lam, 1e-300), u)
    }
    // per-sample factors u_{d,s}/√λ_d, broadcast: v_{g,d} = Σ_s x·f_d(s)
    val facDf = broadcast(sampleIds.zipWithIndex.map { case (s, i) =>
      (s, eig.map { case (lam, u) => u(i) / math.sqrt(lam) })
    }.toSeq.toDF("sample_id", "__f"))
    val lCols = (0 until k).map(d => sum(col("x") * col("__f")(d)).as(s"__l$d"))
    val gi = genes.zipWithIndex.toDF("gene_id", "__gi")
    val loadDf = RelCache.hold("qc.pcaDual.loadings", scaled.join(facDf, Seq("sample_id"))
      .groupBy("gene_id").agg(lCols.head, lCols.tail: _*)
      .join(broadcast(gi), Seq("gene_id")))
    // primal sign rule: flip component d iff its largest-|loading|
    // entry is negative; Scala's maxBy keeps the FIRST max, so the
    // tie-break is lowest gene index — max(struct(abs, -gi, sign))
    // replays exactly that
    val signRow = loadDf.select((0 until k).map(d =>
      max(struct(abs(col(s"__l$d")).as("a"), (-col("__gi")).as("g"),
        signum(col(s"__l$d")).as("sg"))).getField("sg").as(s"s$d")): _*).head()
    val signs = (0 until k).map(d =>
      if (signRow.getDouble(d) < 0) -1.0 else 1.0)
    val pcCols = (0 until k).map(d =>
      sum(col("x") * col(s"__l$d") * lit(signs(d))).as(s"pc${d + 1}"))
    scaled.join(loadDf.select((col("gene_id") +:
        (0 until k).map(d => col(s"__l$d"))): _*), Seq("gene_id"))
      .groupBy("sample_id")
      .agg(pcCols.head, pcCols.tail: _*)
  }

  /** A29 — multivariate outlier detection (`arrayMvout::ArrayOutliers`
    * analogue): Mahalanobis distance of samples in the first `k` PCs
    * against a chi-squared cutoff. PCs come from [[pca]]; the distance
    * uses the per-PC variance (PCs are uncorrelated by construction). */
  def pcaOutliers(pcs: DataFrame, k: Int, alpha: Double = 0.001): DataFrame = {
    val cutoff = graft.functions.StatKernels.qchisq(1.0 - alpha, k.toDouble)
    val stats = pcs.select((1 to k).flatMap(i =>
      Seq(avg(col(s"pc$i")).as(s"m$i"), var_samp(col(s"pc$i")).as(s"v$i"))): _*)
    val d2 = pcs.crossJoin(broadcast(stats))
      .withColumn("d2", (1 to k).map(i =>
        (col(s"pc$i") - col(s"m$i")) * (col(s"pc$i") - col(s"m$i")) / col(s"v$i"))
        .reduce(_ + _))
    d2.select(col("sample_id"), col("d2"), (col("d2") > cutoff).as("outlier"))
  }

  /** A28 — MA-plot statistics (arrayQualityMetrics' `MAplot` module,
    * `QC_Affy_U133Plus2.R:136`): against the pseudo-reference array
    * (per-gene median across samples), M = value − ref and
    * A = (value + ref)/2; per sample, the median and IQR of M and the
    * median A — the table behind the plot grid. Two shuffles (gene
    * median, per-sample summary). */
  def maStats(m: ExpressionMatrix): DataFrame = {
    // gene-keyed cache shared by the reference-median aggregation and
    // the M/A join — see [[rle]] (round 18, the rmaBackground pattern)
    val parts = m.df.sparkSession.sessionState.conf.numShufflePartitions
    val base = RelCache.hold("qc.mastats.in",
      m.canonical.df.repartition(parts, col("gene_id")))
    val ref = base.groupBy("gene_id")
      .agg(expr("percentile(value, 0.5)").as("__ref"))
    base.join(ref, Seq("gene_id"))
      .withColumn("__m", col("value") - col("__ref"))
      .withColumn("__a", (col("value") + col("__ref")) / 2)
      .groupBy("sample_id")
      .agg(expr("percentile(__m, 0.5)").as("ma_m_median"),
           (expr("percentile(__m, 0.75)") - expr("percentile(__m, 0.25)")).as("ma_m_iqr"),
           expr("percentile(__a, 0.5)").as("ma_a_median"))
  }

  /** A28 — NUSE (affyPLM `NUSE`, `QC_Affy_U133Plus2.R:136`): per
    * (probeset, sample) the unscaled standard error of the PLM
    * summary, normalized by the probeset's median SE across samples;
    * reported as per-sample median + IQR (the boxplot stats). PLM
    * decomposition relationally: summary_psj = per-(probeset, sample)
    * probe median; probe effect = per-probe median of residuals from
    * the summary; SE from the remaining residuals, √(Σr²/(n(n−1))).
    * Probesets with one probe carry no SE and are dropped, as in
    * affyPLM. All keyed aggregations — no driver loop.
    *
    * Shuffle shape: probe → probeset is functional, so ONE hash
    * repartition on the probeset clusters every downstream key — the
    * (probeset, sample) summary, the (probeset, probe) effect, their
    * joins and the SE pass all run exchange-free on subset
    * co-partitioning. One data-sized shuffle total (was five).
    *
    * `approxAccuracy` switches the medians to `approx_percentile` for
    * corpus-scale runs; `None` (default) keeps exact percentiles —
    * the oracle-checked path. */
  def nuse(probes: ExpressionMatrix, annot: DataFrame,
      probeCol: String = "probe", probesetCol: String = "probeset",
      approxAccuracy: Option[Int] = None): DataFrame = {
    def pct(c: String, p: Double): org.apache.spark.sql.Column = approxAccuracy match {
      case Some(acc) => expr(s"approx_percentile($c, $p, $acc)")
      case None      => expr(s"percentile($c, $p)")
    }
    val spark = probes.df.sparkSession
    import spark.implicits._
    val mapped = probes.canonical.df.join(
      broadcast(annot.select(col(probeCol).as("gene_id"), col(probesetCol).as("__ps"))),
      Seq("gene_id"))
    // One shuffle: a probeset is ≤ ~70 probes × samples (the
    // medianPolish group contract), so the whole PLM inner loop —
    // per-sample summary median, per-probe effect median, residual
    // SE — runs group-local in a single `groupByKey(probeset)` pass
    // instead of two full-relation exact-percentile aggregations plus
    // a persisted residual join. Medians use Spark's exact-Percentile
    // interpolation formula verbatim so results are bit-identical to
    // the former SQL passes.
    val se = RelCache.hold("qc.nuse.se", mapped
      .select(col("__ps"), col("gene_id"), col("sample_id"), col("value"))
      .as[(String, String, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (ps, it) =>
        def median(vals: Array[Double]): Double = {
          java.util.Arrays.sort(vals)
          val pos = 0.5 * (vals.length - 1)
          val lo = math.floor(pos).toInt
          val hi = math.ceil(pos).toInt
          if (lo == hi) vals(lo)
          else (hi - pos) * vals(lo) + (pos - lo) * vals(hi)
        }
        val rows = it.toArray
        val summary = rows.groupBy(_._3).map { case (s, rs) =>
          s -> median(rs.map(_._4))
        }
        val r0 = rows.map(r => (r._2, r._3, r._4 - summary(r._3)))
        val probeEff = r0.groupBy(_._1).map { case (p, rs) =>
          p -> median(rs.map(_._3))
        }
        val acc = scala.collection.mutable.HashMap.empty[String, (Long, Double)]
        r0.foreach { case (p, s, v0) =>
          val r = v0 - probeEff(p)
          val (n, ss) = acc.getOrElse(s, (0L, 0.0))
          acc(s) = (n + 1, ss + r * r)
        }
        acc.iterator.collect { case (s, (n, ss)) if n > 1 =>
          (ps, s, math.sqrt(ss / (n.toDouble * (n - 1))))
        }
      }.toDF("__ps", "sample_id", "__se"))
    val medSe = se.groupBy("__ps")
      .agg(pct("__se", 0.5).as("__medse"))
      .filter(col("__medse") > 0)
    se.join(medSe, Seq("__ps"))
      .withColumn("__nuse", col("__se") / col("__medse"))
      .groupBy("sample_id")
      .agg(pct("__nuse", 0.5).as("nuse_median"),
           (pct("__nuse", 0.75) - pct("__nuse", 0.25)).as("nuse_iqr"))
  }

  /** A28 — RNA degradation slopes (affy `AffyRNAdeg`,
    * `QC_Affy_U133Plus2.R:143-145`): mean intensity by probe position
    * (5'→3') per sample, then the least-squares slope of mean vs
    * position — rising slope = 3' bias = degradation. `probes` needs a
    * position column (probe index within probeset). One aggregation +
    * one tiny per-sample regression, all relational. */
  def rnaDegradation(probes: DataFrame, sample: String = "sample_id",
      position: String = "position", value: String = "value"): DataFrame =
    probes.groupBy(col(sample), col(position).cast("double").as("__pos"))
      .agg(avg(col(value)).as("__mean"))
      .groupBy(col(sample))
      .agg((covar_samp(col("__pos"), col("__mean")) / var_samp(col("__pos"))).as("deg_slope"),
           avg(col("__mean")).as("mean_intensity"))

  /** A6 — two-sample Kolmogorov–Smirnov statistic via the sorted-CDF
    * formulation (`Study_effect.R:804-811` uses ks.test on correlation
    * strata): D = max over observed values of |F1 − F2|.
    *
    * Distributed prefix-sum shape — no single-partition global window:
    * collapse to per-distinct-value group counts (ties merge here, so
    * a ROWS cumsum equals the RANGE-frame empirical CDF), range-
    * partition by value, cumsum within each range partition, and
    * stitch with per-partition offsets computed by a window over
    * ≤ #partitions rows. Equal values land in one range partition, so
    * the stitched counts are exact. */
  def ksStatistic(df: DataFrame, value: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val filtered = df.filter(col(groupCol).isin(groupA, groupB))
    val totals = filtered.agg(
      count(when(col(groupCol) === groupA, 1)).as("__na"),
      count(when(col(groupCol) === groupB, 1)).as("__nb"))
    val perValue = filtered.groupBy(col(value).as("__v"))
      .agg(count(when(col(groupCol) === groupA, 1)).as("__ca"),
           count(when(col(groupCol) === groupB, 1)).as("__cb"))
    val ranged = perValue.repartitionByRange(parts, col("__v").asc)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("__la", sum("__ca").over(wLocal))
      .withColumn("__lb", sum("__cb").over(wLocal))
    val wOff = Window.partitionBy(lit(0)).orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("__pid")
      .agg(sum("__ca").as("__ta"), sum("__cb").as("__tb"))
      .select(col("__pid"),
        coalesce(sum("__ta").over(wOff), lit(0L)).as("__oa"),
        coalesce(sum("__tb").over(wOff), lit(0L)).as("__ob"))
    local.join(broadcast(offsets), Seq("__pid")).crossJoin(broadcast(totals))
      .select(abs((col("__la") + col("__oa")).cast("double") / col("__na") -
        (col("__lb") + col("__ob")).cast("double") / col("__nb")).as("__diff"))
      .agg(max(col("__diff")).as("ks_d"))
  }
}
