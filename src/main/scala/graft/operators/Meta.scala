package graft.operators

import graft.functions.StatFunctions
import graft.model.ExpressionMatrix
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Meta-analysis operators — SURVEY.md §2.4 A20–A25, A30.
  *
  * Everything except the ICC gramian is closed-form per-gene algebra
  * over (gene, study) statistics: a single shuffle keyed on gene.
  */
object Meta {

  /** A22 — per-(gene, study) standardized effect sizes (GeneMeta
    * `getdF`/`dstar`/`sigmad`, `Meta_analysis.R:755-841`):
    * Cohen's d, small-sample-unbiased d*, and its variance. Input is
    * the [[DiffExpr.groupStats]] relation restricted to two groups. */
  def effectSizes(stats: DataFrame, groupCol: String, study: String,
      groupA: String, groupB: String, gene: String = "gene_id"): DataFrame = {
    val base = stats.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(gene), col(study))
      .agg(max(when(col(groupCol) === groupA, col("mean"))).as("ma"),
           max(when(col(groupCol) === groupB, col("mean"))).as("mb"),
           max(when(col(groupCol) === groupA, col("var"))).as("va"),
           max(when(col(groupCol) === groupB, col("var"))).as("vb"),
           max(when(col(groupCol) === groupA, col("n"))).as("na"),
           max(when(col(groupCol) === groupB, col("n"))).as("nb"))
      .filter(col("ma").isNotNull && col("mb").isNotNull && col("na") > 1 && col("nb") > 1 &&
        (col("va") + col("vb")) > 0)
    val sp = sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb")) /
      (col("na") + col("nb") - 2))
    val d = (col("ma") - col("mb")) / sp
    val nTot = col("na") + col("nb")
    val dstar = col("d") * (lit(1.0) - lit(3.0) / (lit(4.0) * (nTot - 2) - 1))
    base.withColumn("d", d)
      .withColumn("dstar", dstar)
      .withColumn("sigmad",
        lit(1.0) / col("na") + lit(1.0) / col("nb") +
          col("dstar") * col("dstar") / (lit(2.0) * nTot))
      .select(col(gene), col(study), col("d"), col("dstar"), col("sigmad"))
  }

  /** A22 — fixed/random-effects combine (GeneMeta `f.Q`/`tau2.DL`/
    * `mu.tau2`/`var.tau2`, `Meta_analysis.R:812-841`): Cochran Q,
    * DerSimonian–Laird τ², FEM combined effect/z, and the REM combined
    * effect/z with weights 1/(σ²_d+τ²) (the reference's
    * `varsDL <- vars + tau2.DL; muREM <- mu.tau2(mns, varsDL);
    * ZREM <- muREM/sqrt(var.tau2(varsDL))`).
    *
    * Two aggregations on the same gene key — the REM weights depend
    * nonlinearly on τ², so a second pass over `effects` is inherent;
    * both shuffles hash on the gene, and the relation is (genes ×
    * studies)-sized. Callers whose `effects` lineage is expensive
    * should persist it. */
  def femRem(effects: DataFrame, gene: String = "gene_id"): DataFrame = {
    val w = lit(1.0) / col("sigmad")
    val perGene = effects
      .withColumn("w", w)
      .groupBy(col(gene))
      .agg(count(lit(1)).as("k"),
           sum(col("w")).as("sw"), sum(col("w") * col("w")).as("sw2"),
           sum(col("w") * col("dstar")).as("swd"),
           sum(col("w") * col("dstar") * col("dstar")).as("swd2"))
      .filter(col("k") > 1)
    val fem = perGene
      .withColumn("mu_fem", col("swd") / col("sw"))
      .withColumn("q", col("swd2") - col("swd") * col("swd") / col("sw"))
      .withColumn("tau2", greatest(lit(0.0),
        (col("q") - (col("k") - 1)) / (col("sw") - col("sw2") / col("sw"))))
      .withColumn("z_fem", col("mu_fem") * sqrt(col("sw")))
      .withColumn("q_p", StatFunctions.pchisqUpper(col("q"), col("k") - 1))
      .select(col(gene), col("k"), col("mu_fem"), col("z_fem"), col("q"), col("q_p"), col("tau2"))
    val rem = effects.join(fem.select(col(gene), col("tau2")), Seq(gene))
      .withColumn("wp", lit(1.0) / (col("sigmad") + col("tau2")))
      .groupBy(col(gene))
      .agg(sum("wp").as("swp"), sum(col("wp") * col("dstar")).as("swpd"))
      .select(col(gene), (col("swpd") / col("swp")).as("mu_rem"),
        ((col("swpd") / col("swp")) * sqrt(col("swp"))).as("z_rem"))
    fem.join(rem, Seq(gene))
  }

  /** A25 — weighted Stouffer combine (`Meta_analysis.R:1211-1228`):
    * per gene over platforms: z_i = sign(FC_i) · qnorm(1 − p_i/2),
    * w_i = |FC_i| + |FC_i|·ICC_i², combined
    * Z = Σ √|FC_i| z_i / √Σ w_i (the reference's exact weighting,
    * `Meta_analysis.R:105-121`), combined p = 2·pnorm(−|Z|).
    * Requires membership in ≥ 2 platforms (`:1218`). */
  def weightedStouffer(perPlatform: DataFrame, gene: String = "gene_id",
      p: String = "p", fc: String = "log2fc", icc: String = "icc"): DataFrame = {
    val z = signum(col(fc)) * StatFunctions.qnorm(lit(1.0) - col(p) / 2)
    val wgt = abs(col(fc)) + abs(col(fc)) * col(icc) * col(icc)
    perPlatform
      .withColumn("__z", z).withColumn("__w", wgt)
      .groupBy(col(gene))
      .agg(count(lit(1)).as("n_platforms"),
           sum(sqrt(abs(col(fc))) * col("__z")).as("__num"),
           sum(col("__w")).as("__den"),
           avg(col(fc)).as("avg_log2fc"))
      .filter(col("n_platforms") >= 2)
      .withColumn("z_comb", col("__num") / sqrt(col("__den")))
      .withColumn("p_comb", StatFunctions.zP2(col("z_comb")))
      .select(col(gene), col("n_platforms"), col("avg_log2fc"), col("z_comb"), col("p_comb"))
  }

  /** A20 — integrative correlation (MergeMaid `intCor`,
    * `Meta_analysis.R:314-347`): for each gene, its correlation-with-
    * every-other-gene vector within each platform; ICC(gene) between
    * two platforms = Pearson correlation of those two G-vectors.
    *
    * The reference flags this "!!!very time consuming!!!" — it is G×G
    * per platform pair as written. The G² NEVER materialises here:
    * with per-gene rows standardized to mean 0 / norm 1, the
    * correlation vectors are rows of R_k = X_k·X_kᵀ, and every moment
    * the per-gene Pearson needs collapses to a quadratic form over
    * sample-dimension matrices:
    *
    *   Σ_o r1[g,o]          = x1_gᵀ·s1           (s1 = Σ_o x1_o)
    *   Σ_o r1[g,o]²         = x1_gᵀ(X1ᵀX1)x1_g
    *   Σ_o r1[g,o]·r2[g,o]  = x1_gᵀ(X1ᵀX2)x2_g
    *
    * (self term o = g subtracted exactly). X1ᵀX1, X2ᵀX2, X1ᵀX2 and the
    * s-vectors are samples×samples — accumulated in sample-row TILES
    * sized by `spark.graft.icc.tileBytes` (one `treeAggregate` pass
    * per tile; one pass total at reference cohort scale), so cohorts
    * past the per-task memory envelope cost more passes, not an OOM —
    * then broadcast; the final map touches each gene once. Total work
    * O(G·s²) instead of O(G²·s), shuffle O(G·s) instead of two G²
    * block products. */
  def icc(m1: ExpressionMatrix, m2: ExpressionMatrix): DataFrame =
    iccMulti(Seq("p1" -> m1, "p2" -> m2)).select("gene_id", "icc")

  /** One sample-row tile of an [[iccMulti]] cross-product matrix and,
    * in a gramian's first pass, its s-vector and row count. */
  private final case class OuterSums(m: Array[Array[Double]], s: Array[Double]) {
    var rows = 0L
  }

  /** A20 for all platform pairs, standardizing each platform ONCE
    * (`Meta_analysis.R:331` reuses the intermediate across pairs).
    * Returns (p1, p2, gene_id, icc) for every unordered pair. */
  def iccMulti(platforms: Seq[(String, ExpressionMatrix)]): DataFrame = {
    val spark = platforms.head._2.df.sparkSession
    import spark.implicits._

    // genes present on every platform (MergeMaid intersects)
    val genes = platforms.map { case (_, m) =>
      m.canonical.df.select(col("gene_id")).distinct()
    }.reduce((a, b) => a.join(b, Seq("gene_id"), "left_semi"))

    // per-platform standardized dense per-gene vectors over the
    // platform's own sample universe (missing cells = 0 before
    // centering — the dense-matrix semantics of the reference),
    // with the platform's sample count: one collect of its sample ids
    def standardize(m: ExpressionMatrix): (Dataset[(String, Array[Double])], Int) = {
      val sampleIds = m.canonical.df.select(col("sample_id")).distinct()
        .orderBy("sample_id").collect().map(_.getString(0))
      val bc = spark.sparkContext.broadcast(sampleIds.zipWithIndex.toMap)
      val v = m.canonical.df.join(genes, Seq("gene_id"), "left_semi")
        .select(col("gene_id"), col("sample_id"), col("value"))
        .as[(String, String, Double)]
        .groupByKey(_._1)
        .mapGroups { (g, it) =>
          val arr = new Array[Double](bc.value.size)
          it.foreach { case (_, s, v) => arr(bc.value(s)) = v }
          val mean = arr.sum / arr.length
          var ss = 0.0
          var i = 0
          while (i < arr.length) { arr(i) -= mean; ss += arr(i) * arr(i); i += 1 }
          val norm = math.sqrt(ss)
          if (norm > 0) { i = 0; while (i < arr.length) { arr(i) /= norm; i += 1 } }
          (g, arr)
        }
      (v, sampleIds.length)
    }

    // The gramian accumulates in SAMPLE-ROW TILES: each treeAggregate
    // pass holds only tileRows × nCols doubles per task, so a cohort
    // beyond the per-task memory envelope degrades to MORE PASSES over
    // the persisted vectors instead of an OOM (the round-4 10× probe
    // measured exactly that failure). Tile size is governed by
    // spark.graft.icc.tileBytes (default 64 MiB); at reference cohort
    // scale one tile covers every row, so the plan (and the q46 hash)
    // is unchanged. Per-entry float accumulation order is identical
    // across tilings — each entry sees the same per-partition gene
    // sequence and the same combine topology. With `sums`, the first
    // pass also accumulates the s-vector Σ_g x_g and the row count in
    // the same seqOp and combine, so they cost no pass of their own.
    val tileBytes = spark.conf.getOption("spark.graft.icc.tileBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    def outerAgg(ds: Dataset[(Array[Double], Array[Double])],
        nRows: Int, nCols: Int, sums: Boolean = false): OuterSums = {
      val tileRows = math.max(1, (tileBytes / 8 / math.max(1, nCols)).toInt)
      val rdd = ds.rdd
      val out = OuterSums(new Array[Array[Double]](nRows),
        if (sums) new Array[Double](nRows) else null)
      var r0 = 0
      while (r0 < nRows) {
        val r1 = math.min(nRows, r0 + tileRows)
        val lo = r0
        val hi = r1
        val withSums = sums && lo == 0
        val part = rdd.treeAggregate(null: OuterSums)(
          (acc, xy) => {
            val (x, y2) = xy
            val a = if (acc != null) acc else OuterSums(Array.ofDim[Double](hi - lo, y2.length),
              if (withSums) new Array[Double](x.length) else null)
            val m = a.m
            var i = lo
            while (i < hi) {
              if (x(i) != 0.0) {
                val row = m(i - lo)
                var j = 0
                while (j < y2.length) { row(j) += x(i) * y2(j); j += 1 }
              }
              i += 1
            }
            if (withSums) {
              i = 0; while (i < x.length) { a.s(i) += x(i); i += 1 }
              a.rows += 1
            }
            a
          },
          (a, b) =>
            if (a == null) b else if (b == null) a
            else {
              for (i <- a.m.indices; j <- a.m(i).indices) a.m(i)(j) += b.m(i)(j)
              if (withSums) {
                var i = 0; while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
                a.rows += b.rows
              }
              a
            })
        var i = lo
        while (i < hi) {
          out.m(i) = if (part == null) new Array[Double](nCols) else part.m(i - lo)
          i += 1
        }
        if (withSums && part != null) {
          System.arraycopy(part.s, 0, out.s, 0, nRows)
          out.rows = part.rows
        }
        r0 = r1
      }
      out
    }

    val (std, counts) = platforms.map { case (name, m) =>
      val (v, n) = standardize(m)
      (name -> v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), name -> n)
    }.unzip
    val sizes = counts.toMap
    // one pass per platform: gramian, s-vector and gene count
    val moments = std.map { case (name, v) =>
      name -> outerAgg(v.map(t => (t._2, t._2)), sizes(name), sizes(name), sums = true)
    }.toMap

    def qf(x: Array[Double], mat: Array[Array[Double]], y2: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) {
        if (x(i) != 0.0) {
          val row = mat(i)
          var inner = 0.0
          var j = 0
          while (j < y2.length) { inner += row(j) * y2(j); j += 1 }
          acc += x(i) * inner
        }
        i += 1
      }
      acc
    }
    def dot(x: Array[Double], y2: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i) * y2(i); i += 1 }
      acc
    }

    // every platform holds exactly the common genes
    val nGenes = moments(std.head._1).rows
    std.combinations(2).map { case Seq((n1, v1), (n2, v2)) =>
      val joined = v1.joinWith(v2, v1("_1") === v2("_1"))
        .map { case ((g, x1), (_, x2)) => (g, x1, x2) }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cross = outerAgg(joined.map(t => (t._2, t._3)), sizes(n1), sizes(n2)).m
      val bcAll = spark.sparkContext.broadcast(
        (moments(n1).m, moments(n2).m, cross, moments(n1).s, moments(n2).s, nGenes))
      joined.map { case (g, x1, x2) =>
        val (g11, g22, c, s1, s2, gCount) = bcAll.value
        val n = (gCount - 1).toDouble
        val r11 = dot(x1, x1) // 1 for standardized, 0 for zero-variance
        val r22 = dot(x2, x2)
        val sa = dot(x1, s1) - r11
        val sb = dot(x2, s2) - r22
        val saa = qf(x1, g11, x1) - r11 * r11
        val sbb = qf(x2, g22, x2) - r22 * r22
        val sab = qf(x1, c, x2) - r11 * r22
        val cov = sab - sa * sb / n
        val va = saa - sa * sa / n
        val vb = sbb - sb * sb / n
        val icc = if (va > 0 && vb > 0) cov / math.sqrt(va * vb) else Double.NaN
        (n1, n2, g, icc)
      }.toDF("p1", "p2", "gene_id", "icc")
    }.reduce(_ unionByName _)
  }

  /** A21 — study-specific per-gene logistic regression
    * (`Meta_analysis.R:581-598`, modelOutcome): for each gene, fit
    * outcome ~ expression by IRLS and return the Wald z score of the
    * slope. `groupByKey(gene).mapGroups` — per-group data is one row
    * per sample (bounded by cohort size), the gene dimension stays
    * fully distributed. */
  def logisticZScores(m: ExpressionMatrix, outcomes: DataFrame,
      outcomeCol: String = "outcome", maxIter: Int = 25): DataFrame = {
    val spark = m.df.sparkSession
    import spark.implicits._
    val joined = m.canonical.df.join(broadcast(outcomes), Seq("sample_id"))
      .select(col("gene_id"), col("sample_id"), col("value"),
        col(outcomeCol).cast("double").as("y"))
      .as[(String, String, Double, Double)]
    joined.groupByKey(_._1).mapGroups { (gene, it) =>
      // sort by sample so float accumulation order (and thus the last
      // ulp of the fit) is reproducible across runs/partitionings
      val rows = it.toArray.sortBy(_._2)
      val x = rows.map(_._3)
      val y = rows.map(_._4)
      // IRLS for logit(p) = b0 + b1 x, Wald z = b1 / se(b1)
      var b0 = 0.0; var b1 = 0.0
      var iter = 0
      var converged = false
      var se = Double.NaN
      while (iter < maxIter && !converged) {
        var s00 = 0.0; var s01 = 0.0; var s11 = 0.0; var g0 = 0.0; var g1 = 0.0
        var i = 0
        while (i < x.length) {
          val eta = b0 + b1 * x(i)
          val p = 1.0 / (1.0 + math.exp(-eta))
          val w = math.max(p * (1 - p), 1e-10)
          s00 += w; s01 += w * x(i); s11 += w * x(i) * x(i)
          g0 += y(i) - p; g1 += (y(i) - p) * x(i)
          i += 1
        }
        val det = s00 * s11 - s01 * s01
        if (math.abs(det) < 1e-12) { converged = true }
        else {
          val d0 = (s11 * g0 - s01 * g1) / det
          val d1 = (s00 * g1 - s01 * g0) / det
          b0 += d0; b1 += d1
          se = math.sqrt(s00 / det)
          if (math.abs(d0) < 1e-10 && math.abs(d1) < 1e-10) converged = true
        }
        iter += 1
      }
      (gene, b1, if (se > 0) b1 / se else Double.NaN)
    }.toDF("gene_id", "beta", "z")
  }

  /** A23 — permutation FDR (`Meta_analysis.R:896-991`): observed
    * per-gene effect |z| vs the pooled null distribution from `nperm`
    * deterministic label permutations. FDR(gene) = (mean permuted
    * exceedance count) / (observed count at that threshold), the
    * zScoreFDR estimator shape. One explode fan-out, aggregations
    * only. */
  def permutationFdr(m: ExpressionMatrix, groups: DataFrame, groupA: String,
      groupB: String, nperm: Int = 50, md5Hashes: Boolean = false): DataFrame = {
    def zOf(stats: DataFrame, extraKey: Seq[String]): DataFrame = {
      val keys = (Seq("gene_id") ++ extraKey).map(col)
      stats.groupBy(keys: _*)
        .agg(max(when(col("group") === groupA, col("mean"))).as("ma"),
             max(when(col("group") === groupB, col("mean"))).as("mb"),
             max(when(col("group") === groupA, col("var"))).as("va"),
             max(when(col("group") === groupB, col("var"))).as("vb"),
             max(when(col("group") === groupA, col("n"))).as("na"),
             max(when(col("group") === groupB, col("n"))).as("nb"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("z", (col("ma") - col("mb")) /
          sqrt(col("va") / col("na") + col("vb") / col("nb")))
    }
    val obsStats = m.canonical.df.join(broadcast(groups), Seq("sample_id"))
      .groupBy("gene_id", "group")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), var_samp("value").as("var"))
    // obs is gene-sized and consumed by three actions below (the
    // count, the exceedance join, and the ranked final join) —
    // materialize it once so the matrix aggregation doesn't
    // re-execute per consumer.
    val obs = zOf(obsStats, Nil).select(col("gene_id"), abs(col("z")).as("z_obs"))
      .localCheckpoint(true)

    val permLabels = permutationLabels(groups.select(col("sample_id"), col("group")),
      "sample_id", "group", nperm, md5Hashes)
    val permStats = m.canonical.df
      .join(permLabels.withColumnRenamed("perm_label", "group"), Seq("sample_id"))
      .groupBy(col("gene_id"), col("perm"), col("group"))
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), var_samp("value").as("var"))
    val permZ = zOf(permStats, Seq("perm")).select(col("gene_id"), abs(col("z")).as("z_perm"))

    // pooled-null FDR: for each observed |z|, fraction of the pooled
    // permuted |z| that exceed it, scaled by observed exceedance
    val nGenes = obs.count().toDouble
    val exceed = obs.join(permZ, Seq("gene_id"))
      .groupBy(col("gene_id"), col("z_obs"))
      .agg((sum((col("z_perm") >= col("z_obs")).cast("int")) / nperm.toDouble).as("e_null"))
      .select(col("gene_id"), col("e_null"))
    val obsRank = obs.withColumn("n_ge_obs",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("z_obs").desc)
        .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    obsRank.join(exceed, Seq("gene_id"))
      .withColumn("fdr", least(lit(1.0), col("e_null") * nGenes / col("n_ge_obs")))
      .select("gene_id", "z_obs", "fdr")
  }

  /** A26 — set enrichment (`Meta_analysis.R:1359-1392`, topGO classic
    * Fisher): per term, hypergeometric upper-tail p of the overlap
    * between the term's gene set and the significant set. Counts are
    * plain aggregations; the p-value is the engine-invariant
    * [[graft.functions.StatKernels.hyperTail]] recurrence kernel
    * (codegen `StaticInvoke`, no closure UDF). */
  def enrichment(term2gene: DataFrame, sigGenes: DataFrame, universe: DataFrame,
      term: String = "term", gene: String = "gene_id"): DataFrame = {
    val n = universe.select(col(gene)).distinct().count()
    val k = sigGenes.select(col(gene)).distinct().count()
    val counts = term2gene
      .join(sigGenes.select(col(gene)).distinct().withColumn("__sig", lit(1)),
        Seq(gene), "left")
      .groupBy(col(term))
      .agg(count(lit(1)).as("term_size"),
           coalesce(sum(col("__sig")), lit(0L)).as("overlap"))
    counts.withColumn("p",
        graft.functions.StatFunctions.hyperTail(
          lit(n), lit(k), col("term_size"), col("overlap")))
      .withColumn("n_universe", lit(n)).withColumn("n_sig", lit(k))
  }

  /** A30 — mean ICC per gene over platform-pair combinations. */
  def meanIcc(iccPairs: DataFrame, gene: String = "gene_id"): DataFrame =
    iccPairs.groupBy(col(gene)).agg(avg(col("icc")).as("mean_icc"))

  /** A24 — integration-driven discovery rate (`Meta_analysis.R:872-893`):
    * per threshold t, count genes whose combined |z| passes t while no
    * single-platform |z| does. Thresholds fan out via explode. */
  def idr(perGene: DataFrame, thresholds: Seq[Double], gene: String = "gene_id",
      zComb: String = "z_comb", zMaxSingle: String = "z_max_single"): DataFrame =
    perGene.crossJoin(broadcast(
        perGene.sparkSession.createDataFrame(thresholds.map(Tuple1(_))).toDF("t")))
      .select(col(gene), col(zComb), col(zMaxSingle), col("t"))
      .groupBy(col("t"))
      .agg(sum((abs(col(zComb)) >= col("t") && abs(col(zMaxSingle)) < col("t")).cast("int"))
        .as("idr_count"))

  /** A23 — permutation FDR (`Meta_analysis.R:896-991`, nperm=50 with
    * fixed seeds): fan 50 deterministic label permutations out with
    * explode, recompute the combined z per (gene, perm), and report
    * the exceedance rate against the observed z. The permutation is a
    * deterministic pseudo-shuffle: labels reassigned by
    * xxhash64(sample, seed) rank — reproducible across runs/cluster
    * sizes, no RNG state. */
  def permutationLabels(samples: DataFrame, sample: String, label: String,
      nperm: Int, md5Hashes: Boolean = false): DataFrame = {
    val perms = samples.crossJoin(broadcast(
      samples.sparkSession.range(1, nperm + 1).select(col("id").cast("int").as("perm"))))
    // rank samples by deterministic hash within perm; assign the sorted
    // label multiset by that rank => a seeded permutation of labels.
    // md5 is the engine-portable hash family (oracle SQL reproduces
    // it); xxhash64 is the production path.
    val hashExpr =
      if (md5Hashes) md5(concat_ws("#", col("perm").cast("string"), col(sample)))
      else xxhash64(col(sample), col("perm"))
    val wHash = org.apache.spark.sql.expressions.Window.partitionBy(col("perm"))
      .orderBy(hashExpr.asc, col(sample).asc)
    val wLabel = org.apache.spark.sql.expressions.Window.partitionBy(col("perm"))
      .orderBy(col(label).asc, col(sample).asc)
    val ranked = perms.withColumn("__hrk", row_number().over(wHash))
    val labelByRank = perms.withColumn("__lrk", row_number().over(wLabel))
      .select(col("perm").as("__perm2"), col("__lrk"), col(label).as("perm_label"))
    ranked.join(labelByRank,
        ranked("perm") === labelByRank("__perm2") && ranked("__hrk") === labelByRank("__lrk"))
      .select(col(sample), col("perm"), col("perm_label"))
  }
}
