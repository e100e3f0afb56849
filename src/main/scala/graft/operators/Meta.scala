package graft.operators

import java.nio.charset.StandardCharsets

import graft.functions.{IccVectors, PermFdrStats, StatFunctions}
import graft.model.{ExpressionMatrix, RelCache}
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

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

  /** One row tile of the upper block triangle of the gramian of the
    * concatenated per-platform vectors — every X_iᵀX_j with i ≤ j — as
    * rows: a row of platform i holds the columns from platform i's
    * offset on. In the first tile's pass, also Σ_g of the vectors and
    * the gene count. */
  private final case class OuterSums(m: Array[Array[Double]], s: Array[Double]) {
    var rows = 0L
  }

  /** A20 for all platform pairs in gene-keyed passes
    * (`Meta_analysis.R:331` standardizes each platform once and reuses
    * it across pairs). Returns (p1, p2, gene_id, icc) for every
    * unordered pair, in input order.
    *
    * One pass-shaped plan for any number of platforms:
    *  - one collect of every platform's sample ids (per-partition
    *    distinct, no shuffle) fixes each platform's dense universe;
    *  - one gene-keyed aggregation over all platforms feeds the native
    *    [[IccVectors]] kernel: a common gene's standardized vectors,
    *    concatenated (genes missing from a platform drop out), held
    *    under `meta.iccmulti.vectors`;
    *  - one `treeAggregate` accumulates, for the concatenated vector z,
    *    the upper block triangle of ZᵀZ — every platform's gramian and
    *    every pair's cross product — plus the s-vector and gene count;
    *  - one per-gene map evaluates every pair's quadratic forms
    *    against the broadcast sums.
    *
    * The gramian accumulates in row TILES: each pass holds at most
    * `spark.graft.icc.tileBytes` (default 64 MiB) of accumulator rows
    * per task, at least one row, so a cohort beyond the per-task
    * memory envelope costs more passes over the held vectors instead
    * of an OOM. At reference cohort scale one tile covers every row.
    * Each entry sees the same per-partition gene sequence and combine
    * topology under any tiling, so tilings agree bit for bit; the
    * s-vector and gene count ride in the first pass. */
  def iccMulti(platforms: Seq[(String, ExpressionMatrix)]): DataFrame = {
    val spark = platforms.head._2.df.sparkSession
    import spark.implicits._

    val cells = platforms.zipWithIndex.map { case ((_, m), k) =>
      m.canonical.df.select(lit(k).as("p"), col("gene_id"),
        col("sample_id").cast("string").as("sample_id"), col("value").cast("double").as("value"))
    }.reduce(_ unionByName _)
    // each platform's sample universe in Spark's string order
    val ids = cells.select(col("p"), col("sample_id")).as[(Int, String)]
      .mapPartitions(_.toSet.iterator).collect().distinct
    val samples = platforms.indices.map { k =>
      ids.collect { case (`k`, s) => s }.toSeq.sortWith(sparkStringLt)
    }
    val offsets = samples.scanLeft(0)(_ + _.size).toIndexedSeq
    val width = offsets.last
    val vectors = RelCache.hold("meta.iccmulti.vectors", cells.groupBy(col("gene_id"))
      .agg(IccVectors.icc_vectors(
        collect_list(struct(col("p"), col("sample_id"), col("value"))), samples).as("z"))
      .filter(col("z").isNotNull))
    val zs = vectors.select(col("z")).as[Array[Double]].rdd

    // row r belongs to the platform whose offset range holds it, and
    // its columns start at that platform's offset
    val rowStart = Array.tabulate(width)(r => offsets(offsets.lastIndexWhere(_ <= r)))
    val tileBytes = spark.conf.getOption("spark.graft.icc.tileBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    // with no common gene nothing below reads the sums
    val gram = new Array[Array[Double]](width)
    var colSums: Array[Double] = null
    var nGenes = 0L
    var r0 = 0
    while (r0 < width) {
      var r1 = r0 + 1
      var bytes = 8L * (width - rowStart(r0))
      while (r1 < width && bytes + 8L * (width - rowStart(r1)) <= tileBytes) {
        bytes += 8L * (width - rowStart(r1)); r1 += 1
      }
      val lo = r0
      val hi = r1
      val withSums = lo == 0
      val part = zs.treeAggregate(null: OuterSums)(
        (acc, z) => {
          val a = if (acc != null) acc else OuterSums(
            Array.tabulate(hi - lo)(i => new Array[Double](width - rowStart(lo + i))),
            if (withSums) new Array[Double](width) else null)
          var i = lo
          while (i < hi) {
            if (z(i) != 0.0) {
              val row = a.m(i - lo)
              val c0 = rowStart(i)
              var j = 0
              while (j < row.length) { row(j) += z(i) * z(c0 + j); j += 1 }
            }
            i += 1
          }
          if (withSums) {
            i = 0; while (i < width) { a.s(i) += z(i); i += 1 }
            a.rows += 1
          }
          a
        },
        (a, b) =>
          if (a == null) b else if (b == null) a
          else {
            for (i <- a.m.indices; j <- a.m(i).indices) a.m(i)(j) += b.m(i)(j)
            if (withSums) {
              var i = 0; while (i < width) { a.s(i) += b.s(i); i += 1 }
              a.rows += b.rows
            }
            a
          })
      if (part != null) {
        System.arraycopy(part.m, 0, gram, lo, hi - lo)
        if (withSums) { colSums = part.s; nGenes = part.rows }
      }
      r0 = r1
    }

    // x_aᵀ·M·x_b over platform a's rows and platform b's columns
    // (a ≤ b) of the block triangle
    def qf(z: Array[Double], m: Array[Array[Double]], a: Int, b: Int): Double = {
      val (c0, zb, nb) = (offsets(b) - offsets(a), offsets(b), offsets(b + 1) - offsets(b))
      var acc = 0.0
      var i = offsets(a)
      while (i < offsets(a + 1)) {
        if (z(i) != 0.0) {
          val row = m(i)
          var inner = 0.0
          var j = 0
          while (j < nb) { inner += row(c0 + j) * z(zb + j); j += 1 }
          acc += z(i) * inner
        }
        i += 1
      }
      acc
    }
    def dot(x: Array[Double], y: Array[Double], k: Int): Double = {
      var acc = 0.0; var i = offsets(k)
      while (i < offsets(k + 1)) { acc += x(i) * y(i); i += 1 }
      acc
    }

    val names = platforms.map(_._1)
    val pairs = platforms.indices.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val bc = spark.sparkContext.broadcast((gram, colSums, nGenes))
    vectors.select(col("gene_id"), col("z")).as[(String, Array[Double])].flatMap { case (g, z) =>
      val (m, s, gCount) = bc.value
      val n = (gCount - 1).toDouble
      pairs.map { case (a, b) =>
        val r11 = dot(z, z, a) // 1 for standardized, 0 for zero-variance
        val r22 = dot(z, z, b)
        val sa = dot(z, s, a) - r11
        val sb = dot(z, s, b) - r22
        val saa = qf(z, m, a, a) - r11 * r11
        val sbb = qf(z, m, b, b) - r22 * r22
        val sab = qf(z, m, a, b) - r11 * r22
        val cov = sab - sa * sb / n
        val va = saa - sa * sa / n
        val vb = sbb - sb * sb / n
        val icc = if (va > 0 && vb > 0) cov / math.sqrt(va * vb) else Double.NaN
        (names(a), names(b), g, icc)
      }
    }.toDF("p1", "p2", "gene_id", "icc")
  }

  /** Spark's string order (UTF-8 bytes, unsigned), nulls first. */
  private def sparkStringLt(a: String, b: String): Boolean =
    if (a == null) b != null
    else b != null && UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

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
    * per-gene two-group |z| against `nperm` deterministic label
    * permutations. For each gene, e_null is the fraction of the
    * permutations whose |z| for that gene reaches the observed |z|, and
    * FDR(gene) = min(1, e_null · nGenes / #{genes with |z| ≥ the
    * observed |z|}), the zScoreFDR estimator shape.
    *
    * The permutations are [[permutedLabels]] of the whole `groups`
    * relation, computed on the driver from one collect. One
    * `groupBy(gene_id)` then feeds the native [[PermFdrStats]] kernel,
    * which scores the observed assignment and every permutation per
    * gene (no gene × nperm rows), and one gene-grain window ranks the
    * observed |z| and counts the genes.
    *
    * A gene enters when both observed groups have more than one cell,
    * and is reported when some permutation also does. A zero-variance
    * gene (constant, or constant within each group) has a null |z| and
    * a null FDR; a null permuted |z| never counts as an exceedance. */
  def permutationFdr(m: ExpressionMatrix, groups: DataFrame, groupA: String,
      groupB: String, nperm: Int = 50, md5Hashes: Boolean = false): DataFrame = {
    val rows = groups.select(col("sample_id").cast("string"), col("group").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    val samples = rows.map(_._1).filter(_ != null).distinct.sortWith(sparkStringLt)
    val index = samples.zipWithIndex.toMap
    val labelsA = new Array[Int]((nperm + 1) * samples.size)
    val labelsB = new Array[Int](labelsA.length)
    def assign(p: Int, sample: String, label: String): Unit =
      if (sample != null) {
        val i = p * samples.size + index(sample)
        if (label == groupA) labelsA(i) += 1
        if (label == groupB) labelsB(i) += 1
      }
    rows.foreach { case (s, g) => assign(0, s, g) }
    permutedLabels(rows, nperm, md5Hashes).zipWithIndex.foreach { case (perm, p) =>
      perm.foreach { case (s, g) => assign(p + 1, s, g) }
    }

    val stats = m.canonical.df.groupBy(col("gene_id"))
      .agg(PermFdrStats.perm_fdr_stats(
        collect_list(struct(col("sample_id").cast("string"), col("value").cast("double"))),
        samples, labelsA.toSeq, labelsB.toSeq, nperm).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col("gene_id"), col("__s.z_obs").as("z_obs"), col("__s.n_perm").as("__np"),
        col("__s.n_exceed").as("__ne"))
    val byZ = Window.orderBy(col("z_obs").desc)
    stats
      .withColumn("n_ge_obs", count(lit(1)).over(
        byZ.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__ng", count(lit(1)).over(
        byZ.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__np") > 0)
      .withColumn("fdr", when(col("z_obs").isNotNull, least(lit(1.0),
        col("__ne") / nperm.toDouble * col("__ng").cast("double") / col("n_ge_obs"))))
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

  /** A23's label permutations (`Meta_analysis.R:896-991`, nperm = 50
    * with fixed seeds): for each of perms 1..nperm, the (sample, label)
    * rows of `rows` with the labels reassigned by a deterministic
    * pseudo-shuffle — reproducible across runs and cluster sizes, no
    * RNG state. Within a perm, rows ranked by (hash, sample) take the
    * labels ranked by (label, sample), rank for rank, so each perm
    * permutes the label multiset. The hash is xxhash64(sample, perm),
    * or with `md5Hashes` md5("<perm>#<sample>"), the engine-portable
    * family an oracle can replay. Orders are Spark's: strings by UTF-8
    * bytes, nulls first. */
  private[graft] def permutedLabels(rows: IndexedSeq[(String, String)], nperm: Int,
      md5Hashes: Boolean): IndexedSeq[IndexedSeq[(String, String)]] = {
    def lt(a: (String, String), b: (String, String)): Boolean =
      if (a._1 == b._1) sparkStringLt(a._2, b._2) else sparkStringLt(a._1, b._1)
    val labels = rows.map(_.swap).sortWith(lt).map(_._1)
    (1 to nperm).map { p =>
      val byHash =
        if (md5Hashes) rows.map { case (s, _) =>
          // concat_ws skips a null sample
          val key = if (s == null) p.toString else s"$p#$s"
          (DigestUtils.md5Hex(key.getBytes(StandardCharsets.UTF_8)), s)
        }.sortWith(lt)
        else rows.map { case (s, _) =>
          (new XxHash64(Seq(Literal.create(s, StringType), Literal(p))).eval().asInstanceOf[Long], s)
        }.sortWith { case ((x, a), (y, b)) => if (x != y) x < y else sparkStringLt(a, b) }
      byHash.map(_._2).zip(labels)
    }
  }
}
