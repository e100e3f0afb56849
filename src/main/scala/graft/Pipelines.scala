package graft

import graft.functions.SampleSheet
import graft.model.{ExpressionMatrix, Workspace}
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's three entry-point chains (SURVEY.md §3) composed
  * from the operator library — what a user of the reference runs
  * today, re-expressed as DataFrame pipelines.
  *
  * E1 closed-platform:  probe filter → dedup → bind → ComBat → DE
  * E2 open-platform:    counts → CQN-lite → ComBat → CPM/voom → DE
  * E3 meta-analysis:    ICC → effect sizes → FEM/REM → weighted
  *                      Stouffer → permutation FDR → enrichment
  *
  * Each stage input/output is the canonical long ExpressionMatrix, so
  * chains can be checkpointed to parquet at exactly the reference's
  * stage-file boundaries (Comb_*.exp, RNAseq_cqn.exp, topTables).
  */
/** Bounded-pool overlap for INDEPENDENT eager stages (guide §2.6:
  * submit independent jobs from a small thread pool so the next job's
  * tasks back-fill executors freed by the current job's tail; 2-3 in
  * flight is plenty). Round 18 (VERDICT r17 #8): a dedicated pool,
  * shut down in a finally, replaces the shared global fork-join EC —
  * blocking Spark actions on the default pool risked starvation under
  * nesting or many platforms. Order-preserving. Every item of one call
  * runs its jobs in one Spark job group: the first item to fail
  * cancels that group (interrupting the siblings' running tasks),
  * stops the pool, and its exception reaches the caller. */
private[graft] object Overlap {
  private val calls = new java.util.concurrent.atomic.AtomicLong

  def inParallel[A, B](items: Seq[A], maxInFlight: Int = 3)(f: A => B): Seq[B] = {
    if (items.lengthCompare(1) <= 0) return items.map(f)
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val group = s"graft-overlap-${calls.incrementAndGet()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.length, maxInFlight))
    val done = new java.util.concurrent.ExecutorCompletionService[(Int, B)](pool)
    try {
      items.zipWithIndex.foreach { case (a, i) =>
        done.submit(new java.util.concurrent.Callable[(Int, B)] {
          override def call(): (Int, B) = {
            // active session is thread-local; pool threads inherit the
            // submitter's SparkContext properties but not the session.
            // The job group is set on this pool thread only, keeping the
            // inherited job description.
            session.foreach { s =>
              org.apache.spark.sql.SparkSession.setActiveSession(s)
              val sc = s.sparkContext
              sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
                interruptOnCancel = true)
            }
            i -> f(a)
          }
        })
      }
      val out = new Array[Any](items.length)
      items.foreach { _ =>
        try { val (i, b) = done.take().get(); out(i) = b }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            session.foreach(_.sparkContext.cancelJobGroup(group))
            pool.shutdownNow()
            throw e.getCause
        }
      }
      out.toSeq.map(_.asInstanceOf[B])
    } finally pool.shutdown()
  }
}

object Pipelines {

  /** E1 — closed-platform differential expression
    * (`DiffExpression_closedPlatform.R`): outlier removal, reliable-
    * probe semi-join, max-variance probe→gene dedup, datasets bound on
    * common genes, ComBat batch adjustment, top-SD variance filter,
    * moderated-t DE with BH-ranked topTable. */
  def closedPlatformDE(datasets: Seq[(String, ExpressionMatrix)],
      annot: DataFrame, flat: DataFrame, outliers: DataFrame, groups: DataFrame,
      groupA: String, groupB: String, sdFrac: Double = 0.6,
      replicates: Option[DataFrame] = None, remlIters: Int = 50,
      remlTol: Double = 1e-8): DataFrame = {
    val perDataset = datasets.map { case (name, probes) =>
      val cleaned = Filters.keepReliableProbes(
        Filters.removeOutliers(probes, outliers), flat, "probe")
      name -> Dedup.maxVarianceDedup(cleaned, annot, "probe", "gene_id")
    }
    // Stage-file boundary #0 (the reference writes the combined
    // pre-ComBat matrix here, GenExpressionComb's .exp hand-off):
    // materialize the bound gene×sample matrix BEFORE ComBat. ComBat's
    // front end runs several actions (standardization scalars, the
    // persisted z build), and without this boundary each one re-ran
    // the fact-scan → per-dataset aggregation → dedup → bind lineage —
    // invisible at sf0.1 (overhead-bound) but the DOMINANT cost at the
    // 100× probe, where every re-execution is a full fact-table CPU
    // pass (docs/SCALING.md, round 8). The matrix is gene×sample-
    // bounded, so the checkpoint is cheap at any corpus scale.
    val bound = ExpressionMatrix(Workspace.stageCheckpoint(
      SetOps.bindDatasets(perDataset)
        .select("gene_id", "sample_id", "value", "dataset"), "bind_closed"))
    // Stage-file boundary (the reference writes Comb_*.exp here):
    // eagerly materialize the ComBat output BEFORE the SD filters —
    // the zero-variance and top-SD filters are multi-branch plans
    // (aggregate + semi-join), and without the checkpoint each branch
    // re-executes the whole dedup→bind→ComBat lineage inside one
    // action. A second checkpoint freezes the filtered matrix that the
    // REML sweeps and the DE fit then hit with several actions each.
    // ([[Workspace.stageCheckpoint]]: reliable parquet boundary tables
    // when spark.graft.checkpoint.dir is set, localCheckpoint else.)
    val adjusted = ExpressionMatrix(Workspace.stageCheckpoint(Batch.combat(
        ExpressionMatrix(bound.df.select("gene_id", "sample_id", "value")),
        bound.df.select(col("sample_id"), col("dataset").as("batch")).distinct())
      .canonical.df, "comb_closed"))
    val filtered = ExpressionMatrix(Workspace.stageCheckpoint(
      Filters.topFracBySdNonZero(adjusted, sdFrac)
        .canonical.df, "comb_closed_filtered"))
    DiffExpr.moderatedTopTable(
      closedPlatformStats(filtered, groups, replicates, remlIters, remlTol),
      "group", groupA, groupB)
  }

  /** The E1 fit over the filtered matrix: REML arrayWeights enter the
    * fit as WLS sufficient statistics; with technical replicates
    * declared, the fit is the exact GLS with the REML
    * duplicateCorrelation consensus — limma's `lmFit(eset, design,
    * weights=arrayw, block=..., correlation=corfit$consensus)`
    * gls.series branch (DiffExpression_closedPlatform.R:456-507). */
  private def closedPlatformStats(filtered: ExpressionMatrix, groups: DataFrame,
      replicates: Option[DataFrame], remlIters: Int, remlTol: Double): DataFrame =
    replicates match {
      case Some(reps) =>
        // the REML array-weight fit and the duplicate-correlation
        // consensus are INDEPENDENT eager fits over the same filtered
        // matrix — overlap them on the bounded pool (round 18, guide
        // §2.6) so the consensus' keyed aggregations back-fill the
        // sweep jobs' idle tails; both results are deterministic, so
        // output is unchanged
        val Seq(weightsAny, rhoAny) = Overlap.inParallel[() => Any, Any](Seq(
          () => DiffExpr.arrayWeightsReml(filtered, groups,
            maxIter = remlIters, tol = remlTol),
          () => DiffExpr.duplicateCorrelationReml(filtered, reps, groups)._2
        ))(_.apply())
        val weights = weightsAny.asInstanceOf[DataFrame]
        val rho = rhoAny.asInstanceOf[Double]
        // array weights are gene-constant per-observation weights
        val obsW = SampleSheet.collect(weights, "weights", Seq("weight"))
          .attach(filtered.canonical.df)
        DiffExpr.groupStatsGlsObs(obsW, groups, reps, rho)
      case None => DiffExpr.groupStatsWeighted(filtered, groups,
        DiffExpr.arrayWeightsReml(filtered, groups,
          maxIter = remlIters, tol = remlTol))
    }

  /** E1 multi-contrast — the reference's actual invocation shape: with
    * k ≥ 2 groups declared, ONE run fits all C(k,2) pairwise contrasts
    * against a single cell-means model and moderates them with one
    * shared eBayes fit (`combn` + `makeContrasts` + `contrasts.fit` +
    * `eBayes`, `DiffExpression_closedPlatform.R:511-556`), then calls
    * significance per contrast (`decideTests`, :580) — the input to
    * the venn over the contrast matrix (:588-594, [[SetOps]] Venn
    * family). Same front end as [[closedPlatformDE]] (probe filter →
    * dedup → bind → ComBat → fused SD filter → REML arrayWeights);
    * returns the long contrast table (gene_id, contrast, log2fc,
    * t_mod, df_total, p_mod, p_bh, sig) with BH adjusted separately
    * per contrast (limma `decideTests(method="separate")`). */
  def closedPlatformDEMulti(datasets: Seq[(String, ExpressionMatrix)],
      annot: DataFrame, flat: DataFrame, outliers: DataFrame, groups: DataFrame,
      sdFrac: Double = 0.6, replicates: Option[DataFrame] = None,
      remlIters: Int = 50, remlTol: Double = 1e-8, alpha: Double = 0.05,
      minLfc: Double = 0.0): DataFrame = {
    val perDataset = datasets.map { case (name, probes) =>
      val cleaned = Filters.keepReliableProbes(
        Filters.removeOutliers(probes, outliers), flat, "probe")
      name -> Dedup.maxVarianceDedup(cleaned, annot, "probe", "gene_id")
    }
    // pre-ComBat boundary — same rationale as closedPlatformDE's
    // "bind_closed" checkpoint (SCALING.md round-8 100× probe)
    val bound = ExpressionMatrix(Workspace.stageCheckpoint(
      SetOps.bindDatasets(perDataset)
        .select("gene_id", "sample_id", "value", "dataset"), "bind_closed_multi"))
    val adjusted = ExpressionMatrix(Workspace.stageCheckpoint(Batch.combat(
        ExpressionMatrix(bound.df.select("gene_id", "sample_id", "value")),
        bound.df.select(col("sample_id"), col("dataset").as("batch")).distinct())
      .canonical.df, "comb_closed_multi"))
    val filtered = ExpressionMatrix(Workspace.stageCheckpoint(
      Filters.topFracBySdNonZero(adjusted, sdFrac)
        .canonical.df, "comb_closed_multi_filtered"))
    val de = DiffExpr.moderatedTAll(
      closedPlatformStats(filtered, groups, replicates, remlIters, remlTol))
    DiffExpr.decideTests(
      DiffExpr.bhAdjustGrouped(de, "p_mod", Seq(col("contrast")), Seq(col("gene_id"))),
      pAdj = "p_bh", lfc = "log2fc", alpha = alpha, minLfc = minLfc)
  }

  /** E2 — open-platform (RNA-seq) differential expression
    * (`GenExpressionComb_RNAseq.R` + `DiffExpression_openPlatform.R`):
    * special-counter filter, outlier removal, zero-count partition,
    * CQN-lite normalisation with the <2→0 floor, ComBat, top-SD
    * filter, then the reference's voom fit
    * (`DiffExpression_openPlatform.R:423-515`): de-log back to
    * normalised read counts (`2^x`, then `2^x == 1 → 0`), voom log2-CPM +
    * per-observation precision weights, weighted cell-means lmFit,
    * eBayes moderated t. With `replicates` declared, the fit is the
    * exact GLS with the REML duplicateCorrelation consensus — the
    * reference's `lmFit(..., block=biolrep, cor=corfit$consensus)`
    * gls.series branch at :457-475 ([[DiffExpr.groupStatsGlsObs]]). */
  def openPlatformDE(counts: ExpressionMatrix, outliers: DataFrame,
      batches: DataFrame, groups: DataFrame, groupA: String, groupB: String,
      sdFrac: Double = 0.5, geneInfo: Option[DataFrame] = None,
      replicates: Option[DataFrame] = None, voomSpan: Double = 0.5): DataFrame = {
    val stats = openPlatformStats(counts, outliers, batches, groups, sdFrac,
      geneInfo, replicates, voomSpan)
    DiffExpr.moderatedTopTable(stats, "group", groupA, groupB)
  }

  /** E2 multi-contrast — the open-platform script runs the identical
    * all-pairs contrast block as E1 (`combn` + `makeContrasts` +
    * `contrasts.fit` + `eBayes`,
    * `DiffExpression_openPlatform.R:485-515`) on the voom-weighted
    * fit. Returns the long contrast table with per-contrast BH + sig
    * calls, like [[closedPlatformDEMulti]]. */
  def openPlatformDEMulti(counts: ExpressionMatrix, outliers: DataFrame,
      batches: DataFrame, groups: DataFrame, sdFrac: Double = 0.5,
      geneInfo: Option[DataFrame] = None, replicates: Option[DataFrame] = None,
      voomSpan: Double = 0.5, alpha: Double = 0.05, minLfc: Double = 0.0): DataFrame = {
    val stats = openPlatformStats(counts, outliers, batches, groups, sdFrac,
      geneInfo, replicates, voomSpan)
    val de = DiffExpr.moderatedTAll(stats)
    DiffExpr.decideTests(
      DiffExpr.bhAdjustGrouped(de, "p_mod", Seq(col("contrast")), Seq(col("gene_id"))),
      pAdj = "p_bh", lfc = "log2fc", alpha = alpha, minLfc = minLfc)
  }

  /** Shared E2 front end up to the voom-weighted per-(gene, group)
    * sufficient statistics — everything before the contrast shape
    * diverges. */
  private def openPlatformStats(counts: ExpressionMatrix, outliers: DataFrame,
      batches: DataFrame, groups: DataFrame, sdFrac: Double,
      geneInfo: Option[DataFrame], replicates: Option[DataFrame],
      voomSpan: Double): DataFrame = {
    val cleaned = Filters.removeOutliers(Filters.dropSpecialCounters(counts), outliers)
    val (nonzeroLazy, _) = Filters.partitionZeroCounts(cleaned)
    // Stage-file boundary #0 — the cleaned nonzero count matrix before
    // CQN (the reference's combined-counts .exp hand-off). CQN runs
    // several actions (quantile anchors, spline knot collects), and
    // without this boundary each re-ran the fact-scan → count
    // aggregation → clean lineage; at the 100× probe scale every such
    // re-execution is a full fact-table pass (docs/SCALING.md,
    // round 8). Gene×sample-bounded, so cheap at any corpus scale.
    val nonzero = ExpressionMatrix(Workspace.stageCheckpoint(
      nonzeroLazy.canonical.df, "counts_clean"))
    // with (gc, length) gene info the full conditional quantile
    // normalisation runs (the reference always has GenesInfo); the
    // quantile-only cqnLite is the fallback
    // Stage-file boundaries (the reference writes RNAseq_cqn.exp and
    // Comb_*.exp here): checkpoint after normalisation and after
    // ComBat so the SD-filter branches and the DE actions don't
    // re-execute the count→CQN→ComBat lineage per plan branch.
    val normalized = ExpressionMatrix(Workspace.stageCheckpoint((geneInfo match {
      case Some(gi) => Normalize.cqn(nonzero, gi)
      case None => Normalize.cqnLite(nonzero)
    }).canonical.df, "rnaseq_cqn"))
    val adjusted = ExpressionMatrix(Workspace.stageCheckpoint(
      Batch.combat(normalized, batches).canonical.df, "comb_rnaseq"))
    // checkpoint ahead of voom: the trend fit hits the filtered matrix
    // with several actions (library scalar, anchor collect, the fit)
    val filtered = ExpressionMatrix(Workspace.stageCheckpoint(
      Filters.topFracBySdNonZero(adjusted, sdFrac).canonical.df, "comb_rnaseq_filtered"))
    // de-log to normalised read counts (R:423-425: `data_combat <-
    // 2^data_combat; data_combat[data_combat == 1] <- 0` — the
    // de-logged value 2^x == 1, i.e. LOG value x == 0, is zeroed:
    // the exact zeros the <2→0 floor produced de-log to 1 and are
    // restored to 0)
    val delogged = ExpressionMatrix(filtered.df.withColumn("value",
      when(col("value") === 0.0, 0.0).otherwise(pow(lit(2.0), col("value")))))
    val vw = Normalize.voom(delogged, groups, f = voomSpan)
    replicates match {
      case Some(reps) =>
        // the reference's `lmFit(v, design, block=biolrep,
        // correlation=corfit$consensus)` branch: exact GLS over the
        // voom per-observation weights
        val (_, rho) = DiffExpr.duplicateCorrelationReml(
          ExpressionMatrix(vw.select("gene_id", "sample_id", "value")), reps, groups)
        DiffExpr.groupStatsGlsObs(vw, groups, reps, rho)
      case None => DiffExpr.groupStatsObsWeighted(vw, groups)
    }
  }

  /** E4 — training-data text curation (the brief's LLM-pipeline
    * operators chained the way a production corpus pass runs them):
    * exact dedup (cheapest first) → optional paragraph-grain
    * boilerplate removal (`paragraphSep`, the Dolma/RefinedWeb stage —
    * [[TextDedup.paragraphDedup]]) → MinHash near-dup removal (keep
    * the lowest id of each candidate pair above the Jaccard
    * threshold) → language filter → quality floor → per-document
    * token statistics. Every stage is the bucketed/df-capped scale
    * shape; nothing compares all pairs. Returns the surviving
    * documents with (lang, quality, ws_tokens, bpeish_tokens).
    *
    * NOTE on `dfCap`: the near-dup stage drops shingles whose df
    * exceeds the cap (default 100k). This is the pipeline's explicit
    * scale guard — for corpora containing viral boilerplate shingles
    * it changes which pairs are found vs the uncapped definition
    * (`TextDedup.minhashLshPairs` itself defaults to uncapped). Pass
    * `dfCap = Long.MaxValue` for the exact semantics. */
  def textCuration(docs: DataFrame, langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.3, nearDupJaccard: Double = 0.8,
      dfCap: Long = 100000L, md5Hashes: Boolean = false,
      repGramN: Int = 2, maxTopGramFrac: Double = 1.0, maxDupGramFrac: Double = 1.0,
      benchmark: Option[DataFrame] = None, decontamN: Int = 8,
      maxBenchOverlap: Double = 0.0, scrubPii: Boolean = false,
      paragraphSep: Option[String] = None,
      nearDupClusters: Boolean = false,
      repeatedSpanN: Option[Int] = None,
      referenceFp: Option[DataFrame] = None,
      referenceNearDup: Option[DataFrame] = None,
      referenceNearDupIndex: Option[(DataFrame, DataFrame)] = None,
      gopherMinWords: Option[Int] = None,
      gopherMinStopWords: Int = 2,
      clusterQuality: Option[DataFrame] = None): DataFrame = {
    import graft.functions.TextFunctions._
    // optional Gopher document-SHAPE stage ([[TextDedup.gopherRules]],
    // Rae 2021 §A1.1), FIRST: the named per-doc rule battery is a pure
    // codegen projection — the cheapest filter in the chain runs
    // before any shuffle-bearing stage, and (matching the paper's
    // pipeline order) before dedup, so a failing doc can't be the
    // keep-first winner of a duplicate group. Per-rule drop counts
    // are reportable by running gopherRules on the same input
    // (q116's report shape).
    val docsG = gopherMinWords match {
      case Some(mw) => TextDedup.gopherRules(docs, minWords = mw,
          minStopWords = gopherMinStopWords)
        .filter(col("pass"))
        .select(docs.columns.map(col).toSeq: _*)
      case None => docs
    }
    // optional INCREMENTAL front stage: drop documents already in a
    // previous crawl's fingerprint relation before any in-batch work
    // ([[TextDedup.dedupAgainstReference]] — Bloom prune + exact
    // confirm, result exactly the anti-join)
    val docs0 = referenceFp match {
      case Some(ref) => TextDedup.dedupAgainstReference(docsG, ref)
      case None => docsG
    }
    // in-batch exact dedup runs BEFORE the reference near-dup stage:
    // identical texts produce identical shingles and therefore
    // identical vs-reference verdicts, so collapsing verbatim
    // duplicates first is keep-set-preserving — and strictly cheaper,
    // because each verbatim copy would otherwise independently emit
    // bands, collide with the same reference docs, and pay its own
    // shingle-verify join (a crawl's verbatim-dup mass multiplies the
    // most expensive stage's candidate set by the dup factor). The
    // exact-FINGERPRINT reference stage above stays first — a Bloom
    // probe is near-free.
    val exactFp = TextDedup.exactDedup(docs0)
    // optional incremental NEAR-dup stage: drop documents that
    // near-duplicate the previous crawl ([[TextDedup
    // .nearDupAgainstReference]] — banded candidates against the
    // reference signature index + exact Jaccard verify) at the
    // chain's near-dup threshold and dfCap (note: when dfCap binds,
    // the incoming-side shingle-df counts depend on the docs that
    // survived the exact stage — the same order-sensitivity caveat
    // as the in-batch near-dup stage).
    // `referenceNearDupIndex` (takes precedence) supplies the
    // PRECOMPUTED at-rest index — [[TextDedup.nearDupIndex]]'s
    // (band, shingle) relations, typically re-read from bucketed
    // tables — so an incremental crawl pays only the incoming side
    // (the amortized-index shape q128 benches).
    val exact0 = (referenceNearDupIndex, referenceNearDup) match {
      case (Some((refBands, refShingles)), _) =>
        TextDedup.nearDupAgainstIndex(exactFp, refBands, refShingles,
          minJaccard = nearDupJaccard, md5Hashes = md5Hashes, dfCap = dfCap)
      case (None, Some(refDocs)) => TextDedup.nearDupAgainstReference(exactFp,
        refDocs, minJaccard = nearDupJaccard, md5Hashes = md5Hashes,
        dfCap = dfCap)
      case _ => exactFp
    }
    // optional paragraph-grain boilerplate removal (Dolma-style) runs
    // between whole-document dedup and near-dup: docs stripped to
    // empty text fall out at the quality floor below, the same
    // drop-by-downstream-filter contract the operator documents
    val exact1 = paragraphSep match {
      case Some(sep) => TextDedup.paragraphDedup(exact0, sep)
      case None => exact0
    }
    // optional cross-document repeated-SPAN masking (exact-substring
    // dedup) runs after exact dedup for the same reason the operator
    // documents: exact duplicates would legitimately erase each
    // other. The rebuilt text is the cleaned token stream; emptied
    // docs fall out at the quality floor like the paragraph stage.
    // Stage boundary first: removeRepeatedSpans fans its input into
    // several plan branches (gram windows, totals, the doc universe)
    // and this hook joins back against the same relation — without a
    // checkpoint every branch re-executes the upstream dedup lineage
    // (the scored0 boundary's argument). Only materialized when the
    // stage is on.
    val exact0k = repeatedSpanN match {
      case Some(n) =>
        val exactCk =
          graft.model.Workspace.stageCheckpoint(exact1, "curation_spandedup_in")
        val keepCols = exactCk.columns.filterNot(c => c == "text")
        TextDedup.removeRepeatedSpans(exactCk, n = n)
          .withColumnRenamed("text_clean", "text")
          .select(col("doc_id"), col("text"))
          .join(exactCk.select(keepCols.map(col): _*), Seq("doc_id"))
      case None => exact1
    }
    // the deduped doc relation feeds TWO full consumers — the shingle
    // derivation inside minhashLshPairs AND the keep-side of the
    // loser anti-join below (where the pushed-down lang/quality filter
    // evaluates) — and aliased projections defeat exchange reuse, so
    // without a hold the exact-dedup aggregation re-executes from the
    // source per branch (round 17; the minhashLshPairs shRows hold's
    // argument, one level up). Same RelCache hold lifecycle. Every
    // stage under it reads its input once: a join back onto a stage's
    // own input would get the same two differently pruned copies, and
    // so run the whole reference stage twice inside this hold
    // (paragraphDedup has no join-back for that reason).
    val exact = graft.model.RelCache.hold("pipelines.curation.exact", exact0k)
    val pairs = TextDedup
      .minhashLshPairs(exact, k = 8, bands = 4, shingleWidth = 3,
        minJaccard = nearDupJaccard, md5Hashes = md5Hashes, dfCap = dfCap)
    // default: per-pair loser drop (keep the lower id of each pair —
    // the q65/q79 gated semantics). `nearDupClusters` switches to
    // CLUSTER-grain resolution ([[TextDedup.dedupByComponents]]): one
    // representative per CONNECTED component. The two differ on open
    // triangles — pairs (1,3),(2,3) keep {1,2} pairwise but only {1}
    // cluster-grain, since 2 links to 1 transitively through 3.
    // `clusterQuality` (requires nearDupClusters) supplies a per-doc
    // score relation (id, score) — e.g. a trained classifier's
    // [[graft.operators.TextRetrieval.qualityClassifierScores]] — and
    // switches the representative rule to KEEP-THE-BEST member (max
    // score, min-id tie-break): the RefinedWeb/Dolma keep policy,
    // via [[TextDedup.dedupByComponentsBest]].
    val kept =
      if (nearDupClusters) clusterQuality match {
        case Some(qs) =>
          // the score relation's shape is part of the contract: with a
          // wider relation the inferred "first non-doc_id column" could
          // silently rank winners by the wrong column (ADVICE r9)
          require(qs.columns.length == 2 && qs.columns.contains("doc_id"),
            s"clusterQuality must be exactly (doc_id, <score>); got " +
              qs.columns.mkString("(", ", ", ")"))
          val scoreCol = qs.columns.filterNot(_ == "doc_id").head
          val withQ = exact.join(
            qs.select(col("doc_id"), col(scoreCol).as("__cq")),
            Seq("doc_id"), "left")
          TextDedup.dedupByComponentsBest(withQ, pairs, col("__cq"))
            .drop("__cq")
        case None => TextDedup.dedupByComponents(exact, pairs)
      }
      else exact.join(
        pairs.select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    val scored0 = kept
      .withColumn("lang", langId(tokens(col("text"))))
      .filter(col("lang").isin(langs: _*))
      .withColumn("quality", qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
    val repOn = maxTopGramFrac < 1.0 || maxDupGramFrac < 1.0
    val deconOn = benchmark.isDefined
    // Stage boundary: the repetition and decontamination stages each
    // BRANCH over their input (metrics pass + join-back) — without a
    // checkpoint every branch re-executes the dedup → near-dup →
    // scoring lineage. Only materialized when those stages are on, so
    // the base chain's plan is unchanged.
    val scored = if (repOn || deconOn)
      graft.model.Workspace.stageCheckpoint(scored0, "curation_scored") else scored0
    // Gopher repetition rules (thresholds default to off): drop
    // documents whose n-gram mass concentrates in repeats
    val repFiltered0 =
      if (!repOn) scored
      else scored.join(
        TextDedup.repetitionStats(scored, repGramN)
          .filter(col("top_gram_frac") <= maxTopGramFrac &&
            col("dup_gram_frac") <= maxDupGramFrac)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
    val repFiltered = if (repOn && deconOn)
      graft.model.Workspace.stageCheckpoint(repFiltered0, "curation_repfiltered")
      else repFiltered0
    // benchmark decontamination (off unless a benchmark is supplied):
    // drop documents whose distinct-n-gram collision fraction against
    // the held-out set exceeds the budget
    val decontaminated = benchmark match {
      case Some(b) => repFiltered.join(
        TextDedup.contaminationOverlap(repFiltered, b, decontamN)
          .filter(col("overlap_frac") > maxBenchOverlap)
          .select("doc_id"),
        Seq("doc_id"), "left_anti")
      case None => repFiltered
    }
    // PII scrub LAST, so token statistics describe the text that
    // actually ships to training
    val scrubbed =
      if (scrubPii) decontaminated.withColumn("text", piiScrub(col("text")))
      else decontaminated
    scrubbed
      .withColumn("ws_tokens", wsTokenCount(col("text")))
      .withColumn("bpeish_tokens", bpeishTokenCount(col("text")))
  }

  /** E4 AUDIT LEDGER — per-document drop ATTRIBUTION for the base
    * curation chain (the provenance record production pipelines
    * publish next to the cleaned corpus — Dolma ships per-doc
    * "attributes" files for exactly this): every input document gets
    * ONE row naming the FIRST stage that dropped it (`exact_dup`,
    * `near_dup`, `lang`, `quality`) or `kept`, plus a detail — the
    * winning twin's id for the dedup stages, the detected language
    * for the lang stage — and the quality score for every document
    * that reached scoring. The keep set is EXACTLY
    * [[textCuration]]'s under the same parameters (spec-gated): the
    * ledger re-derives each stage with the same operators and keep
    * rules, it never re-decides them.
    *
    * Scale shape: same as the chain it audits — the exact stage is
    * one fingerprint-keyed aggregation (the winner id is the min the
    * ledger needs anyway), near-dup losers come from the same
    * [[TextDedup.minhashLshPairs]] relation folded with one keyed
    * min-aggregation, and the final attribution is three corpus-grain
    * keyed LEFT joins. No content-keyed windows, nothing a viral key
    * can serialize. */
  def curationAudit(docs: DataFrame, langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.3, nearDupJaccard: Double = 0.8,
      dfCap: Long = 100000L, md5Hashes: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions._
    val fp = docs.select(col("doc_id"), col("text")).withColumn("__fp", fingerprint(col("text")))
    val win = fp.groupBy("__fp").agg(min(col("doc_id")).as("__win"))
    // held (round 17): the winner-annotated relation feeds the exact
    // survivor branch (→ near-dup pairs AND the lang/quality scoring)
    // plus the final attribution join — without a hold each branch
    // re-executed the fingerprint aggregation from the source
    val withWin = graft.model.RelCache.hold("pipelines.curationAudit.withWin",
      fp.join(win, Seq("__fp")))
    val exact = withWin.filter(col("doc_id") === col("__win"))
      .select(col("doc_id"), col("text"))
    val pairs = TextDedup.minhashLshPairs(exact, k = 8, bands = 4,
      shingleWidth = 3, minJaccard = nearDupJaccard, md5Hashes = md5Hashes,
      dfCap = dfCap)
    val ndWin = pairs
      .groupBy(greatest(col("id_a"), col("id_b")).as("doc_id"))
      .agg(min(least(col("id_a"), col("id_b"))).as("__ndwin"))
    val survived = exact.join(ndWin, Seq("doc_id"), "left_anti")
      .withColumn("__lang", langId(tokens(col("text"))))
      .withColumn("__q", qualityScore(col("text")))
      .select(col("doc_id"), col("__lang"), col("__q"))
    withWin.select(col("doc_id"), col("__win"))
      .join(ndWin, Seq("doc_id"), "left")
      .join(survived, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("__win"), lit("exact_dup"))
          .when(col("__ndwin").isNotNull, lit("near_dup"))
          .when(!col("__lang").isin(langs: _*), lit("lang"))
          // verdict on the RAW score (the chain's own compare);
          // only the REPORTED value is rounded
          .when(col("__q") < minQuality, lit("quality"))
          .otherwise(lit("kept")).as("stage"),
        when(col("doc_id") =!= col("__win"), col("__win").cast("string"))
          .when(col("__ndwin").isNotNull, col("__ndwin").cast("string"))
          .when(!col("__lang").isin(langs: _*), col("__lang"))
          .otherwise(lit(null).cast("string")).as("detail"),
        round(col("__q") + lit(1e-9), 6).as("quality"))
  }

  /** E5 — training-data MIXING chain (the step after curation in a
    * production corpus pass): per-source mixing WEIGHTS
    * ([[TextDedup.sampleByRate]]: exact hex-md5-threshold Bernoulli)
    * → per-source TOKEN BUDGETS ([[TextDedup.capTokensPerKey]]:
    * greedy prefix under the budget, two-stage salted) →
    * sequence-PACKING manifest ([[TextDedup.packingManifest]]: global
    * token offsets + training-block spans, range-partition + stitch).
    * Every stage is deterministic seeded-hash machinery, so the whole
    * chain replays in any SQL engine — and every stage's shuffle is
    * keyed or stitched, never a content-keyed window or a single-task
    * sort. Distinct seeds per stage keep the three hash streams
    * independent. Returns the packing manifest over the mixed corpus. */
  def dataMix(docs: DataFrame, rates: DataFrame, keyCol: String,
      tokenCol: String, budgetPerKey: Long, blockTokens: Long,
      seed: Int = 0, id: String = "doc_id",
      md5Hashes: Boolean = false): DataFrame = {
    val sampled = TextDedup.sampleByRate(docs, keyCol, rates, seed, id)
    val budgeted = TextDedup.capTokensPerKey(sampled, keyCol, tokenCol,
      budgetPerKey, seed + 1, id, md5Hashes)
    TextDedup.packingManifest(budgeted, tokenCol, blockTokens, seed + 2, id,
      md5Hashes)
  }

  /** E3 — meta-analysis (`Meta_analysis.R`): per-platform effect
    * sizes, ICC between platform pairs (negative-ICC genes dropped,
    * F7), FEM/REM combine, weighted Stouffer over per-platform DE
    * results with mean-ICC weights. Returns the `Meta_<AvsB>`-shaped
    * relation: gene, platforms, avg log2FC, combined z, combined p.
    *
    * The per-platform DE is the limma fit the reference's meta
    * actually consumes: `Meta_analysis.R:1035-1048` reads each
    * platform's `*_topTable.txt` — written by the DE scripts' eBayes
    * fits (`DiffExpression_closedPlatform.R:546,598-633`) — and feeds
    * its col-8 (log2FC) and col-11 (BH-ADJUSTED moderated p) into the
    * ICC-weighted Stouffer (`:1068-1228`). So each platform runs
    * [[DiffExpr.moderatedTopTable]] (its own eBayes hyperparameters,
    * its own BH), not a Welch test. */
  def metaAnalysis(platforms0: Seq[(String, ExpressionMatrix)], groups: DataFrame,
      groupA: String, groupB: String): DataFrame = {
    // Stage boundary: each platform matrix is hit by many actions
    // below (the ICC sample-id collect and gene-keyed pass, the per-
    // platform DE) — materialize once so upstream lineage doesn't
    // re-execute per action. The platforms are INDEPENDENT, so their
    // eager work (checkpoint materialization here, the eBayes moment
    // collects below) overlaps and the next platform's stages
    // back-fill executors freed by the previous one's tail (round 17,
    // guide §2.6 "overlap independent jobs"); order is preserved, so
    // output is unchanged. Round 18 (VERDICT r17 #8): a DEDICATED
    // bounded pool replaces the global fork-join EC — blocking Spark
    // actions on the shared pool risked starvation under nesting /
    // many platforms, and the guide's own note says 2-3 jobs in
    // flight is plenty.
    val platforms = Overlap.inParallel(platforms0) { case (name, m) =>
      name -> ExpressionMatrix(
        Workspace.stageCheckpoint(m.canonical.df, s"meta_platform_$name"))
    }
    // ICC per platform pair (every pair from one gene-keyed pass) ->
    // mean per gene; genes with negative mean ICC are dropped
    // (Meta_analysis.R:620-645)
    val iccPairs = Meta.iccMulti(platforms).select("gene_id", "icc")
    val meanIcc = Meta.meanIcc(iccPairs).filter(col("mean_icc") >= 0)

    // per-platform DE at the reference's file contract: eBayes
    // moderated t + BH topTable per platform (constructed
    // concurrently — each construction runs the platform's
    // hyperparameter moment collect)
    val topTables = Overlap.inParallel(platforms) { case (name, m) =>
      name -> DiffExpr.moderatedTopTable(DiffExpr.groupStats(m, groups), "group", groupA, groupB)
    }
    metaAnalysisFromTopTables(topTables, meanIcc)
  }

  /** E3 composition point at the reference's file contract: the meta
    * stage consumes per-platform topTable RELATIONS — col-8 log2FC and
    * col-11 BH-adjusted p of the J6 layout (`Meta_analysis.R:
    * 1082-1087` reads `DEresults[[k]][gene, 8]` and `[gene, 11]`) —
    * plus the mean-ICC weights. Accepts either the bare
    * [[DiffExpr.topTable]] columns (log2fc, p_bh) or the annotated
    * [[graft.operators.Bind.annotatedTopTable]] names (log2FC,
    * adj_p_value), so a chain that checkpoints topTables to parquet at
    * the reference's file boundary re-reads them straight into the
    * meta stage. `meanIcc` carries (gene_id, mean_icc), already
    * restricted to the non-negative-ICC gene set (F7). */
  def metaAnalysisFromTopTables(topTables: Seq[(String, DataFrame)],
      meanIcc: DataFrame, gene: String = "gene_id"): DataFrame = {
    val perPlatform = topTables.map { case (name, tt) =>
      val fc = if (tt.columns.contains("log2FC")) "log2FC" else "log2fc"
      val p = if (tt.columns.contains("adj_p_value")) "adj_p_value" else "p_bh"
      val g = if (tt.columns.contains(gene)) gene else "gene"
      tt.select(col(g).as("gene_id"), col(fc).as("log2fc"), col(p).as("p"))
        .withColumn("platform", lit(name))
    }.reduce(_ unionByName _)
    // the inner join below already restricts to meanIcc's gene set —
    // no separate semi-join needed
    val withIcc = perPlatform
      .join(meanIcc.withColumnRenamed("mean_icc", "icc"), Seq("gene_id"))
    Meta.weightedStouffer(withIcc)
  }
}
