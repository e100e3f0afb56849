package graft.perfbench

import java.io.File

import graft.Pipelines
import graft.functions.TextFunctions
import graft.model.{ExpressionMatrix, Workspace}
import graft.operators._
import graft.sources.MatrixIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Collected outputs of one run, keyed by table name. */
final case class Outputs(tables: Map[String, Array[Row]],
    stats: Map[String, Double] = Map.empty) {
  /** SHA-256 over every table's rows, doubles rounded to 6 significant
    * digits, rows sorted — identical for any partitioning or order. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    tables.toSeq.sortBy(_._1).foreach { case (name, rows) =>
      md.update(s"#$name\n".getBytes("UTF-8"))
      rows.map(Outputs.render).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Outputs {
  def round6(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString

  def render(r: Row): String = r.toSeq.map {
    case d: Double => round6(d)
    case f: Float => round6(f.toDouble)
    case null => "null"
    case x => x.toString
  }.mkString("\t")
}

/** A run's verdict: the planted signal recovered, every failed check,
  * and per-run ratios the traced run reports. */
final case class Verdict(recall: Double, failures: Seq[String], extra: Map[String, Double])

/** One benchmark workload. `run` calls the program's entry points the
  * way a user does; `traced` composes the same chain from operator
  * calls, each inside a span, with its output materialised at the span
  * boundary — its outputs must digest the same. */
trait Workload {
  def name: String
  /** input rows: matrix cells or documents */
  def rows: Long
  def run(spark: SparkSession): Outputs
  def traced(spark: SparkSession, t: Tracer): Outputs
  def check(o: Outputs): Verdict
}

/** Span helpers of the traced compositions: `sp` materialises an
  * operator's output inside its span, `ck` is a stage checkpoint. */
final class Spans(t: Tracer) {
  def sp(layer: String, op: String)(df: => DataFrame): DataFrame =
    t.span(layer, op)(df.localCheckpoint(true))
  def spm(layer: String, op: String)(m: => ExpressionMatrix): ExpressionMatrix =
    ExpressionMatrix(sp(layer, op)(m.canonical.df))
  def ck(df: DataFrame, stage: String): DataFrame =
    t.span("Workspace", "stageCheckpoint")(Workspace.stageCheckpoint(df, stage))
}

/** Array studies through ingest → ProbeFilter (`.flat`) →
  * normalisation (RMA background for the exon array, log2, quantile) →
  * QC (RLE) → E1 `Pipelines.closedPlatformDE` (reliable probes,
  * max-variance dedup, bind on common genes, ComBat, REML array
  * weights, moderated t) → E3 `Pipelines.metaAnalysis` over the
  * per-platform gene matrices (ICC, per-platform topTables,
  * ICC-weighted Stouffer) → `Meta.permutationFdr`. */
final class Integration(dir: File, truth: Gen.StudyTruth, kinds: Map[String, String],
    remlIters: Int, nperm: Int) extends Workload {
  import Integration._
  val name = "integration_large"
  def rows: Long = truth.cells
  private def path(f: String) = new File(dir, f).getAbsolutePath
  private val arrays = truth.arrays

  private def tsv(spark: SparkSession, f: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(path(f))

  /** Sample sheet relations: (outliers, groups); lazy. */
  private def sheets(spark: SparkSession): (DataFrame, DataFrame) = {
    val ws = Workspace.fromTsv(spark, path("registry.tsv"), path("targets.tsv"),
      path("outliers.tsv"))
    (ws.outliers.select(col("sample_name").as("sample_id")), ws.groups)
  }

  private def collect(ts: Seq[(String, DataFrame)]): Outputs =
    Outputs(ts.map { case (n, df) => n -> df.collect() }.toMap)

  private def flatOf(annot: DataFrame, kind: String): DataFrame = kind match {
    case "exon" => ProbeFilter.exonFlat(annot)
    case "ivt" => ProbeFilter.ivtFlat(annot)
    case _ => ProbeFilter.illuminaFlat(annot)
  }

  /** Background-correct (exon arrays only, as aroma's RMA does), log2. */
  private def background(a: String, raw: ExpressionMatrix): ExpressionMatrix = {
    val bg = if (kinds(a) == "exon") Normalize.rmaBackground(raw) else raw
    ExpressionMatrix(bg.canonical.df.withColumn("value", log2(col("value"))))
  }

  def run(spark: SparkSession): Outputs = {
    val (outliers, groups) = sheets(spark)
    // stage-file boundaries of the reference: ProbeFilter writes .flat,
    // normalisation writes one .exp file per platform
    val flatAll = arrays.map(a => Workspace.stageCheckpoint(
      flatOf(tsv(spark, s"$a.annot.tsv"), kinds(a)), s"flat_$a")).reduce(_ unionByName _)
    val annot = flatAll.select(col("probe"), col("gene_idD").as("gene_id"))
    val norm = arrays.map { a =>
      val raw = MatrixIO.readTsvMatrix(spark, path(s"$a.tsv"))
      a -> ExpressionMatrix(Workspace.stageCheckpoint(Normalize.quantileNormalize(
        background(a, raw)).canonical.df, s"norm_$a"))
    }
    val qc = norm.map { case (a, m) => s"qc_rle_$a" -> QC.rle(m) }
    val e1 = Pipelines.closedPlatformDE(norm, annot, flatAll, outliers, groups,
      "A", "B", remlIters = remlIters)
    // summarised per-platform gene matrices (the meta-analysis inputs)
    val genes = norm.map { case (a, m) =>
      a -> ExpressionMatrix(Workspace.stageCheckpoint(Dedup.maxVarianceDedup(
        Filters.keepReliableProbes(Filters.removeOutliers(m, outliers), flatAll),
        annot).canonical.df, s"genes_$a"))
    }
    val e3 = Pipelines.metaAnalysis(genes, groups, "A", "B")
    val fdr = Meta.permutationFdr(genes.head._2, groups, "A", "B", nperm = nperm)
    collect(qc ++ Seq("e1" -> e1, "e3" -> e3, "fdr" -> fdr))
  }

  def traced(spark: SparkSession, t: Tracer): Outputs = {
    val s = new Spans(t); import s._
    val (outliers0, groups0) = sheets(spark)
    val outliers = sp("sources", "Workspace.fromTsv")(outliers0)
    val groups = sp("sources", "Workspace.fromTsv")(groups0)
    val flatAll = arrays.map { a =>
      val annot = sp("sources", "read.annot")(tsv(spark, s"$a.annot.tsv"))
      ck(sp("Dedup", "ProbeFilter.flat")(flatOf(annot, kinds(a))), s"flat_$a")
    }.reduce(_ unionByName _)
    val annot = flatAll.select(col("probe"), col("gene_idD").as("gene_id"))
    val norm = arrays.map { a =>
      val raw = spm("sources", "MatrixIO.readTsvMatrix")(
        MatrixIO.readTsvMatrix(spark, path(s"$a.tsv")))
      val bg = spm("Normalize", "rmaBackground")(background(a, raw))
      a -> ExpressionMatrix(ck(sp("Normalize", "quantileNormalize")(
        Normalize.quantileNormalize(bg).canonical.df), s"norm_$a"))
    }
    val qc = norm.map { case (a, m) => s"qc_rle_$a" -> sp("QC", "rle")(QC.rle(m)) }
    // E1: Pipelines.closedPlatformDE, call by call
    val reliable = norm.map { case (a, m) =>
      a -> spm("Dedup", "Filters.reliable")(Filters.keepReliableProbes(
        Filters.removeOutliers(m, outliers), flatAll))
    }
    val perDataset = reliable.map { case (a, m) =>
      a -> spm("Dedup", "maxVarianceDedup")(Dedup.maxVarianceDedup(m, annot))
    }
    // genes out of the dedup per probeset into it
    val geneYield = t.span("Dedup", "gene_yield") {
      def ids(ms: Seq[(String, ExpressionMatrix)]) =
        ms.map(_._2.df.select("gene_id").distinct().count()).sum.toDouble
      ids(perDataset) / ids(reliable)
    }
    val bound = ExpressionMatrix(ck(sp("SetOps", "bindDatasets")(
      SetOps.bindDatasets(perDataset)
        .select("gene_id", "sample_id", "value", "dataset")), "bind_closed"))
    val adjusted = ExpressionMatrix(ck(sp("Batch", "combat")(Batch.combat(
      ExpressionMatrix(bound.df.select("gene_id", "sample_id", "value")),
      bound.df.select(col("sample_id"), col("dataset").as("batch")).distinct())
      .canonical.df), "comb_closed"))
    val filtered = ExpressionMatrix(ck(sp("Dedup", "Filters.topFracBySdNonZero")(
      Filters.topFracBySdNonZero(adjusted, 0.6).canonical.df), "comb_closed_filtered"))
    val weights = sp("DiffExpr", "arrayWeightsReml")(
      DiffExpr.arrayWeightsReml(filtered, groups, maxIter = remlIters))
    val stats = sp("DiffExpr", "groupStatsWeighted")(
      DiffExpr.groupStatsWeighted(filtered, groups, weights))
    val e1 = sp("DiffExpr", "topTable")(DiffExpr.topTable(
      DiffExpr.moderatedT(stats, "group", "A", "B").withColumnRenamed("p_mod", "p")))
    // E3: Pipelines.metaAnalysis, call by call, on the same Overlap pool
    val genes = perDataset.map { case (a, m) => a -> ExpressionMatrix(ck(m.df, s"genes_$a")) }
    val platforms = t.span("Workspace", "stageCheckpoint") {
      graft.Overlap.inParallel(genes) { case (n, m) =>
        n -> ExpressionMatrix(Workspace.stageCheckpoint(m.canonical.df, s"meta_platform_$n"))
      }
    }
    val iccPairs = sp("Meta", "iccMulti")(Meta.iccMulti(platforms).select("gene_id", "icc"))
    val meanIcc = sp("Meta", "meanIcc")(Meta.meanIcc(iccPairs).filter(col("mean_icc") >= 0))
    val topTables = t.span("DiffExpr", "topTable") {
      graft.Overlap.inParallel(platforms) { case (n, m) =>
        n -> (DiffExpr.topTable(DiffExpr.moderatedT(
          DiffExpr.groupStats(m, groups), "group", "A", "B").withColumnRenamed("p_mod", "p"))
          .localCheckpoint(true))
      }
    }
    val e3 = sp("Meta", "metaAnalysisFromTopTables")(
      Pipelines.metaAnalysisFromTopTables(topTables, meanIcc))
    val fdr = sp("Meta", "permutationFdr")(
      Meta.permutationFdr(genes.head._2, groups, "A", "B", nperm = nperm))
    collect(qc ++ Seq("e1" -> e1, "e3" -> e3, "fdr" -> fdr))
      .copy(stats = Map("gene_yield" -> geneYield))
  }

  /** Invariants every run must meet, and the planted DE genes the meta
    * analysis recovers at BH ≤ 0.05. */
  def check(o: Outputs): Verdict = {
    val common = truth.commonGenes(arrays)
    val fails = Seq.newBuilder[String]
    Seq("e1" -> Seq("p", "p_bh"), "e3" -> Seq("p_comb"), "fdr" -> Seq("fdr")).foreach {
      case (t, cols) =>
        if (o.tables.get(t).forall(_.isEmpty)) fails += s"$t: empty output"
        fails ++= pValueFailures(o, t, cols)
    }
    Seq("e1", "e3").foreach { t =>
      val out = genesOf(o, t) -- common
      if (out.nonEmpty) fails += s"$t: ${out.size} genes outside the bound common gene set"
    }
    val e3 = o.tables.getOrElse("e3", Array.empty[Row])
    val adj = bh(e3.toSeq.map(r => r.getAs[String]("gene_id") -> r.getAs[Double]("p_comb")))
    val planted = truth.planted intersect common
    val recall = if (planted.isEmpty) 0.0
      else planted.count(g => adj.get(g).exists(_ <= 0.05)).toDouble / planted.size
    if (recall < RecallFloor) fails += f"planted_recall $recall%.3f below floor $RecallFloor"
    Verdict(recall, fails.result(), o.stats)
  }
}

object Integration {
  val RecallFloor = 0.5

  def pValueFailures(o: Outputs, table: String, cols: Seq[String]): Seq[String] =
    o.tables.get(table).toSeq.flatMap { rows =>
      rows.headOption.toSeq.flatMap { h =>
        cols.filter(c => h.schema.fieldNames.contains(c)).flatMap { c =>
          val i = h.fieldIndex(c)
          val bad = rows.count(r => !r.isNullAt(i) && {
            val p = r.getDouble(i); !(p >= 0.0 && p <= 1.0) })
          if (bad > 0) Seq(s"$table.$c: $bad p-values outside [0,1]") else Nil
        }
      }
    }

  def genesOf(o: Outputs, table: String): Set[String] =
    o.tables.getOrElse(table, Array.empty[Row]).map(_.getAs[String]("gene_id")).toSet

  /** Benjamini–Hochberg adjusted p-values of collected rows. */
  def bh(ps: Seq[(String, Double)]): Map[String, Double] = {
    val sorted = ps.sortBy(_._2).toIndexedSeq
    val n = sorted.size
    val adj = Array.fill(n)(1.0)
    var run = 1.0
    (n - 1 to 0 by -1).foreach { i =>
      run = math.min(run, sorted(i)._2 * n / (i + 1)); adj(i) = math.min(1.0, run)
    }
    sorted.indices.map(i => sorted(i)._1 -> adj(i)).toMap
  }
}

/** Text curation: crawl A through `Pipelines.textCuration` (Gopher,
  * paragraph boilerplate and pairwise near-dup stages); then crawl B
  * incrementally against A (exact-fingerprint and near-dup reference
  * stages) with cluster-grain near-dup resolution that keeps the best
  * member by a TextRetrieval quality classifier. */
final class TextCuration(dir: File, truth: Gen.CrawlTruth, nDocs: Long) extends Workload {
  val name = "text_curation"
  def rows: Long = nDocs
  private val minWords = 30
  private val jaccard = 0.5
  private def docs(spark: SparkSession, c: String) =
    spark.read.parquet(new File(dir, s"crawl_$c.parquet").getAbsolutePath)
  private def scores(docs: DataFrame) =
    TextRetrieval.qualityClassifierScores(docs, col("lang") === "en").select("doc_id", "score")
  private def refFp(docsA: DataFrame) =
    docsA.select(TextFunctions.fingerprint(col("text")).as("fp"))
  private def shape(df: DataFrame) = df.select(col("doc_id"), col("lang"),
    round(col("quality") + 1e-9, 6).as("quality"), col("ws_tokens"), col("bpeish_tokens"))

  def run(spark: SparkSession): Outputs = {
    val a = docs(spark, "a"); val b = docs(spark, "b")
    val outA = Pipelines.textCuration(a, nearDupJaccard = jaccard,
      gopherMinWords = Some(minWords), paragraphSep = Some("\n"))
    val outB = Pipelines.textCuration(b, nearDupJaccard = jaccard,
      gopherMinWords = Some(minWords), paragraphSep = Some("\n"),
      referenceFp = Some(refFp(a)), referenceNearDup = Some(a),
      nearDupClusters = true, clusterQuality = Some(scores(b)))
    Outputs(Map("curated_a" -> shape(outA).collect(), "curated_b" -> shape(outB).collect()))
  }

  def traced(spark: SparkSession, t: Tracer): Outputs = {
    val s = new Spans(t); import s._
    val a = sp("sources", "read.parquet")(docs(spark, "a"))
    val b = sp("sources", "read.parquet")(docs(spark, "b"))
    val outA = curate(s, a)
    val fp = sp("TextDedup", "fingerprint")(refFp(a))
    val qs = sp("TextRetrieval", "qualityClassifierScores")(scores(b))
    val outB = curate(s, b, referenceFp = Some(fp), referenceNearDup = Some(a),
      clusterQuality = Some(qs))
    Outputs(Map("curated_a" -> shape(outA).collect(), "curated_b" -> shape(outB).collect()))
  }

  /** `Pipelines.textCuration` for the options this workload uses,
    * stage by stage. */
  private def curate(s: Spans, docs: DataFrame, clusterQuality: Option[DataFrame] = None,
      referenceFp: Option[DataFrame] = None,
      referenceNearDup: Option[DataFrame] = None): DataFrame = {
    import TextFunctions._
    import s._
    val docsG = sp("TextDedup", "gopherRules")(TextDedup.gopherRules(docs, minWords = minWords)
      .filter(col("pass")).select(docs.columns.map(col).toSeq: _*))
    val docs0 = referenceFp.fold(docsG)(ref =>
      sp("TextDedup", "dedupAgainstReference")(TextDedup.dedupAgainstReference(docsG, ref)))
    val exactFp = sp("TextDedup", "exactDedup")(TextDedup.exactDedup(docs0))
    val exact0 = referenceNearDup.fold(exactFp)(ref =>
      sp("TextDedup", "nearDupAgainstReference")(TextDedup.nearDupAgainstReference(exactFp, ref,
        minJaccard = jaccard, dfCap = 100000L)))
    val exact = sp("TextDedup", "paragraphDedup")(TextDedup.paragraphDedup(exact0, "\n"))
    val pairs = sp("TextDedup", "minhashLshPairs")(TextDedup.minhashLshPairs(exact, k = 8,
      bands = 4, shingleWidth = 3, minJaccard = jaccard, dfCap = 100000L))
    val kept = clusterQuality match {
      case Some(qs) =>
        sp("TextDedup", "dedupByComponentsBest")(TextDedup.dedupByComponentsBest(
          exact.join(qs.select(col("doc_id"), col("score").as("__cq")), Seq("doc_id"), "left"),
          pairs, col("__cq")).drop("__cq"))
      case None =>
        sp("Pipelines", "textCuration.nearDupDrop")(exact.join(
          pairs.select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
    }
    sp("Pipelines", "textCuration.score")(kept
      .withColumn("lang", langId(tokens(col("text"))))
      .filter(col("lang").isin("en"))
      .withColumn("quality", qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
      .withColumn("ws_tokens", wsTokenCount(col("text")))
      .withColumn("bpeish_tokens", bpeishTokenCount(col("text"))))
  }

  def check(o: Outputs): Verdict = {
    val fails = Seq.newBuilder[String]
    def ids(t: String) = o.tables.getOrElse(t, Array.empty[Row]).map(_.getAs[Long]("doc_id")).toSet
    val outA = ids("curated_a"); val outB = ids("curated_b")
    if (outA.isEmpty || outB.isEmpty) fails += "empty curated output"
    val survA = truth.exactA.count { case (x, y) => outA(x) && outA(y) }
    val survB = truth.exactB.count { case (x, y) => outB(x) && outB(y) }
    val survX = truth.crossExact.count { case (_, y) => outB(y) }
    if (survA + survB + survX > 0)
      fails += s"planted exact duplicates survived: a=$survA b=$survB cross=$survX"
    val inPairs = (truth.exactA ++ truth.nearA).count { case (x, y) => !(outA(x) && outA(y)) } +
      (truth.exactB).count { case (x, y) => !(outB(x) && outB(y)) } +
      (truth.crossExact ++ truth.crossNear).count { case (_, y) => !outB(y) }
    val planted = truth.exactA.size + truth.nearA.size + truth.exactB.size +
      truth.crossExact.size + truth.crossNear.size
    val recall = if (planted == 0) 0.0 else inPairs.toDouble / planted
    if (recall < TextCuration.RecallFloor)
      fails += f"planted_recall $recall%.3f below floor ${TextCuration.RecallFloor}"
    Verdict(recall, fails.result(),
      Map("keep_frac" -> (outA.size + outB.size).toDouble / nDocs))
  }
}

object TextCuration {
  val RecallFloor = 0.7
}
