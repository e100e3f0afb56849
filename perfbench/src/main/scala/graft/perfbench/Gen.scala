package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded input generators. The same seed always yields the same
  * bytes; nothing here touches Spark, so generation stays outside every
  * timed region and is unit-testable on its own.
  *
  *  - [[studies]] writes a reference-shaped set of array studies as
  *    the reference's TSV files: one wide probesets × samples matrix per
  *    study, the dataset registry, the sample sheet (targets), the
  *    comma-joined outlier lists, and one probe-level annotation per
  *    array (the `ArrayAnnot` shape that `ProbeFilter` turns into
  *    `.flat`).
  *  - [[crawl]] builds two crawls of documents with labelled planted
  *    classes: exact and near duplicates (within a crawl and across
  *    crawls), shared boilerplate paragraphs, non-English and
  *    low-quality documents. */
object Gen {
  /** Bump when generated bytes change, so cached inputs are rebuilt. */
  val Version = 1

  // ---------------------------------------------------------------
  // study sets

  /** `kind` picks the annotation shape and the ProbeFilter rule:
    * "exon" (HuEx: 4 rows per probeset, >1 bad row removes),
    * "ivt" (U133*: 4 rows, >2 bad), "illumina" (1 row, >0 bad). */
  final case class ArraySpec(name: String, platform: String, kind: String,
      probesetsPerGene: Double, geneFrac: Double, samples: Int)

  final case class StudySpec(genes: Int, arrays: Seq[ArraySpec], groups: Seq[String],
      deFrac: Double)

  /** What the output checks need to know about a generated study set. */
  final case class StudyTruth(planted: Set[String],
      studyGenes: Map[String, Set[String]], cells: Long) {
    def arrays: Seq[String] = studyGenes.keys.toSeq.sorted
    /** genes every study carries after the reliable-probe filter */
    def commonGenes(studies: Iterable[String]): Set[String] =
      studies.map(studyGenes).reduce(_ intersect _)
  }

  def geneId(i: Int): String = f"ENSG$i%08d"

  /** Write the study set under `dir` (created) and return its truth. */
  def studies(spec: StudySpec, seed: Long, dir: File): StudyTruth = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val g = spec.genes
    val mu = Array.fill(g)(5.0 + 6.0 * rng.nextDouble())
    // planted DE genes: group B differs from the others by lfc
    val lfc = Array.fill(g)(0.0)
    val nPlanted = math.max(4, (spec.deFrac * g).toInt)
    val planted = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (planted.size < nPlanted) planted += rng.nextInt(g)
    planted.foreach { i =>
      lfc(i) = (if (rng.nextBoolean()) 1 else -1) * (1.0 + 1.0 * rng.nextDouble())
    }
    def groupOf(j: Int) = spec.groups(j % spec.groups.size)

    val registry = Seq.newBuilder[String]
    val targets = Seq.newBuilder[String]
    val outliers = Seq.newBuilder[String]
    val studyGenes = Map.newBuilder[String, Set[String]]
    var cells = 0L

    spec.arrays.foreach { a =>
      val genes = (0 until g).filter(i => planted(i) || rng.nextDouble() < a.geneFrac)
      val samples = (0 until a.samples).map(j => s"${a.name}_S$j")
      val outlier = samples.last
      val batch = rng.nextGaussian() * 0.8
      val sampleOff = Array.fill(a.samples)(rng.nextGaussian() * 0.15)
      val rows = new StringBuilder
      val annot = new StringBuilder
      annot.append("probeset\tprobe\tgene_id\tgene_short_name\tcigar\tgene_no\n")
      val perfect = if (a.kind == "illumina") "50=" else "25="
      val rowsPerSet = if (a.kind == "illumina") 1 else 4
      val badToRemove = a.kind match { case "exon" => 2; case "ivt" => 3; case _ => 1 }
      var ps = 0
      val reliableGenes = Set.newBuilder[String]
      genes.foreach { i =>
        val k = math.max(1, math.round(a.probesetsPerGene + rng.nextGaussian() * 0.5).toInt)
        (0 until k).foreach { p =>
          val id = s"${a.name}_$ps"; ps += 1
          // the first probeset of a gene carries the signal and is
          // always reliable; the others are attenuated copies, and a
          // fifth of them fail ProbeFilter (their values are noise)
          val reliable = p == 0 || rng.nextDouble() < 0.8
          val amp = if (p == 0) 1.0 else 0.6
          val off = rng.nextGaussian() * 0.4
          if (reliable) reliableGenes += geneId(i)
          (0 until rowsPerSet).foreach { r =>
            val bad = !reliable && r < badToRemove
            annot.append(id).append('\t').append(s"${id}_$r").append('\t')
              .append(geneId(i)).append('\t').append(s"SYM$i").append('\t')
              .append(if (bad) "20=5X" else perfect).append('\t').append(1).append('\n')
          }
          rows.append(id)
          samples.indices.foreach { j =>
            val log2 =
              if (!reliable) mu(i) + rng.nextGaussian() * 1.5
              else mu(i) + off + batch + sampleOff(j) + rng.nextGaussian() * 0.35 +
                (if (groupOf(j) == "B") amp * lfc(i) else 0.0) +
                (if (samples(j) == outlier) rng.nextGaussian() * 2.0 else 0.0)
            val raw = math.pow(2.0, log2) + 48.0 + 16.0 * math.abs(rng.nextGaussian())
            rows.append('\t').append(fmt2(raw))
          }
          rows.append('\n')
        }
      }
      // control probesets carry no annotation row and drop at the join
      (0 until math.max(2, ps / 100)).foreach { c =>
        rows.append(s"AFFX_${a.name}_$c")
        samples.foreach(_ => rows.append('\t').append(fmt2(64.0 + 32.0 * rng.nextDouble())))
        rows.append('\n')
      }
      write(new File(dir, s"${a.name}.tsv"),
        ("ID" +: samples).mkString("\t") + "\n" + rows)
      write(new File(dir, s"${a.name}.annot.tsv"), annot.toString)
      cells += (ps + math.max(2, ps / 100)).toLong * samples.size
      studyGenes += a.name -> reliableGenes.result()
      registry += Seq(a.name, s"target_${a.name}.txt", "Microarray", a.platform).mkString("\t")
      samples.zipWithIndex.foreach { case (s, j) =>
        targets += Seq(s, s"$s.CEL", groupOf(j), "NA", a.name).mkString("\t")
      }
      outliers += s"${a.name}\t$outlier"
    }

    write(new File(dir, "registry.tsv"),
      "DatasetName\tTargetFile\tType\tPlatform\n" + registry.result().map(_ + "\n").mkString)
    write(new File(dir, "targets.tsv"),
      "Name\tFileName\tTarget\tReplicate\tDatasetName\n" + targets.result().map(_ + "\n").mkString)
    write(new File(dir, "outliers.tsv"),
      "DatasetName\tSamples2exclude\n" + outliers.result().map(_ + "\n").mkString)
    StudyTruth(planted.map(geneId).toSet, studyGenes.result(), cells)
  }

  private def fmt2(x: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.2f", x)

  def write(f: File, s: String): Unit = {
    val w = new BufferedWriter(new FileWriter(f))
    try w.write(s) finally w.close()
  }

  // ---------------------------------------------------------------
  // crawls

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Planted duplicate pairs (original id, copy id). */
  final case class CrawlTruth(exactA: Seq[(Long, Long)], nearA: Seq[(Long, Long)],
      exactB: Seq[(Long, Long)], crossExact: Seq[(Long, Long)],
      crossNear: Seq[(Long, Long)])

  final case class Crawl(a: Seq[Doc], b: Seq[Doc], truth: CrawlTruth)

  val CrawlBBase = 10000000L

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that",
    "for", "be", "have", "with")
  private val otherStop = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "por", "del", "con", "se"))

  /** Seed-independent content vocabulary (pseudo-words). */
  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7)
    val syl = Seq("ka", "lo", "mi", "ter", "pan", "sio", "ra", "den", "vu", "cor",
      "nel", "ta", "bis", "gro", "me", "lin", "sa", "tur", "pe", "dom")
    val stop = (enStop ++ otherStop.values.flatten).toSet
    Iterator.continually((0 until 1 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .filter(w => w.length >= 3 && !stop(w)).distinct.take(600).toIndexedSeq
  }

  private val boilerplate: IndexedSeq[String] = {
    val r = new SplittableRandom(11)
    (0 until 6).map(_ => sentence(r, enStop, 14) + " " + sentence(r, enStop, 12))
  }

  private def word(r: SplittableRandom, stop: Seq[String]): String =
    if (r.nextDouble() < 0.4) stop(r.nextInt(stop.size))
    else vocab((vocab.size * math.pow(r.nextDouble(), 2)).toInt)

  private def sentence(r: SplittableRandom, stop: Seq[String], n: Int): String = {
    val ws = (0 until n).map(_ => word(r, stop))
    (ws.head.capitalize +: ws.tail).mkString(" ") + "."
  }

  private def paragraphs(r: SplittableRandom, stop: Seq[String]): Seq[String] =
    (0 until 2 + r.nextInt(3)).map(_ =>
      (0 until 2 + r.nextInt(3)).map(_ => sentence(r, stop, 8 + r.nextInt(7))).mkString(" "))

  private def cleanDoc(r: SplittableRandom): String = {
    val ps = paragraphs(r, enStop)
    val withBp = if (r.nextDouble() < 0.25) ps :+ boilerplate(r.nextInt(boilerplate.size)) else ps
    withBp.mkString("\n")
  }

  /** Substitute a fraction of the words of every paragraph (at least
    * one per paragraph, so paragraph-grain dedup never strips a near
    * copy down to its edits). */
  private def nearCopy(r: SplittableRandom, text: String): String = {
    val rate = 0.02 + 0.08 * r.nextDouble()
    text.split("\n", -1).map { p =>
      val ws = p.split(" ")
      val forced = r.nextInt(ws.length)
      ws.indices.map { i =>
        if (i == forced || r.nextDouble() < rate) vocab(r.nextInt(vocab.size)) else ws(i)
      }.mkString(" ")
    }.mkString("\n")
  }

  private def foreignDoc(r: SplittableRandom, lang: String): String =
    paragraphs(r, otherStop(lang)).mkString("\n")

  private def junkDoc(r: SplittableRandom): String =
    (0 until 5 + r.nextInt(20)).map(_ =>
      if (r.nextBoolean()) r.nextInt(100000).toString else "###").mkString(" ")

  /** Two crawls: `nA` documents, then `nB` incoming documents of which
    * a share re-publishes crawl-A documents verbatim or lightly edited. */
  def crawl(seed: Long, nA: Int, nB: Int): Crawl = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val exactA, nearA, exactB, crossExact, crossNear =
      Seq.newBuilder[(Long, Long)]
    val baseA = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def other(id: Long, pre: String): Doc = {
      val u = r.nextDouble()
      if (u < 0.5) {
        val l = Seq("de", "fr", "es")(r.nextInt(3))
        Doc(id, foreignDoc(r, l), l, s"$pre-foreign")
      } else Doc(id, junkDoc(r), "und", s"$pre-junk")
    }
    val a = (0 until nA).map { i =>
      val id = i.toLong
      val u = r.nextDouble()
      if (baseA.size < 20 || u < 0.70) {
        val d = Doc(id, cleanDoc(r), "en", "a-base"); baseA += d; d
      } else if (u < 0.78) {
        val o = baseA(r.nextInt(baseA.size)); exactA += o.docId -> id
        Doc(id, o.text, "en", "a-exact")
      } else if (u < 0.86) {
        val o = baseA(r.nextInt(baseA.size)); nearA += o.docId -> id
        Doc(id, nearCopy(r, o.text), "en", "a-near")
      } else other(id, "a")
    }
    val baseB = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val b = (0 until nB).map { i =>
      val id = CrawlBBase + i
      val u = r.nextDouble()
      if (baseB.size < 10 || u < 0.55) {
        val d = Doc(id, cleanDoc(r), "en", "b-base"); baseB += d; d
      } else if (u < 0.67) {
        val o = baseA(r.nextInt(baseA.size)); crossExact += o.docId -> id
        Doc(id, o.text, "en", "b-cross-exact")
      } else if (u < 0.79) {
        val o = baseA(r.nextInt(baseA.size)); crossNear += o.docId -> id
        Doc(id, nearCopy(r, o.text), "en", "b-cross-near")
      } else if (u < 0.85) {
        val o = baseB(r.nextInt(baseB.size)); exactB += o.docId -> id
        Doc(id, o.text, "en", "b-exact")
      } else other(id, "b")
    }
    Crawl(a, b, CrawlTruth(exactA.result(), nearA.result(), exactB.result(),
      crossExact.result(), crossNear.result()))
  }
}
