package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The workloads' generator settings, and the on-disk input cache
  * keyed by (generator, version, settings, seed). */
object Inputs {
  private def arr(name: String, platform: String, kind: String, ppg: Double,
      frac: Double, samples: Int) = Gen.ArraySpec(name, platform, kind, ppg, frac, samples)

  /** Two array studies, probeset counts in the reference's ratio
    * (HuEx ≫ Illumina). */
  val large = Gen.StudySpec(genes = 800, arrays = Seq(
      arr("HuEx", "HuEx-1_0-st", "exon", 2.5, 0.9, 12),
      arr("Illumina", "HumanHT-12", "illumina", 1.4, 0.85, 12)),
    groups = Seq("A", "B"), deFrac = 0.03)

  val crawlA = 400
  val crawlB = 200

  /** Keep the input cache bounded: the newest few seeds stay. */
  private val keep = 6

  def prepare(spark: SparkSession, workload: String, seed: Long, cache: File): Workload = {
    val gen = if (workload == "text_curation") "crawl" else workload
    // the key covers the generator settings, so a changed spec never
    // reads inputs cached under an older one
    val key = Integer.toHexString((large, crawlA, crawlB).hashCode)
    val dir = new File(cache, s"$gen-v${Gen.Version}-$key-s$seed")
    val done = new File(dir, "_DONE")
    if (!done.exists()) {
      deleteTree(dir)
      gen match {
        case "crawl" => writeCrawl(spark, Gen.crawl(seed, crawlA, crawlB), dir)
        case "integration_large" => writeTruth(Gen.studies(large, seed, dir), dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      Gen.write(done, "")
      prune(cache)
    }
    done.setLastModified(System.currentTimeMillis())
    workload match {
      case "text_curation" => new TextCuration(dir, readCrawlTruth(dir), crawlA + crawlB)
      case _ => new Integration(dir, readTruth(dir),
        large.arrays.map(a => a.name -> a.kind).toMap, remlIters = 3, nperm = 5)
    }
  }

  private def writeTruth(t: Gen.StudyTruth, dir: File): Unit =
    Gen.write(new File(dir, "truth.tsv"),
      (Seq(s"planted\t${t.planted.toSeq.sorted.mkString(",")}", s"cells\t${t.cells}") ++
        t.studyGenes.toSeq.sortBy(_._1).map { case (s, g) =>
          s"study\t$s\t${g.toSeq.sorted.mkString(",")}" }).mkString("\n") + "\n")

  private def readTruth(dir: File): Gen.StudyTruth = {
    val ls = lines(new File(dir, "truth.tsv")).map(_.split("\t", -1))
    def list(s: String) = s.split(",").filter(_.nonEmpty).toSet
    Gen.StudyTruth(
      planted = ls.collectFirst { case Array("planted", g) => list(g) }.get,
      studyGenes = ls.collect { case Array("study", s, g) => s -> list(g) }.toMap,
      cells = ls.collectFirst { case Array("cells", n) => n.toLong }.get)
  }

  private def writeCrawl(spark: SparkSession, c: Gen.Crawl, dir: File): Unit = {
    import spark.implicits._
    Seq("a" -> c.a, "b" -> c.b).foreach { case (n, docs) =>
      spark.sparkContext.parallelize(
          docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong)), 4)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(new File(dir, s"crawl_$n.parquet").getAbsolutePath)
    }
    val t = c.truth
    def pairs(ps: Seq[(Long, Long)]) = ps.map { case (x, y) => s"$x:$y" }.mkString(",")
    Gen.write(new File(dir, "truth.tsv"), Seq("exactA" -> t.exactA, "nearA" -> t.nearA,
      "exactB" -> t.exactB, "crossExact" -> t.crossExact, "crossNear" -> t.crossNear)
      .map { case (k, v) => s"$k\t${pairs(v)}" }.mkString("\n") + "\n")
  }

  private def readCrawlTruth(dir: File): Gen.CrawlTruth = {
    val m = lines(new File(dir, "truth.tsv")).map(_.split("\t", -1)).map(a =>
      a(0) -> a(1).split(",").filter(_.nonEmpty).toSeq.map { p =>
        val Array(x, y) = p.split(":"); (x.toLong, y.toLong)
      }).toMap
    Gen.CrawlTruth(m("exactA"), m("nearA"), m("exactB"), m("crossExact"), m("crossNear"))
  }

  private def lines(f: File): Seq[String] = {
    val s = scala.io.Source.fromFile(f)
    try s.getLines().toList finally s.close()
  }

  private def prune(cache: File): Unit =
    Option(cache.listFiles()).getOrElse(Array.empty[File])
      .filter(d => new File(d, "_DONE").exists())
      .sortBy(d => -new File(d, "_DONE").lastModified())
      .drop(keep).foreach(deleteTree)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}
