package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val spec = Gen.StudySpec(genes = 200, arrays = Seq(
      Gen.ArraySpec("HuEx", "HuEx-1_0-st", "exon", 2.0, 0.9, 6),
      Gen.ArraySpec("Illumina", "HumanHT-12", "illumina", 1.2, 0.8, 6)),
    groups = Seq("A", "B"), deFrac = 0.05)

  private def fresh(name: String): File = {
    val d = new File(s"target/gen-spec/$name")
    Inputs.deleteTree(d)
    d
  }

  private def contents(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("a study set is byte-identical for the same seed and differs for another") {
    val (a, b, c) = (fresh("a"), fresh("b"), fresh("c"))
    val ta = Gen.studies(spec, 7, a)
    val tb = Gen.studies(spec, 7, b)
    val tc = Gen.studies(spec, 8, c)
    assert(ta == tb)
    assert(contents(a) == contents(b))
    assert(contents(a).keySet == contents(c).keySet)
    assert(contents(a) != contents(c))
    assert(ta.planted != tc.planted)
  }

  test("a study set carries the reference's files and a consistent truth") {
    val d = fresh("shape")
    val t = Gen.studies(spec, 3, d)
    assert(d.list().toSet == Set("registry.tsv", "targets.tsv", "outliers.tsv", "HuEx.tsv",
      "HuEx.annot.tsv", "Illumina.tsv", "Illumina.annot.tsv"))
    // every planted gene keeps a reliable probe on every study
    t.studyGenes.values.foreach(g => assert(t.planted.subsetOf(g)))
    assert(t.arrays == Seq("HuEx", "Illumina"))
    assert(t.cells > 0)
  }

  test("a crawl is identical for the same seed and plants labelled duplicates") {
    val c1 = Gen.crawl(5, 300, 150)
    assert(c1 == Gen.crawl(5, 300, 150))
    assert(c1 != Gen.crawl(6, 300, 150))
    val text = (c1.a ++ c1.b).map(d => d.docId -> d.text).toMap
    val t = c1.truth
    Seq(t.exactA, t.exactB, t.crossExact).foreach { ps =>
      assert(ps.nonEmpty)
      ps.foreach { case (o, c) => assert(o < c && text(o) == text(c)) }
    }
    (t.nearA ++ t.crossNear).foreach { case (o, c) => assert(text(o) != text(c)) }
    assert(c1.a.map(_.docId).distinct.size == 300 && c1.b.map(_.docId).distinct.size == 150)
  }
}
