package graft

import graft.model.{ExpressionMatrix, Workspace}
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def probeData(datasets: Seq[String], shiftGene: String = "ENSG1") = {
    // 2 probes per gene, 3 genes, 4 samples per dataset; gene ENSG1
    // differentially expressed between groups
    for {
      ds <- datasets
      probe <- Seq("p1a", "p1b", "p2a", "p2b", "p3a", "p3b")
      i <- 1 to 4
    } yield {
      val gene = "ENSG" + probe.charAt(1)
      val grp = if (i <= 2) "A" else "B"
      val bump = if (gene == shiftGene && grp == "A") 3.0 else 0.0
      val batchShift = if (ds == "ds2") 1.0 else 0.0
      val noise = ((probe.hashCode.abs % 7) + i * 3 % 5) * 0.13
      (probe, s"$ds-s$i", 8.0 + bump + batchShift + noise, ds, grp)
    }
  }

  test("closedPlatformDE end-to-end: DE gene ranked first") {
    val rows = probeData(Seq("ds1", "ds2"))
    val datasets = Seq("ds1", "ds2").map { ds =>
      ds -> ExpressionMatrix(rows.filter(_._4 == ds)
        .map(r => (r._1, r._2, r._3)).toDF("gene_id", "sample_id", "value"))
    }
    val annot = Seq(("p1a", "ENSG1"), ("p1b", "ENSG1"), ("p2a", "ENSG2"),
      ("p2b", "ENSG2"), ("p3a", "ENSG3"), ("p3b", "ENSG3")).toDF("probe", "gene_id")
    val flat = annot.select("probe")  // all probes reliable
    val outliers = Seq.empty[String].toDF("sample_id")
    val groups = rows.map(r => (r._2, r._5)).distinct.toDF("sample_id", "group")
    val top = Pipelines.closedPlatformDE(datasets, annot, flat, outliers, groups,
      "A", "B", sdFrac = 1.0).collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[String]("gene_id") == "ENSG1",
      s"expected ENSG1 first, got ${top.map(_.getAs[String]("gene_id")).toSeq}")
    assert(top.head.getAs[Double]("log2fc") > 1.0)
  }

  test("reliable-checkpoint mode: same chain output, boundary tables addressable by name") {
    val rows = probeData(Seq("ds1", "ds2"))
    val datasets = Seq("ds1", "ds2").map { ds =>
      ds -> ExpressionMatrix(rows.filter(_._4 == ds)
        .map(r => (r._1, r._2, r._3)).toDF("gene_id", "sample_id", "value"))
    }
    val annot = Seq(("p1a", "ENSG1"), ("p1b", "ENSG1"), ("p2a", "ENSG2"),
      ("p2b", "ENSG2"), ("p3a", "ENSG3"), ("p3b", "ENSG3")).toDF("probe", "gene_id")
    val flat = annot.select("probe")
    val outliers = Seq.empty[String].toDF("sample_id")
    val groups = rows.map(r => (r._2, r._5)).distinct.toDF("sample_id", "group")
    def run() = Pipelines.closedPlatformDE(datasets, annot, flat, outliers, groups,
        "A", "B", sdFrac = 1.0).collect()
      .map(r => (r.getAs[String]("gene_id"), r.getAs[Double]("log2fc"),
        r.getAs[Double]("p"))).toSeq
    val local = run()                         // default: localCheckpoint mode
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      // near-equality, not bit-equality: the parquet roundtrip can
      // re-partition a boundary relation, which legitimately reorders
      // downstream float accumulation (~1e-12 relative); the external
      // contract (the DuckDB hash gate) compares on a rounded grid
      val reliable = run()
      assert(reliable.map(_._1) == local.map(_._1),
        "reliable-checkpoint mode changed the gene ranking")
      reliable.zip(local).foreach { case ((g, fc1, p1), (_, fc2, p2)) =>
        assert(math.abs(fc1 - fc2) <= 1e-9 * math.max(1.0, math.abs(fc2)),
          s"$g log2fc diverged: $fc1 vs $fc2")
        assert(math.abs(p1 - p2) <= 1e-9 * math.max(1e-30, math.abs(p2)),
          s"$g p diverged: $p1 vs $p2")
      }
      // the stage boundaries materialized as parquet tables named after
      // the reference's stage files, re-readable by name
      for (stage <- Seq("comb_closed", "comb_closed_filtered")) {
        val t = spark.read.parquet(s"$dir/$stage.parquet")
        assert(t.count() > 0, s"boundary table $stage is empty")
        assert(t.columns.toSet == Set("gene_id", "sample_id", "value"))
      }
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("openPlatformDE end-to-end runs and keeps the signal gene") {
    val rows = for {
      g <- 1 to 8; i <- 1 to 8
    } yield {
      val grp = if (i <= 4) "A" else "B"
      // noise larger than the inter-gene gap so per-sample ranks differ
      // (quantile normalisation collapses variance when ranks agree)
      val base = 50 + g * 10 + ((g * 13 + i * 7) % 9) * 8
      val bump = if (g == 1 && grp == "A") 200 else 0
      (s"g$g", s"s$i", (base + bump).toDouble, grp)
    }
    val counts = ExpressionMatrix(
      (rows.map(r => (r._1, r._2, r._3)) ++
        Seq(("__no_feature", "s1", 99.0), ("gz", "s1", 0.0), ("gz", "s2", 0.0)))
        .toDF("gene_id", "sample_id", "value"))
    val outliers = Seq.empty[String].toDF("sample_id")
    val batches = (1 to 8).map(i => (s"s$i", if (i % 2 == 0) "b1" else "b2"))
      .toDF("sample_id", "batch")
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val top = Pipelines.openPlatformDE(counts, outliers, batches, groups, "A", "B",
      sdFrac = 1.0).collect()
    assert(top.nonEmpty)
    val genes = top.map(_.getAs[String]("gene_id")).toSet
    assert(!genes.contains("__no_feature") && !genes.contains("gz"))
  }

  test("openPlatformDE with technical replicates deflates evidence (wider moderated t)") {
    val rows = for {
      g <- 1 to 10; i <- 1 to 8
    } yield {
      val grp = if (i <= 4) "A" else "B"
      val base = 50 + g * 10 + ((g * 13 + i * 7) % 9) * 8
      val bump = if (g == 1 && grp == "A") 200 else 0
      // technical replicate pairs (1,2),(3,4),... get near-identical
      // values so the intra-unit correlation is high
      val repTweak = if (i % 2 == 0) 1 else 0
      (s"g$g", s"s$i", (base + bump + repTweak).toDouble, grp, s"u${(i + 1) / 2}")
    }
    val counts = ExpressionMatrix(rows.map(r => (r._1, r._2, r._3))
      .toDF("gene_id", "sample_id", "value"))
    val outliers = Seq.empty[String].toDF("sample_id")
    val batches = (1 to 8).map(i => (s"s$i", if (i % 2 == 0) "b1" else "b2"))
      .toDF("sample_id", "batch")
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val reps = rows.map(r => (r._2, r._5, if (r._2.drop(1).toInt % 2 == 0) 2 else 1))
      .distinct.toDF("sample_id", "unit", "rep")
    def tAbsSum(replicates: Option[org.apache.spark.sql.DataFrame]): Double =
      Pipelines.openPlatformDE(counts, outliers, batches, groups, "A", "B",
          sdFrac = 1.0, replicates = replicates)
        .agg(sum(abs(col("t_mod")))).head().getDouble(0)
    val unblocked = tAbsSum(None)
    val blocked = tAbsSum(Some(reps))
    // correlated replicates shrink effective n -> |t| falls overall
    assert(blocked < unblocked,
      s"expected deflated |t| with blocking: blocked=$blocked unblocked=$unblocked")
  }

  test("multi-contrast chains emit all C(3,2) contrasts with per-contrast BH + sig") {
    val rows = for {
      g <- 1 to 8; grp <- Seq("A", "B", "C"); i <- 1 to 4
    } yield {
      val base = 50 + g * 10 + ((g * 13 + i * 7 + grp.hashCode % 3) % 9) * 8
      val bump = if (g == 1 && grp == "A") 200 else 0
      (s"g$g", s"s$grp$i", (base + bump).toDouble, grp)
    }
    val counts = ExpressionMatrix(rows.map(r => (r._1, r._2, r._3))
      .toDF("gene_id", "sample_id", "value"))
    val outliers = Seq.empty[String].toDF("sample_id")
    val batches = rows.map(r => (r._2, if (r._2.hashCode % 2 == 0) "b1" else "b2"))
      .distinct.toDF("sample_id", "batch")
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val out = Pipelines.openPlatformDEMulti(counts, outliers, batches, groups,
      sdFrac = 1.0).collect()
    assert(out.nonEmpty)
    val contrasts = out.map(_.getAs[String]("contrast")).toSet
    assert(contrasts == Set("AvsB", "AvsC", "BvsC"))
    // per-gene shared pooling: df_total equal across a gene's contrasts
    val byGene = out.groupBy(_.getAs[String]("gene_id"))
    for ((_, rs) <- byGene if rs.length > 1) {
      val dfs = rs.map(_.getAs[Double]("df_total")).distinct
      assert(dfs.length == 1, s"df_total differs across contrasts: ${dfs.toSeq}")
    }
    // sig ∈ {-1, 0, 1} and p_bh within [0, 1]
    assert(out.forall(r => Set(-1, 0, 1).contains(r.getAs[Int]("sig"))))
    assert(out.forall { r =>
      val p = r.getAs[Double]("p_bh"); p >= 0.0 && p <= 1.0
    })
  }

  test("metaAnalysis combines platforms and requires >=2-platform support") {
    val rows = for {
      plat <- Seq("P1", "P2"); g <- 1 to 12; i <- 1 to 6
    } yield {
      val grp = if (i <= 3) "A" else "B"
      val corr = g * 1.0 + i * 0.2          // shared structure across platforms
      val bump = if (g == 1 && grp == "A") 4.0 else 0.0
      (plat, s"g$g", s"$plat-s$i", corr + bump + ((g * 7 + i * 3) % 5) * 0.1, grp)
    }
    val platforms = Seq("P1", "P2").map { p =>
      p -> ExpressionMatrix(rows.filter(_._1 == p)
        .map(r => (r._2, r._3, r._4)).toDF("gene_id", "sample_id", "value"))
    }
    val groups = rows.map(r => (r._3, r._5)).distinct.toDF("sample_id", "group")
    val meta = Pipelines.metaAnalysis(platforms, groups, "A", "B").collect()
    assert(meta.nonEmpty)
    assert(meta.forall(_.getAs[Long]("n_platforms") >= 2))
    val best = meta.minBy(_.getAs[Double]("p_comb"))
    assert(best.getAs[String]("gene_id") == "g1",
      s"expected g1 most significant, got ${best}")
  }

  test("textCuration end-to-end: dedup, near-dup, lang and quality filters compose") {
    val base = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val docs = Seq(
      (1L, base),                                  // keeper
      (2L, base.toUpperCase),                      // exact dup of 1 (normalized) -> dropped
      (3L, base + "with one extra tail phrase"),   // near-dup of 1 -> dropped
      (4L, "der hund ist nicht auf der mit und das war so und der tag ist gut " * 4), // German -> dropped
      (5L, "zx qv jk wq " * 40),                   // junk quality -> dropped
      (6L, "a completely different english story about the sea and the ships that sail it " * 3))
      .toDF("doc_id", "text")
    val out = Pipelines.textCuration(docs, langs = Seq("en"),
        minQuality = 0.3, nearDupJaccard = 0.5)
      .select("doc_id", "lang", "ws_tokens").collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 6L), s"survivors: $ids")
    assert(out.forall(_.getString(1) == "en"))
    assert(out.forall(_.getInt(2) > 10))
  }

  test("curationAudit: every stage attributed with its winner/detail, keep set exactly textCuration's") {
    val base = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val docs = Seq(
      (1L, base),                                  // keeper
      (2L, base.toUpperCase),                      // exact dup of 1 (normalized)
      (3L, base + "with one extra tail phrase"),   // near-dup of 1
      (4L, "der hund ist nicht auf der mit und das war so und der tag ist gut " * 4), // German
      (5L, "zx qv jk wq " * 40),                   // no stopwords -> 'und', lang stage
      (6L, "a completely different english story about the sea and the ships that sail it " * 3),
      // detected en (one en stopword) but junk quality: long words
      // kill the word-length term, punctuation mass kills the punct
      // term, 4 tokens kill the length term
      (7L, "the, understanding;;; extraordinarily!!! incomprehensibilities??? !!!!!!!!!!!!!!!!"))
      .toDF("doc_id", "text")
    val ledger = Pipelines.curationAudit(docs, langs = Seq("en"),
        minQuality = 0.3, nearDupJaccard = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)))))
      .toMap
    assert(ledger.size == 7, "every input doc gets exactly one ledger row")
    assert(ledger(1L) == ("kept", None))
    assert(ledger(2L) == ("exact_dup", Some("1")), s"got ${ledger(2L)}")
    assert(ledger(3L) == ("near_dup", Some("1")), s"got ${ledger(3L)}")
    assert(ledger(4L) == ("lang", Some("de")), s"got ${ledger(4L)}")
    assert(ledger(5L) == ("lang", Some("und")), s"got ${ledger(5L)}")
    assert(ledger(6L) == ("kept", None))
    assert(ledger(7L) == ("quality", None), s"got ${ledger(7L)}")
    // the contract: the ledger's kept set IS textCuration's keep set
    val chainKept = Pipelines.textCuration(docs, langs = Seq("en"),
        minQuality = 0.3, nearDupJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ledger.filter(_._2._1 == "kept").keySet == chainKept)
  }

  test("nearDupIndexUpsert: crawl-2 near-dups of crawl-1 acceptances are caught only by the grown index") {
    import graft.operators.TextDedup
    val a = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val b = "a completely different english story about the sea and the ships that sail it " * 3
    val ref0 = Seq((1L, a)).toDF("doc_id", "text")
    // crawl 1: 10 near-dups the reference (dropped), 11 is novel (accepted)
    val crawl1 = Seq((10L, a + "with one extra tail phrase"), (11L, b))
      .toDF("doc_id", "text")
    // crawl 2: 20 near-dups the ACCEPTED crawl-1 doc 11, 21 is novel
    val crawl2 = Seq((20L, b + "with one extra tail phrase"),
      (21L, "yet another unrelated english text about mountains and the snow that falls on them " * 3))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (b0, s0) = TextDedup.nearDupIndex(ref0)
    val kept1 = TextDedup.nearDupAgainstIndex(crawl1, b0, s0, minJaccard = 0.3)
    assert(ids(kept1) == Set(11L), s"gen-1 keep set: ${ids(kept1)}")
    // the frozen index re-admits the duplicate of an accepted doc...
    val frozen = TextDedup.nearDupAgainstIndex(crawl2, b0, s0, minJaccard = 0.3)
    assert(ids(frozen) == Set(20L, 21L), s"frozen-index keep set: ${ids(frozen)}")
    // ...the upserted index catches it
    val (b1, s1) = TextDedup.nearDupIndexUpsert(b0, s0, kept1)
    val grown = TextDedup.nearDupAgainstIndex(crawl2, b1, s1, minJaccard = 0.3)
    assert(ids(grown) == Set(21L), s"grown-index keep set: ${ids(grown)}")
    graft.model.RelCache.releaseAll()
  }

  test("index DELETE: anti-join deletion ≡ rebuild-without, and the index forgets (near-dup + winnow + graph)") {
    import graft.operators.{Similarity, TextDedup}
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val ref = Seq((1L, a),
      (2L, "a completely different english story about the sea and the ships that sail it " * 3))
      .toDF("doc_id", "text")
    // the crawl doc near-dups ONLY ref doc 1 (the takedown target)
    val crawl = Seq((10L, a + "with one extra tail phrase")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val rm = Seq(1L).toDF("doc_id")
    // near-dup family: before deletion the crawl doc drops; after, admitted
    val (b0, s0) = TextDedup.nearDupIndex(ref)
    assert(ids(TextDedup.nearDupAgainstIndex(crawl, b0, s0, minJaccard = 0.3)).isEmpty)
    val (b1, s1) = TextDedup.nearDupIndexDelete(b0, s0, rm)
    assert(ids(TextDedup.nearDupAgainstIndex(crawl, b1, s1, minJaccard = 0.3)) == Set(10L),
      "deleted near-dup index must re-admit near-copies of the removed doc")
    // deletion ≡ rebuild-without (row-set identity on both relations)
    val (b2, s2) = TextDedup.nearDupIndex(ref.filter($"doc_id" =!= 1L))
    assert(b1.collect().toSet == b2.collect().toSet)
    assert(s1.collect().toSet == s2.collect().toSet)
    // winnow family: same contract
    val (fp0, sz0) = TextDedup.winnowIndex(ref)
    assert(ids(TextDedup.containmentAgainstIndex(crawl, fp0, sz0,
      minShared = 2, minContainment = 0.8)).isEmpty)
    val (fp1, sz1) = TextDedup.winnowIndexDelete(fp0, sz0, rm)
    assert(ids(TextDedup.containmentAgainstIndex(crawl, fp1, sz1,
      minShared = 2, minContainment = 0.8)) == Set(10L),
      "deleted winnow index must re-admit passages of the removed doc")
    val (fp2, sz2) = TextDedup.winnowIndex(ref.filter($"doc_id" =!= 1L))
    assert(fp1.collect().toSet == fp2.collect().toSet)
    assert(sz1.collect().toSet == sz2.collect().toSet)
    // graph family: removed node gone, dangling edges gone, ranks
    // recompacted contiguously from 1 in (sim desc, id asc) order
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = Similarity.knnGraphDescent(emb, k = 3, iters = 1, dim = 64)
      .localCheckpoint(true)
    val del = Similarity.knnGraphDelete(g,
      emb.filter($"vec_id" % 13 === 0).select("vec_id")).localCheckpoint(true)
    assert(del.filter($"vec_id" % 13 === 0 || $"nbr" % 13 === 0).count() == 0)
    val badRank = del.groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.collect_list("rank").as("rs"))
      .collect().exists { r =>
        val rs = r.getSeq[Int](1).sorted; rs != (1 to rs.size) }
    assert(!badRank, "ranks must recompact to 1..m per node")
    // COMPACTION: one refresh round refills degree holes from the
    // 2-hop neighborhood; the union includes the current state, so
    // no node can lose degree, and deficient nodes recover
    def degrees(g: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      g.groupBy("vec_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dBefore = degrees(del)
    assert(dBefore.values.exists(_ < 3), "fixture must leave degree holes")
    val refreshed = Similarity.knnGraphRefresh(del,
      emb.filter($"vec_id" % 13 =!= 0), k = 3).localCheckpoint(true)
    assert(refreshed.filter($"vec_id" % 13 === 0 || $"nbr" % 13 === 0).count() == 0,
      "removed nodes must not re-enter through the refresh")
    val dAfter = degrees(refreshed)
    assert(dBefore.forall { case (n, d) => dAfter.getOrElse(n, 0L) >= d },
      "refresh must never lose degree (state is in the candidate union)")
    val deficient = dBefore.collect { case (n, d) if d < 3 => n }
    assert(deficient.count(n => dAfter.getOrElse(n, 0L) == 3) >
      deficient.size / 2,
      "most degree-deficient nodes must refill to k from their 2-hop neighborhood")
    graft.model.RelCache.releaseAll()
  }

  test("index COMPACT: re-cap over the post-delete relation ≡ fresh capped build, and the cap changes serving (near-dup + winnow)") {
    import graft.operators.TextDedup
    import spark.implicits._
    // boiler is shared VERBATIM by ref docs 2,3,4 (df = 3); each adds
    // a unique tail. Crawl doc 10 is the boilerplate alone — it
    // matches ref doc 2 (also boiler-only) exactly, so the uncompacted
    // index drops it; compacting at dfCap = 2 caps the boiler-interior
    // hashes away and the crawl doc is admitted again.
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi"
    val ref = Seq(
      (2L, boiler),
      (3L, boiler + " rho sigma tau upsilon phi chi psi omega one two"),
      (4L, boiler + " three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val crawl = Seq((10L, boiler)).toDF("doc_id", "text")
    val rm = Seq(99L).toDF("doc_id") // takedown of an absent id: compaction alone must flip the outcome
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // near-dup family: identity vs fresh capped build (both relations)
    val (bd0, sh0) = TextDedup.nearDupIndex(ref)
    assert(ids(TextDedup.nearDupAgainstIndex(crawl, bd0, sh0, minJaccard = 0.3)).isEmpty,
      "uncompacted index must drop the boilerplate-only crawl doc")
    val (bd1, sh1) = TextDedup.nearDupIndexDelete(bd0, sh0, rm)
    val (bd2, sh2) = TextDedup.nearDupIndexCompact(sh1, dfCap = 2)
    val (bdF, shF) = TextDedup.nearDupIndex(ref, dfCap = 2)
    assert(bd2.collect().toSet == bdF.collect().toSet,
      "compacted bands must equal a fresh capped build's (signatures re-derived)")
    assert(sh2.collect().toSet == shF.collect().toSet,
      "compacted shingles must equal a fresh capped build's")
    assert(ids(TextDedup.nearDupAgainstIndex(crawl, bd2, sh2, minJaccard = 0.3)) == Set(10L),
      "compaction must cap the boilerplate signal away (crawl doc admitted)")

    // winnow family: same contract; sizes stay TRUE mass (uncapped)
    val (fp0, sz0) = TextDedup.winnowIndex(ref)
    assert(ids(TextDedup.containmentAgainstIndex(crawl, fp0, sz0,
      minShared = 2, minContainment = 0.8)).isEmpty,
      "uncompacted winnow index must drop the boilerplate-only crawl doc")
    val (fp1, _) = TextDedup.winnowIndexDelete(fp0, sz0, rm)
    val (fp2, sz2) = TextDedup.winnowIndexCompact(fp1, dfCap = 2)
    val (fpF, szF) = TextDedup.winnowIndex(ref)
    assert(fp2.collect().toSet ==
      TextDedup.capShingleDf(fpF, 2, "h").collect().toSet,
      "compacted fingerprints must equal the fresh relation re-capped")
    assert(sz2.collect().toSet == szF.collect().toSet,
      "compacted sizes must be TRUE fingerprint mass (uncapped denominators)")
    assert(ids(TextDedup.containmentAgainstIndex(crawl, fp2, sz2,
      minShared = 2, minContainment = 0.8)) == Set(10L),
      "winnow compaction must cap the boilerplate signal away (crawl doc admitted)")
    graft.model.RelCache.releaseAll()
  }

  test("warehouse GC: orphaned fixture generations are swept, live and untagged tables survive") {
    val wh = new java.io.File(
      spark.sessionState.conf.warehousePath.stripPrefix("file:"))
    wh.mkdirs()
    // a fixture-tagged generation whose key matches NO testdata dir
    // (regenerated-fixture orphan) and an untagged spec-demo dir
    val orphan = new java.io.File(wh, "graft_wfp_sf9_99_deadbeef0123")
    val demo = new java.io.File(wh, "graft_gcdemo_untagged")
    // crashed build temps (structural `__graftbuild_<pid>_<hex>`
    // suffix): a DEAD one (>1h old) must be swept, a LIVE one (fresh
    // mtime — possibly another process mid-build) kept
    val deadTmp = new java.io.File(wh, "graft_gcdemo__graftbuild_99_abcd")
    val liveTmp = new java.io.File(wh, "graft_gcdemo__graftbuild_99_beef")
    orphan.mkdirs(); demo.mkdirs(); deadTmp.mkdirs(); liveTmp.mkdirs()
    deadTmp.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
    try {
      val (deleted, kept) = graft.model.AtRest.gcWarehouse(spark, "/root/testdata")
      assert(deleted.contains("graft_wfp_sf9_99_deadbeef0123"),
        s"orphaned generation must be swept (deleted=$deleted)")
      assert(!orphan.exists(), "orphan dir must be gone from disk")
      assert(demo.exists() && !deleted.contains("graft_gcdemo_untagged"),
        "untagged spec-demo tables are out of the sweep's scope")
      assert(deleted.contains("graft_gcdemo__graftbuild_99_abcd") && !deadTmp.exists(),
        "crashed (>1h) build temps must be swept")
      assert(liveTmp.exists() && !deleted.contains("graft_gcdemo__graftbuild_99_beef"),
        "a fresh build temp may be another process mid-build — kept")
      // every LIVE fixture-tagged table (current testdata keys) kept
      val liveKeys = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").flatMap(d =>
        Seq("documents", "embeddings").map(t => graft.model.AtRest.fixtureKey(d, t))).toSet
      val wrongly = deleted.filter(n => liveKeys.exists(n.endsWith))
      assert(wrongly.isEmpty, s"live tables must never be swept: $wrongly")
    } finally { demo.delete(); liveTmp.delete(); deadTmp.delete()
      if (orphan.exists()) {
        orphan.listFiles().foreach(_.delete()); orphan.delete() } }
  }

  test("atomic publish: first rename wins, second loses without nesting, loser temp is deleted") {
    val wh = new java.io.File(
      spark.sessionState.conf.warehousePath.stripPrefix("file:"))
    wh.mkdirs()
    def mk(name: String, payload: String): java.io.File = {
      val d = new java.io.File(wh, name); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part-0").toPath,
        payload.getBytes("UTF-8"))
      d
    }
    val tmp1 = mk("graft_pubspec__b1_aaaa", "gen1")
    val tmp2 = mk("graft_pubspec__b2_bbbb", "gen2")
    val dst = new java.io.File(wh, "graft_pubspec")
    try {
      val p = new org.apache.hadoop.fs.Path(_: String)
      val won1 = graft.model.AtRest.publish(spark,
        p(tmp1.getAbsolutePath), p(dst.getAbsolutePath))
      val won2 = graft.model.AtRest.publish(spark,
        p(tmp2.getAbsolutePath), p(dst.getAbsolutePath))
      assert(won1, "first publish must claim the final dir")
      assert(!won2, "second publish must LOSE, not nest into the winner")
      assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dst, "part-0").toPath), "UTF-8") == "gen1",
        "the published generation must be the winner's")
      assert(!tmp2.exists(), "the loser's temp build must be deleted")
      assert(Option(dst.listFiles()).getOrElse(Array.empty)
          .forall(_.isFile),
        "no stray subdirectory inside the published dir (the FileSystem" +
          ".rename nesting failure mode)")
    } finally {
      Seq(tmp1, tmp2, dst).foreach { d =>
        Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        d.delete()
      }
    }
  }

  test("at-rest artifacts survive sessions: a fresh catalog re-registers from markers, data files untouched") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    // session 1: q143 builds (or re-registers) the at-rest BPE table
    val r1 = SparkEntry.queries("q143_real_budget_amortized")(spark, dir)
      .collect().map(_.toString).sorted
    val wh = new java.io.File(
      spark.sessionState.conf.warehousePath.stripPrefix("file:"))
    val tbls = Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bpe_sf0_001_"))
    assert(tbls.nonEmpty, s"expected an at-rest BPE table under $wh")
    assert(tbls.forall(t => new java.io.File(t, "_graft_complete.json").exists()),
      "build-complete marker must be the build's last step")
    def mtimes(): Map[String, Long] = tbls.flatMap(t =>
      Option(t.listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName.startsWith("_"))
        .map(f => f.getAbsolutePath -> f.lastModified())).toMap
    val before = mtimes()
    // session 2, the driver-restart shape FOR REAL (ADVICE r11):
    // newSession() SHARES SharedState's external catalog, so the
    // graft_* entries from session 1 would still be registered and
    // ensureTable would early-return — the marker re-registration
    // branch would never run and this gate would pass vacuously.
    // Detach the catalog entries first (files + markers untouched),
    // then require the re-registration branch to have actually fired
    // (BuildMeter.regCount) with ZERO rebuilds (BuildMeter.count).
    val detached = SpecReferences.detachGraftTables(spark)
    assert(detached > 0, "expected registered graft_* tables to detach")
    val s2 = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      SparkEntry.clearQueryCaches() // memo caches hold session-1 frames
      val regs0 = graft.model.BuildMeter.regCount
      val builds0 = graft.model.BuildMeter.count
      val r2 = SparkEntry.queries("q143_real_budget_amortized")(s2, dir)
        .collect().map(_.toString).sorted
      assert(graft.model.BuildMeter.regCount > regs0,
        "session 2 must take the marker RE-REGISTRATION branch (detached catalog)")
      assert(graft.model.BuildMeter.count == builds0,
        "session 2 must never REBUILD an at-rest artifact")
      assert(r2.toSeq == r1.toSeq, "re-registered session must reproduce the build session")
      assert(mtimes() == before, "session 2 must leave data-file mtimes unchanged")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SparkEntry.clearQueryCaches()
    }
  }

  test("at-rest component labeling: q176 equals the inline q175 closure; a fresh catalog re-registers apply-only") {
    val dir = "/root/testdata/sf0.001"
    // store-then-upsert (q176) must be indistinguishable from the
    // inline two-batch closure (q175) — the cluster family's
    // q128-vs-q123 round-trip proof
    val inline = SparkEntry.queries("q175_components_upsert")(spark, dir)
      .collect().map(_.toString).sorted
    val r1 = SparkEntry.queries("q176_components_at_rest")(spark, dir)
      .collect().map(_.toString).sorted
    assert(r1.toSeq == inline.toSeq,
      "stored labeling + upsert must equal the inline closure")
    // session 2 (driver-restart shape): detach the labeling's catalog
    // entry, require the marker RE-REGISTRATION branch with ZERO
    // rebuilds, and the same result
    val detached = SpecReferences.detachGraftTables(spark, prefix = "graft_cclab_")
    assert(detached > 0, "expected a registered graft_cclab_* table to detach")
    val s2 = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      SparkEntry.clearQueryCaches()
      val regs0 = graft.model.BuildMeter.regCount
      val builds0 = graft.model.BuildMeter.count
      val r2 = SparkEntry.queries("q176_components_at_rest")(s2, dir)
        .collect().map(_.toString).sorted
      assert(graft.model.BuildMeter.regCount > regs0,
        "session 2 must take the marker re-registration branch")
      assert(graft.model.BuildMeter.count == builds0,
        "session 2 must never rebuild the stored labeling")
      assert(r2.toSeq == r1.toSeq,
        "re-registered session must reproduce the build session")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SparkEntry.clearQueryCaches()
    }
  }

  test("winnowIndexUpsert: the frozen index re-admits a passage of an accepted doc; the grown index catches it") {
    import graft.operators.TextDedup
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val b = "an entirely separate english essay about rivers and the valleys they carve through stone " * 3
    val ref0 = Seq((1L, a)).toDF("doc_id", "text")
    // crawl 1: 10 contains a copied passage of ref doc 1 (dropped), 11 novel
    val crawl1 = Seq((10L, a + " with one extra tail phrase"), (11L, b))
      .toDF("doc_id", "text")
    // crawl 2: 20 copies a passage of ACCEPTED doc 11, 21 novel
    val crawl2 = Seq((20L, b + " with one extra tail phrase"),
      (21L, "yet another unrelated english text about mountains and the snow that falls on them " * 3))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (fp0, sz0) = TextDedup.winnowIndex(ref0)
    val kept1 = TextDedup.containmentAgainstIndex(crawl1, fp0, sz0,
      minShared = 2, minContainment = 0.8).localCheckpoint(true)
    assert(ids(kept1) == Set(11L), s"gen-1 keep set: ${ids(kept1)}")
    val frozen = TextDedup.containmentAgainstIndex(crawl2, fp0, sz0,
      minShared = 2, minContainment = 0.8)
    assert(ids(frozen) == Set(20L, 21L), s"frozen-index keep set: ${ids(frozen)}")
    val (fp1, sz1) = TextDedup.winnowIndexUpsert(fp0, sz0, kept1)
    val grown = TextDedup.containmentAgainstIndex(crawl2, fp1, sz1,
      minShared = 2, minContainment = 0.8)
    assert(ids(grown) == Set(21L), s"grown-index keep set: ${ids(grown)}")
    graft.model.RelCache.releaseAll()
  }

  test("sourceOverlap: ordered source pairs; diagonal rows are internal redundancy") {
    import graft.operators.TextDedup
    val a = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val docs = Seq(
      (1L, "wiki", a),
      (2L, "web", a + "with one extra tail phrase"),  // cross-source near-dup of 1
      (3L, "web", a + "with one extra tail phrase!"), // near-dups BOTH 1 and 2
      (4L, "wiki", "a completely different english story about the sea and the ships that sail it " * 3))
      .toDF("doc_id", "source", "text")
    val out = TextDedup.sourceOverlap(docs, minJaccard = 0.3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3))))
      .toMap
    // pairs: (1,2) wiki-web, (1,3) wiki-web, (2,3) web-web
    assert(out.keySet == Set(("web", "wiki"), ("web", "web")), s"got ${out.keySet}")
    assert(out(("web", "wiki")) == ((2L, 3L)), s"got ${out(("web", "wiki"))}") // 2 pairs over docs {1,2,3}
    assert(out(("web", "web")) == ((1L, 2L)), s"got ${out(("web", "web"))}")   // 1 pair over docs {2,3}
    graft.model.RelCache.releaseAll()
  }

  test("fertilityFilter: gibberish tokenizes hard and lands above the quantile") {
    import graft.operators.{Bpe, TextRetrieval}
    import graft.functions.TextFunctions.tokens
    val normal = "the cat sat on the mat and the dog ran to the cat " * 4
    val docs = ((1L to 10L).map(i => (i, normal + s"extra word$i")) :+
      (99L, "xqzvkj wqpzkt bzxvqn qkzwvp xjqzvt kpwqzx " * 8))
      .toDF("doc_id", "text")
    val merges = Bpe.bpeMergesFast(docs.filter(col("doc_id") <= 10L), nMerges = 12)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = docs.select(explode(tokens(col("text"))).as("word")).distinct()
    val nSub = Bpe.segmentFast(vocab, merges)
      .groupBy("word").agg(count(lit(1)).as("n_sub"))
    val out = TextRetrieval.fertilityFilter(docs, nSub, quantile = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out.size == 11)
    assert(!out(99L), "the gibberish doc must be flagged")
    assert((1L to 10L).forall(out(_)), "normal docs must pass")
  }

  test("asofJoin: latest-prior per key, inclusive at equal time, null when no prior") {
    import graft.operators.Events
    val clicks = Seq(
      (1L, 7L, 100L, 1.0),  // prior views at 50, 90 -> match 90
      (2L, 7L, 60L, 2.0),   // prior view at 50 -> match 50
      (3L, 7L, 40L, 3.0),   // no prior view -> null match
      (4L, 8L, 200L, 4.0),  // view at exactly 200 -> inclusive match
      (5L, 9L, 10L, 5.0))   // user with no views at all -> null
      .toDF("event_id", "user_id", "us", "value")
    val views = Seq(
      (101L, 7L, 50L, 0.5), (102L, 7L, 90L, 0.9),
      (103L, 7L, 150L, 1.5),  // AFTER click 1 -> never matched by it
      (104L, 8L, 200L, 2.0))
      .toDF("view_id", "user_id", "us", "view_value")
      .select(col("user_id"), col("us"), col("view_id"), col("view_value"))
    val out = Events.asofJoin(clicks, views, key = "user_id", time = "us",
        rightVals = Seq("view_id", "view_value"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(out(1L) == ((Some(102L), Some(90L))), s"got ${out(1L)}")
    assert(out(2L) == ((Some(101L), Some(50L))), s"got ${out(2L)}")
    assert(out(3L) == ((None, None)), s"got ${out(3L)}")
    assert(out(4L) == ((Some(104L), Some(200L))), s"inclusive: ${out(4L)}")
    assert(out(5L) == ((None, None)), s"got ${out(5L)}")
  }

  test("rangeJoin: inclusive bounds, multi-bin intervals, exactly-once pairs") {
    import graft.operators.Events
    val points = Seq(
      (1L, 7L, 100L), (2L, 7L, 150L), (3L, 7L, 250L),
      (4L, 7L, 99L),   // just below interval A
      (5L, 7L, 251L),  // just above interval A
      (6L, 8L, 150L))  // right time, wrong key
      .toDF("pid", "user_id", "us")
    // interval A spans bins [10, 25] at binWidth 10; B is sub-bin
    val ivs = Seq((7L, 100L, 250L, 900L), (7L, 148L, 152L, 901L))
      .toDF("user_id", "lo", "hi", "win_id")
    val out = Events.rangeJoin(points, ivs, key = "user_id", t = "us",
        lo = "lo", hi = "hi", binWidth = 10L)
      .select("pid", "iv_win_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = out.toSet
    assert(out.length == pairs.size, "each qualifying pair exactly once")
    assert(pairs == Set((1L, 900L), (2L, 900L), (3L, 900L), (2L, 901L)),
      s"got $pairs")
  }

  test("textCuration repeatedSpanN hook equals manual span-mask composition") {
    val boiler = "all rights reserved contact the webmaster for license terms today"
    val docs = Seq(
      (1L, s"a story about tides and harbors that goes on nicely $boiler"),
      (2L, s"$boiler a different account of mountains and passes and snow"),
      (3L, "plain prose with no shared span in it at all just words flowing along"))
      .toDF("doc_id", "text")
    val hook = Pipelines.textCuration(docs, langs = Seq("en"), minQuality = 0.0,
        nearDupJaccard = 0.99, repeatedSpanN = Some(8))
      .select("doc_id", "ws_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val manualText = graft.operators.TextDedup.removeRepeatedSpans(
        graft.operators.TextDedup.exactDedup(docs), n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the 10-token boilerplate (> n = 8) is masked in both docs; the
    // hook's surviving token counts must equal the manual composition
    for ((id, t) <- manualText)
      assert(hook(id) == t.split(" ").count(_.nonEmpty), s"doc $id: $t vs ${hook(id)}")
    assert(manualText(1L).startsWith("a story about tides"))
    assert(!manualText(1L).contains("webmaster") && !manualText(2L).contains("webmaster"))
  }

  test("textCuration referenceFp hook drops previously-crawled docs up front") {
    val story = "a fine long english sentence about the harbor and the boats " * 3
    val other = "a different english account of the hills and the weather there " * 3
    val docs = Seq((1L, story), (2L, other)).toDF("doc_id", "text")
    // the reference corpus already contains doc 1's fingerprint
    val ref = Seq((99L, story)).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val out = Pipelines.textCuration(docs, langs = Seq("en"), minQuality = 0.0,
        nearDupJaccard = 0.99, referenceFp = Some(ref))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L), s"survivors: $out")
  }

  test("q125 dfCap assumption: fixture max shingle df is far below the chain cap") {
    // The q125/E6 oracle replays the reference near-dup stage AS IF
    // dfCap never binds (the engine passes textCuration's 100k default
    // through). That assumption was documented but ungated: a fixture
    // change planting a viral shingle would diverge as an opaque hash
    // mismatch. Gate it here — max shingle document frequency at
    // sf0.001, with a 400× margin (sf0.1 is 100× the docs; linear
    // worst-case growth plus 4× slack still clears the cap).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val maxDf = graft.operators.TextDedup.shingleRows(docs, shingleWidth = 3)
      .groupBy("s").agg(count(lit(1)).as("df"))
      .agg(max("df")).collect()(0).getLong(0)
    assert(maxDf * 400 < 100000L,
      s"fixture max shingle df $maxDf is within 400x of the 100k dfCap — " +
        "the q125 oracle's never-binds assumption no longer holds; " +
        "re-derive the oracle with the cap replayed or raise the cap")
  }

  test("Workspace.fromTsv parses registry/target/outlier fixture shapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ws")
    def write(name: String, content: String) = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, content)
      p.toString
    }
    val reg = write("registry.tsv",
      "DatasetName\tTargetFile\tType\tPlatform\nGSE1\t/t1\traw\tAffy_U133Plus2\n")
    val tgt = write("target.tsv",
      "Name\tFileName\tTarget\tReplicate\tDatasetName\n" +
      "S1\tf1.CEL\tNormal\tNA\tGSE1\nS2\tf2.CEL\tTumour\t1\tGSE1\nS3\tf3.CEL\tTumour\tNA\tGSE1\n")
    val out = write("outliers.tsv",
      "DatasetName\tDataDir\tSamples2exclude\nGSE1\t/d\tS3\n")
    val ws = Workspace.fromTsv(spark, reg, tgt, out)
    assert(ws.datasetNames == Seq("GSE1"))
    val clean = ws.cleanSamples("GSE1").select("name").as[String].collect().sorted
    assert(clean.toSeq == Seq("S1", "S2"))
    assert(ws.groups.count() == 3)
  }

  test("bucketed checkpoint joins without an exchange on the bucketed side") {
    import graft.operators.DiffExpr
    val rows = for (g <- 1 to 50; i <- 1 to 4)
      yield (s"g$g", s"s$i", g * 1.0 + i * 0.3)
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
    val bucketed = Workspace.checkpointBucketed(m, "graft_test_bucketed", buckets = 4)
    // per-gene aggregation over the bucketed table: bucket layout must
    // satisfy the hash-partitioning requirement, so no Exchange appears
    val agg = bucketed.df.groupBy("gene_id").agg(avg("value"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in plan:\n$plan")
    assert(agg.count() == 50)
  }

  test("newestMtime tracks the deepest fresh file and caps runaway recursion") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val root = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_mtime").toFile, "t")
    // CTAS-shaped tree: task file three levels down, touched NOW,
    // while every directory above keeps a stale mtime — the sweep
    // must see the deep file (the ADVICE-r14 liveness signal)
    val deep = new java.io.File(root, "_temporary/attempt/task")
    assert(deep.mkdirs())
    val part = new java.io.File(deep, "part-0")
    assert(part.createNewFile())
    val now = System.currentTimeMillis()
    part.setLastModified(now)
    Seq(root, new java.io.File(root, "_temporary"),
      new java.io.File(root, "_temporary/attempt"), deep)
      .foreach(_.setLastModified(now - 10 * 3600 * 1000L))
    val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(root.toURI))
    val got = graft.model.AtRest.newestMtime(fs, st)
    assert(math.abs(got - now) < 5000,
      s"tree-newest mtime must surface the deep task file: $got vs $now")
    // pathological depth (ADVICE r15: symlink-cycle shape): a
    // 40-level chain must return without unbounded recursion, and the
    // cap must degrade in the NEVER-SWEEP-LIVE direction (ADVICE r16:
    // returning the capped dir's own stale mtime erred toward
    // sweeping) — hitting the cap reads as "live now" (Long.MaxValue),
    // exactly like a transient listStatus failure
    var d = root
    (1 to 40).foreach { i => d = new java.io.File(d, s"d$i") }
    assert(d.mkdirs())
    val got2 = graft.model.AtRest.newestMtime(fs, st)
    assert(got2 == Long.MaxValue,
      s"capped walk must degrade to live-now, got $got2")
  }

  test("Overlap.inParallel: a failing item cancels a sibling's running job and rethrows") {
    import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sleeperJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, JobResult]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "overlap-sleeper") {
          sleeperJob.set(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Overlap.inParallel(Seq(0, 1)) {
          case 0 =>
            assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
            throw new IllegalStateException("item 0 failed")
          case _ =>
            sc.setJobDescription("overlap-sleeper")
            sc.parallelize(1 to 2, 2).map { x => Thread.sleep(60000); x }.collect().sum
        }
      }
      assert(err.getMessage == "item 0 failed")
      assert((System.nanoTime() - t0) / 1e9 < 30, "the caller waited for the sibling")
      val deadline = System.nanoTime() + 20e9.toLong
      while (!ends.containsKey(sleeperJob.get) && System.nanoTime() < deadline) Thread.sleep(50)
      ends.get(sleeperJob.get) match {
        case JobFailed(e) => assert(e.getMessage.toLowerCase.contains("cancel"), e.getMessage)
        case other => fail(s"sibling job ${sleeperJob.get} ended as $other")
      }
    } finally sc.removeSparkListener(listener)
  }
}
