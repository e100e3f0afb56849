package graft

import graft.model.ExpressionMatrix
import graft.operators.{DiffExpr, Filters, Meta, Normalize, TextDedup}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3): the reference has no
  * tests, so the engine asserts the mathematical invariants its plots
  * used to eyeball. Cases are drawn from scalacheck generators on
  * fixed seeds (the offline cache has scalacheck but not the
  * scalatest bridge, so sampling is explicit). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int = 5): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("paragraphDedup is idempotent; capPerKey bounds every key group") {
    val wordG = Gen.oneOf("alpha", "beta", "gamma", "delta", "shared", "common")
    val paraG = Gen.listOfN(3, wordG).map(_.mkString(" "))
    val docG = Gen.listOfN(4, paraG).map(_.mkString("\n"))
    val docs = cases(Gen.listOfN(30, docG), n = 3).flatten.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = TextDedup.paragraphDedup(docs)
    val twice = TextDedup.paragraphDedup(once)
    val a = once.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = twice.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "second pass must be a no-op")
    // capPerKey: at most `cap` survivors per key, survivors are a subset
    val keyed = docs.withColumn("k", col("doc_id") % 5)
    val capped = TextDedup.capPerKey(keyed, "k", cap = 7)
    val perKey = capped.groupBy("k").count().collect().map(_.getLong(1))
    assert(perKey.forall(_ <= 7), s"cap violated: ${perKey.toSeq}")
    assert(capped.count() <= keyed.count())
    // the two-stage salted cap must select the IDENTICAL survivor set
    // as the single-window form (saltBuckets = 1 degenerates to one
    // bucket = the old single window) — for both hash families
    for (md5 <- Seq(false, true)) {
      def ids(salts: Int) =
        TextDedup.capPerKey(keyed, "k", cap = 7, seed = 3, md5Hashes = md5,
            saltBuckets = salts)
          .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids(32) == ids(1),
        s"two-stage cap diverged from single-window form (md5=$md5)")
    }
    // capTokensPerKey: per-key token totals within budget, and the
    // two-stage salted prefix sum selects the identical survivor set
    val toked = keyed.withColumn("toks", (col("doc_id") % 13 + 1).cast("int"))
    def tokIds(salts: Int) =
      TextDedup.capTokensPerKey(toked, "k", "toks", budget = 20L, seed = 3,
          saltBuckets = salts)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(tokIds(32) == tokIds(1),
      "two-stage token budget diverged from single-window form")
    val perKeyTok = TextDedup.capTokensPerKey(toked, "k", "toks", budget = 20L, seed = 3)
      .groupBy("k").agg(sum("toks").as("t")).collect().map(_.getLong(1))
    assert(perKeyTok.forall(_ <= 20L), s"budget violated: ${perKeyTok.toSeq}")
    // sampleByRate threshold semantics: above-'f' keeps all, "0" keeps
    // none (hex strings sort by value), unrated keys keep everything
    def rated(th: Option[String]) = {
      val rates = th.map(t => Seq((0L, t))).getOrElse(Seq.empty[(Long, String)])
        .toDF("k", "threshold")
      TextDedup.sampleByRate(keyed.filter(col("k") === 0), "k", rates).count()
    }
    val all = keyed.filter(col("k") === 0).count()
    assert(rated(Some("g")) == all, "threshold above hex range must keep all")
    assert(rated(Some("0")) == 0L, "threshold 0 must keep none")
    assert(rated(None) == all, "unrated key must keep all")
    val quarter = rated(Some("4"))
    assert(quarter > 0 && quarter < all, "rate 1/4 must thin, not empty")
  }

  /** Run a closure-correctness body under BOTH kernel regimes (round
    * 16): the bounded-graph single-reducer union-find (forced via a
    * Long.MaxValue ceiling) and the distributed star-contraction loop
    * (ceiling 0) — the regime gate must be invisible to the result. */
  def bothCcRegimes(body: => Unit): Unit = {
    val savedE = TextDedup.localUnionFindMax
    val savedN = TextDedup.localUnionFindNodeMax
    try {
      TextDedup.localUnionFindMax = Long.MaxValue
      TextDedup.localUnionFindNodeMax = Long.MaxValue
      body
      TextDedup.localUnionFindMax = 0L
      TextDedup.localUnionFindNodeMax = 0L
      body
    } finally {
      TextDedup.localUnionFindMax = savedE
      TextDedup.localUnionFindNodeMax = savedN
    }
  }

  test("duplicateComponents: transitive chains collapse to the min-id representative") {
    bothCcRegimes {
    // chain 1-2, 2-3, 3-4 (no direct 1-4 pair) + separate cluster 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = TextDedup.duplicateComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
      s"expected chain collapse to min ids, got $comps")
    // cluster dedup keeps one representative per component + unpaired docs
    val docs = (1L to 12L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val kept = TextDedup.dedupByComponents(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 5L, 6L, 7L, 8L, 9L, 10L, 12L),
      s"expected reps 1 and 10 plus unpaired docs, got $kept")
    // open triangle (1,3),(2,3): pairwise loser-drop keeps {1,2} but
    // cluster resolution keeps only the component rep {1} — the
    // documented semantic difference textCuration's nearDupClusters
    // flag switches between
    val tri = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val triDocs = (1L to 3L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairwise = triDocs.join(
        tri.select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val cluster = TextDedup.dedupByComponents(triDocs, tri)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(pairwise == Seq(1L, 2L) && cluster == Seq(1L))
    }
  }

  test("duplicateComponents: star contraction equals union-find on random graphs") {
    // the star-contraction rewrite (round 14) must produce EXACTLY the
    // min-id component labeling the propagation version produced —
    // ground truth here is an in-memory union-find over the same edges
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb) // min-id root
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // self-pairs (a, a) stay IN: they are degenerate membership claims
    // and the contract preserves the node as a singleton component
    val graphs = cases(for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 80)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield es, n = 8)
    bothCcRegimes {
      graphs.filter(_.nonEmpty).foreach { es =>
        val expected = unionFind(es)
        val got = TextDedup.duplicateComponents(es.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"closure diverged from union-find oracle " +
          s"(regime ceiling ${TextDedup.localUnionFindMax}) " +
          s"on edges $es: got $got expected $expected")
      }
    }
  }

  test("duplicateComponents: null-id pairs degrade identically in both regimes") {
    // a (null, x) pair contributes NO edge (the canonical filter
    // null-drops it) but both endpoints stay in the node universe:
    // x surfaces as its own singleton and null as the single
    // (null, null) row — the union-find path must reproduce the
    // contraction path's shape exactly
    val pairs = Seq((Some(2L), Some(1L)), (None, Some(7L)))
      .toDF("id_a", "id_b")
    def run(): Set[(Option[Long], Option[Long])] =
      TextDedup.duplicateComponents(pairs).collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }.toSet
    val expected = Set[(Option[Long], Option[Long])](
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(7L), Some(7L)),
      (None, None))
    bothCcRegimes {
      assert(run() == expected,
        s"null-pair shape diverged (ceiling ${TextDedup.localUnionFindMax})")
    }
  }

  test("duplicateComponents: string ids close identically in both regimes (round 17)") {
    // the common text-pipeline shape: string doc ids. Ground truth is
    // an in-memory union-find whose min is CODE-POINT order (== the
    // UTF8String binary order Spark's least/min use); unpadded
    // decimal strings exercise the lexicographic-vs-numeric
    // divergence ("10" < "2"), so a kernel accidentally comparing as
    // longs would fail here
    def ltCp(a: String, b: String): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(i)
        if (ca != cb) return ca < cb
        i += Character.charCount(ca)
      }
      a.length < b.length
    }
    def unionFindS(edges: Seq[(String, String)]): Map[String, String] = {
      val parent = scala.collection.mutable.Map.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ltCp(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val graphs = cases(for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (a.toString, b.toString))
    } yield es, n = 6)
    bothCcRegimes {
      graphs.filter(_.nonEmpty).foreach { es =>
        val expected = unionFindS(es)
        val got = TextDedup.duplicateComponents(es.toDF("id_a", "id_b"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == expected, s"string closure diverged from oracle " +
          s"(ceiling ${TextDedup.localUnionFindMax}) on $es: " +
          s"got $got expected $expected")
      }
      // supplementary-character ordering pin: U+FFFF < U+10000 in
      // code-point (UTF-8 binary) order, but Java's UTF-16 compareTo
      // says the opposite (the surrogate pair's 0xD800 lead unit
      // sorts below 0xFFFF) — both regimes must root the pair at the
      // U+FFFF id, so a kernel using String.compareTo diverges HERE
      val hi = "\uFFFF_doc"
      val supp = new String(Character.toChars(0x10000)) + "_doc"
      val got = TextDedup.duplicateComponents(
          Seq((hi, supp)).toDF("id_a", "id_b"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map(hi -> hi, supp -> hi),
        s"supplementary-char min must be code-point order, got $got")
    }
  }

  test("duplicateComponents: the node-universe cap routes singleton-heavy graphs off the single task (ADVICE r16)") {
    // self-pairs add NODES without adding edges (componentsUpsert
    // feeds stored singleton labels back as exactly this shape), so
    // an edge-only gate would funnel an unbounded node universe
    // through the one union-find task; the node cap must route such
    // graphs to the distributed loop — with identical labels
    val pairs = ((1L to 20L).map(i => (i, i)) :+ (21L, 22L))
      .toDF("id_a", "id_b")
    val expected = ((1L to 20L).map(i => i -> i) ++
      Seq(21L -> 21L, 22L -> 21L)).toMap
    val savedE = TextDedup.localUnionFindMax
    val savedN = TextDedup.localUnionFindNodeMax
    try {
      // edge cap alone would admit this graph (1 distinct edge)...
      TextDedup.localUnionFindMax = Long.MaxValue
      TextDedup.localUnionFindNodeMax = Long.MaxValue
      val uf = TextDedup.duplicateComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(TextDedup.lastCcRegime == "union-find" && uf == expected)
      // ...but 22 nodes over a 5-node cap must take the contraction
      // loop, bit-identically
      TextDedup.localUnionFindNodeMax = 5L
      val dist = TextDedup.duplicateComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(TextDedup.lastCcRegime == "contraction",
        s"node cap must route to the distributed loop, took ${TextDedup.lastCcRegime}")
      assert(dist == expected)
    } finally {
      TextDedup.localUnionFindMax = savedE
      TextDedup.localUnionFindNodeMax = savedN
    }
  }

  test("duplicateComponents: a large labeling leaves the union-find spread by id (ROADMAP r16 #1)") {
    // above ccLabelSpreadMin the one-partition labeling is hash-
    // repartitioned by id before the eager checkpoint, so consumer
    // joins stop funneling through a single map task; below it the
    // single partition stays (the extra stage would cost more than
    // the skew it removes on a small labeling)
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val saved = TextDedup.ccLabelSpreadMin
    try {
      TextDedup.ccLabelSpreadMin = 8L
      val spread = TextDedup.duplicateComponents(pairs)
      assert(TextDedup.lastCcRegime == "union-find")
      assert(spread.rdd.getNumPartitions > 1,
        s"41-node labeling over an 8-node threshold must be spread, " +
          s"got ${spread.rdd.getNumPartitions} partition(s)")
      assert(spread.collect().forall(_.getLong(1) == 1L))
      TextDedup.ccLabelSpreadMin = 1L << 20
      val single = TextDedup.duplicateComponents(pairs)
      assert(single.rdd.getNumPartitions == 1,
        "small labeling must stay single-partition (no gratuitous stage)")
    } finally TextDedup.ccLabelSpreadMin = saved
  }

  test("componentsUpsert: folding a batch into stored labels equals full closure over all pairs") {
    val graphs = cases(for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(2, 80)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield es.filter(e => e._1 != e._2), n = 6)
    bothCcRegimes {
      graphs.filter(_.size >= 2).foreach { es =>
        // split so chains CROSS the boundary (parity of the smaller id)
        val (h1, h2) = es.partition(e => e._1.min(e._2) % 2 == 0)
        if (h1.nonEmpty && h2.nonEmpty) {
          val full = TextDedup.duplicateComponents(es.toDF("id_a", "id_b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val base = TextDedup.duplicateComponents(h1.toDF("id_a", "id_b"))
          val upserted = TextDedup.componentsUpsert(base, h2.toDF("id_a", "id_b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(upserted == full,
            s"upsert diverged from full closure on $es split ($h1 | $h2): " +
              s"got $upserted expected $full")
        }
      }
    }
  }

  test("duplicateComponents: a 300-link chain converges (diameter-independent rounds)") {
    // the propagation version needed diameter-many rounds and THREW at
    // maxIters=50 on any chain longer than 50 — the real shape of
    // versioned/template documents where only adjacent revisions
    // collide; star contraction must collapse it within the backstop
    bothCcRegimes {
      val chain = (1L until 300L).map(i => (i + 1, i)).toDF("id_a", "id_b")
      val comps = TextDedup.duplicateComponents(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(comps.length == 300 && comps.forall(_._2 == 1L),
        "every chain member must label to the minimum id")
    }
  }

  test("packingManifest: spans tile [0, total) contiguously in corpus order") {
    val docs = cases(Gen.listOfN(60, Gen.choose(1, 40)), n = 2).flatten.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "toks")
      // plant a zero-token doc: must be absent from the manifest
      .unionByName(Seq((9999L, 0)).toDF("doc_id", "toks"))
    val m = TextDedup.packingManifest(docs, "toks", blockTokens = 64L, seed = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(!m.exists(_._1 == 9999L), "zero-token doc must occupy no span")
    val spans = m.map(t => (t._2, t._3)).sortBy(_._1)
    assert(spans.head._1 == 0L, "first span must start at 0")
    assert(spans.sliding(2).forall {
      case Array((_, e), (s, _)) => s == e; case _ => true },
      "spans must be contiguous — the stitched prefix sum has a gap/overlap")
    val total = docs.agg(sum("toks")).collect().head.getLong(0)
    assert(spans.last._2 == total, "last span must end at the corpus token total")
    assert(m.forall { case (_, s, e, bf, bl) =>
      bf == s / 64 && bl == (e - 1) / 64 && s < e },
      "block spans must derive from the offsets")
  }

  test("chunkByTokens: non-overlap tiling reconstructs the token stream; overlap bound") {
    val docs = cases(Gen.listOfN(12, Gen.listOfN(40,
        Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" "))), n = 1)
      .flatten.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // stride == chunk: chunks tile; concatenating them in chunk order
    // must reproduce the normalized token stream exactly
    val tiled = TextDedup.chunkByTokens(docs, chunkTokens = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      .groupBy(_._1).map { case (id, cs) =>
        id -> cs.sortBy(_._2).map(_._3).mkString(" ") }
    val normalized = docs.select(col("doc_id"),
        concat_ws(" ", graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tiled == normalized, "tiling must losslessly reconstruct every document")
    // overlapping windows: every chunk except trailing partials holds
    // exactly chunkTokens tokens, and each token lands in at most
    // ceil(chunk/stride) chunks
    val over = TextDedup.chunkByTokens(docs, chunkTokens = 8, stride0 = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    val tokensPerDoc = 40
    over.groupBy(_._1).foreach { case (_, cs) =>
      val full = cs.filter(_._3 == 8).size
      assert(full > 0, "expected full-width chunks")
      val totalMemberships = cs.map(_._3).sum
      assert(totalMemberships <= tokensPerDoc * 3,
        "membership fan-out exceeded ceil(chunk/stride)")
    }
  }

  test("topFracBySdNonZero equals dropZeroVariance then topFracBySd") {
    val gen = Gen.listOfN(30, Gen.choose(0.0, 50.0))
    for ((vals, fracRaw) <- cases(Gen.zip(gen, Gen.choose(0.1, 0.9)))) {
      // 10 genes x 3 samples; every third gene constant (sd == 0)
      val rows = vals.zipWithIndex.map { case (v, i) =>
        val g = i % 10
        (s"g$g", s"s${i / 10}", if (g % 3 == 0) 7.0 else v)
      }
      val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
      def rowSet(mx: ExpressionMatrix) =
        mx.df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(rowSet(Filters.topFracBySdNonZero(m, fracRaw)) ==
        rowSet(Filters.topFracBySd(Filters.dropZeroVariance(m), fracRaw)),
        s"fused SD filter diverged at frac=$fracRaw")
    }
  }

  test("quantile normalisation preserves within-sample rank order") {
    val gen = Gen.listOfN(12, Gen.choose(0.0, 100.0))
    for ((s1, s2) <- cases(Gen.zip(gen, gen))) {
      val rows = s1.zipWithIndex.map { case (v, i) => (s"g$i", "s1", v) } ++
        s2.zipWithIndex.map { case (v, i) => (s"g$i", "s2", v) }
      val qn = Normalize.quantileNormalize(
        ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))).df
        .collect().map(r => (r.getString(1), r.getString(0)) -> r.getDouble(2)).toMap
      for ((sid, vals) <- Seq("s1" -> s1, "s2" -> s2)) {
        // qn values listed in original-value rank order must be non-decreasing
        val rankOrder = vals.zipWithIndex.sortBy(t => (t._1, t._2)).map(_._2)
        val inRankOrder = rankOrder.map(i => qn((sid, s"g$i")))
        assert(inRankOrder.sliding(2).forall {
          case Seq(a, b) => a <= b + 1e-12; case _ => true })
      }
    }
  }

  test("femRem REM combine: hand-computed tau2>0 case; REM==FEM when tau2==0") {
    // two studies, equal sigmad=1: d*=(1,3) -> sw=2, q=2, tau2=1,
    // REM weights 1/2 -> mu_rem=2, z_rem=2*sqrt(1)=2; FEM z=2*sqrt(2).
    val eff = Seq(("g1", "s1", 1.0, 1.0), ("g1", "s2", 3.0, 1.0),
      ("g2", "s1", 1.0, 1.0), ("g2", "s2", 1.0, 1.0))
      .toDF("gene_id", "study", "dstar", "sigmad")
    val out = Meta.femRem(eff).collect()
      .map(r => r.getAs[String]("gene_id") -> r).toMap
    val g1 = out("g1")
    assert(math.abs(g1.getAs[Double]("tau2") - 1.0) < 1e-12)
    assert(math.abs(g1.getAs[Double]("mu_rem") - 2.0) < 1e-12)
    assert(math.abs(g1.getAs[Double]("z_rem") - 2.0) < 1e-12)
    assert(math.abs(g1.getAs[Double]("z_fem") - 2.0 * math.sqrt(2.0)) < 1e-12)
    val g2 = out("g2") // homogeneous effects: tau2=0 so REM degenerates to FEM
    assert(g2.getAs[Double]("tau2") == 0.0)
    assert(math.abs(g2.getAs[Double]("mu_rem") - g2.getAs[Double]("mu_fem")) < 1e-12)
    assert(math.abs(g2.getAs[Double]("z_rem") - g2.getAs[Double]("z_fem")) < 1e-12)
  }

  test("BH adjustment is monotone and bounded by [p, 1]") {
    for (ps <- cases(Gen.listOfN(15, Gen.choose(0.0, 1.0)))) {
      val df = ps.zipWithIndex.map { case (p, i) => (s"t$i", p) }.toDF("id", "p")
      val adj = SpecReferences.bhAdjust(df, "p", Seq(col("id")))
        .select("p", "p_bh").collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      assert(adj.forall { case (p, q) => q >= p - 1e-12 && q <= 1.0 + 1e-12 })
      val sorted = adj.sortBy(_._1).map(_._2)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a <= b + 1e-12; case _ => true })
    }
  }

  test("exact dedup is idempotent") {
    val textGen = Gen.listOfN(10, Gen.oneOf("alpha beta", "Gamma delta", "alpha  BETA!"))
    for (texts <- cases(textGen, 3)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = TextDedup.exactDedup(docs)
      val twice = TextDedup.exactDedup(once)
      assert(once.select("doc_id").as[Long].collect().sorted.toSeq ==
        twice.select("doc_id").as[Long].collect().sorted.toSeq)
    }
  }

  test("dedupAgainstReference equals the exact anti-join at any fpp") {
    val textGen = Gen.listOfN(24,
      Gen.oneOf("alpha beta", "gamma delta", "shared text", "fresh one",
        "fresh two", "Shared  TEXT!"))
    for (texts <- cases(textGen, 3)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      val expected = incoming
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
        .join(ref, Seq("fp"), "left_anti")
        .select("doc_id").as[Long].collect().sorted.toSeq
      // fpp = 0.5 floods the confirm join with false positives; the
      // result must be bit-identical to the anti-join regardless
      for (fpp <- Seq(0.01, 0.5)) {
        val got = TextDedup.dedupAgainstReference(incoming, ref, fpp = fpp)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(got == expected, s"fpp=$fpp diverged from exact anti-join")
      }
    }
  }

  test("assignSplits partitions deterministically; widening a split nests") {
    val docs = spark.range(2000).select(col("id").as("doc_id"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val counts = TextDedup.assignSplits(docs, splits, seed = 5)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L, "every doc gets exactly one label")
    assert(math.abs(counts("train") - 1600L) < 120, s"48-bit uniformity: $counts")
    // cumulative thresholds nest: growing a fraction only ADDS docs —
    // the operational property that lets a training split grow
    // without reshuffling past membership
    def trainSet(f: Double) =
      TextDedup.assignSplits(docs, Seq("train" -> f), seed = 5)
        .filter(col("split") === "train")
        .select("doc_id").as[Long].collect().toSet
    assert(trainSet(0.5).subsetOf(trainSet(0.8)), "threshold nesting violated")
  }

  test("melt/pivot round-trip is the identity on complete matrices") {
    for (vs <- cases(Gen.listOfN(6, Gen.choose(-50.0, 50.0)))) {
      val rows = for ((v, i) <- vs.zipWithIndex)
        yield (s"g${i / 2}", s"s${i % 2}", v)
      val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
      val back = ExpressionMatrix.melt(
        m.pivot(Seq("s0", "s1")), "gene_id").df
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(rows.forall { case (g, s, v) => math.abs(back((g, s)) - v) < 1e-12 })
    }
  }

  test("unigram/bigram cross-entropy: repetition lowers both; shuffling only hurts the bigram score") {
    import graft.operators.TextRetrieval
    // three planted documents over one vocabulary: a repeated-token
    // doc (low unigram xent), a fluent doc in corpus word order, and
    // the SAME bag of words shuffled (identical unigram xent as the
    // fluent doc; strictly worse bigram xent)
    val fluent = "the quick brown fox jumps over the lazy dog " * 8
    val shuffled = {
      val toks = fluent.trim.split(" ").toSeq
      // deterministic derangement-ish shuffle: odd/even interleave
      // reversed — breaks every adjacent pair but keeps the bag
      val (a, b) = toks.zipWithIndex.partition(_._2 % 2 == 0)
      (a.map(_._1).reverse ++ b.map(_._1)).mkString(" ")
    }
    val repeated = "the the the the the the the the " * 9
    val docs = Seq((1L, fluent), (2L, shuffled), (3L, repeated))
      .toDF("doc_id", "text")
    val uni = TextRetrieval.unigramCrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bi = TextRetrieval.bigramCrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // repetition of the most common token gives the lowest unigram xent
    assert(uni(3L) < uni(1L) && uni(3L) < uni(2L), s"uni: $uni")
    // same bag ⇒ same unigram score (to fp noise)
    assert(math.abs(uni(1L) - uni(2L)) < 1e-9, s"uni bag invariance: $uni")
    // word order only matters to the bigram model, and destroying it hurts
    assert(bi(2L) > bi(1L) + 0.1, s"bigram fluency: $bi")
  }

  test("bpeMerges: relational greedy-apply matches a sequential reference BPE") {
    import graft.operators.Bpe
    // reference implementation: the classic sequential left-to-right
    // greedy fold — the thing the island-parity window algebra claims
    // to equal. Corpus engineered to exercise a==b runs ("aaaa",
    // "lll") where greedy vs merge-all-matches genuinely differ.
    def refApply(l: List[String], a: String, b: String): List[String] = l match {
      case x :: y :: rest if x == a && y == b => (a + b) :: refApply(rest, a, b)
      case x :: rest => x :: refApply(rest, a, b)
      case Nil => Nil
    }
    def refBpe(words: Map[String, Long], n: Int): Seq[(String, String, Long)] = {
      var state = words.map { case (w, f) =>
        w -> ((w.map(_.toString).toList :+ "</w>", f)) }
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      for (_ <- 1 to n) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        state.values.foreach { case (syms, f) =>
          syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f) }
        if (counts.nonEmpty) {
          val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((a, b, c))
          state = state.map { case (w, (syms, f)) => w -> ((refApply(syms, a, b), f)) }
        }
      }
      out.toSeq
    }
    val corpus = Seq(
      (1L, "hello hello hello help hell shell"),
      (2L, "aaaa aaa aa lll llll hello"),
      (3L, "low lower lowest low low newer new wider"),
      (4L, "abab ababab aba bab"))
    val docs = corpus.toDF("doc_id", "text")
    val words = corpus.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    val expected = refBpe(words, 10)
    val got = Bpe.bpeMerges(docs, 10).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
    // the driver-side incremental fit (bpeMergesFast — the production
    // path at real vocabulary sizes) must be row-identical too
    val gotFast = Bpe.bpeMergesFast(docs, 10).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(gotFast == expected, s"\nfast:     $gotFast\nexpected: $expected")
    // encode side: segmenting with the trained merges reproduces the
    // reference fold applied in training order — both the relational
    // per-merge form and the one-pass distributed form
    val merges = expected.map(m => (m._1, m._2))
    def collectSeg(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getString(0))
        .map { case (w, rows) => w -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toList }
    val seg = collectSeg(SpecReferences.segment(words.keys.toSeq.toDF("word"), merges))
    val segFast = collectSeg(Bpe.segmentFast(words.keys.toSeq.toDF("word"), merges))
    words.keys.foreach { w =>
      val ref = merges.foldLeft(w.map(_.toString).toList :+ "</w>") {
        case (l, (a, b)) => refApply(l, a, b) }
      assert(seg(w) == ref, s"word $w: ${seg(w)} vs $ref")
      assert(segFast(w) == ref, s"word $w (fast): ${segFast(w)} vs $ref")
    }
  }

  test("wordPieceSegment ≡ sequential greedy reference; concat and longest-match invariants") {
    import graft.operators.Bpe
    // reference: textbook greedy longest-match with 1-char fallback
    def refSeg(w: String, v: Set[String], maxLen: Int): List[String] =
      if (w.isEmpty) Nil
      else {
        val l = (math.min(maxLen, w.length) to 2 by -1)
          .find(k => v.contains(w.take(k))).getOrElse(1)
        w.take(l) :: refSeg(w.drop(l), v, maxLen)
      }
    val alpha = Gen.listOfN(6, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val words = cases(alpha, 40).distinct.filter(_.nonEmpty)
    // vocab from a biased sample so some words segment OOV (fallback)
    val vocabPieces = cases(Gen.chooseNum(1, 4).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf('a', 'b'))).map(_.mkString), 30)
      .toSet ++ Set("a", "b") // 'c' deliberately absent -> byte fallback
    val got = Bpe.wordPieceSegment(words.toDF("word"), vocabPieces.toSeq, 4)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (w, rs) => w -> rs.sortBy(_._2).map(_._3).toList }
    words.foreach { w =>
      val ref = refSeg(w, vocabPieces, 4)
      assert(got(w) == ref, s"word '$w': got ${got(w)}, ref $ref")
      assert(got(w).mkString == w, s"pieces must concatenate to '$w'")
      // greedy invariant: each piece is the longest vocab match (or a
      // 1-char fallback) at its offset
      var off = 0
      got(w).foreach { p =>
        val longest = (math.min(4, w.length - off) to 2 by -1)
          .find(k => vocabPieces.contains(w.substring(off, off + k)))
          .getOrElse(1)
        assert(p.length == longest, s"'$w' at $off: piece '$p' not longest")
        off += p.length
      }
    }
  }

  test("nearDupAgainstReference: drops incoming docs with a verified reference near-dup only") {
    import graft.operators.TextDedup
    val ref = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // near-dup of 1
      (11L, "totally different content about spark clusters and shuffle planning"),
      (12L, "one two three four five six seven eight nine ten"), // exact dup of 2
      (13L, "alpha beta unrelated middle section theta iota ending differs a lot here")) // low-J overlap
      .toDF("doc_id", "text")
    val kept = TextDedup.nearDupAgainstReference(inc, ref, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), s"kept=$kept")
    // incremental invariant: an empty reference drops nothing
    val keptAll = TextDedup.nearDupAgainstReference(inc, ref.limit(0), minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(10L, 11L, 12L, 13L))
  }

  test("componentWinners: best-quality member wins with min-id tie-break; chain resolves as one cluster") {
    import graft.operators.TextDedup
    val docs = Seq(
      (1L, "a", 100L), (2L, "b", 300L), (3L, "c", 300L), // chain 1-2-3, tie on q=300 → winner 2
      (10L, "d", 50L), (11L, "e", 70L),                   // pair, winner 11
      (20L, "f", 10L))                                    // unpaired
      .toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val w = TextDedup.componentWinners(docs, pairs, col("q")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(w == Map(1L -> (2L, 3L, 300L), 10L -> (11L, 2L, 70L)))
    val kept = TextDedup.dedupByComponentsBest(docs, pairs, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // winners survive, losers drop, unpaired docs untouched
    assert(kept == Set(2L, 11L, 20L))
    // an all-NULL-quality cluster still resolves (winner = min id)
    // instead of silently skipping dedup (round-8 review finding)
    val nullQ = TextDedup.dedupByComponentsBest(docs,
        pairs, when(col("q") < 0, col("q")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nullQ == Set(1L, 10L, 20L), s"got $nullQ")
  }

  test("qualityClassifier: self-train fit+apply reproduces the single-scan scores form") {
    import graft.operators.TextRetrieval
    val docs = (0L until 120L).map { i =>
      val pos = i % 3 != 0
      val body = if (pos) s"clean well formed sentence number $i with common words"
                 else s"zzq$i xq${i * 7} glarb${i % 11} qqzx noise"
      (i, body, pos)
    }.toDF("doc_id", "text", "pos")
    val self = TextRetrieval.qualityClassifierScores(docs, col("pos"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (w, prior) = TextRetrieval.qualityClassifierFit(docs, col("pos"))
    val fa = TextRetrieval.qualityClassifierApply(docs, w, prior)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(fa.keySet == self.keySet)
    fa.foreach { case (id, v) => assert(v == self(id), s"doc $id: $v vs ${self(id)}") }
    // the total-space weight relation covers every bucket
    assert(w.count() == 4096L)
    // held-out apply: docs with unseen-in-train buckets still score
    val (w2, p2) = TextRetrieval.qualityClassifierFit(
      docs.filter(col("doc_id") < 60), col("pos"))
    val held = TextRetrieval.qualityClassifierApply(
      docs.filter(col("doc_id") >= 60), w2, p2)
    assert(held.count() == 60L)
    assert(held.filter(col("n_feats") === 0).count() == 0L)
  }

  test("kneserNey: conditional distribution sums to 1 over the continuation vocabulary") {
    import graft.operators.TextRetrieval
    // The defining algebraic property of interpolated KN: for every
    // left context w1, Σ_{w2 ∈ V} P(w2|w1) = 1 where V is the set of
    // observed continuation types — the discounted mass D·N1+(w1·)/c(w1·)
    // exactly re-enters through the continuation distribution.
    // Recompute the model's count relations independently here and
    // check the closure, then check the operator's per-doc score
    // against a hand-rolled computation on the same corpus.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick red fox runs past the sleeping dog"),
      (3L, "a slow green turtle walks under the old bridge"),
      (4L, "the dog and the fox nap in the warm sun"))
    val docs = corpus.toDF("doc_id", "text")
    val pairs = corpus.flatMap { case (id, t) =>
      val tk = t.split(" ").toSeq; tk.zip(tk.tail).map(p => (id, p._1, p._2)) }
    val c12 = pairs.groupBy(p => (p._2, p._3)).map { case (k, v) => k -> v.size.toLong }
    val c1 = pairs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val fol = c12.keys.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val cont = c12.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nTypes = c12.size.toLong
    val n1 = c12.values.count(_ == 1L); val n2 = c12.values.count(_ == 2L)
    val d = if (n1 + 2 * n2 > 0) n1.toDouble / (n1 + 2.0 * n2) else 0.5
    def pKn(w1: String, w2: String): Double =
      math.max(c12.getOrElse((w1, w2), 0L).toDouble - d, 0.0) / c1(w1) +
        (d * fol(w1) / c1(w1)) * (cont.getOrElse(w2, 0L).toDouble / nTypes)
    val vocabW2 = cont.keys.toSeq
    c1.keys.foreach { w1 =>
      val mass = vocabW2.map(pKn(w1, _)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"w1=$w1 mass=$mass")
    }
    // operator agreement with the hand model
    val got = TextRetrieval.kneserNeyCrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    corpus.foreach { case (id, t) =>
      val tk = t.split(" ").toSeq
      val nll = tk.zip(tk.tail).map { case (a, b) => -math.log(pKn(a, b)) }
      assert(got(id)._1 == nll.size)
      assert(math.abs(got(id)._2 - nll.sum / nll.size) < 1e-9,
        s"doc $id: ${got(id)._2} vs ${nll.sum / nll.size}")
    }
    // discounting sanity: a repeated bigram scores better (lower nll)
    // than a singleton bigram under the same left context
    assert(pKn("the", "quick") > pKn("the", "lazy"))
  }

  test("rmaBackground: correction is monotone in the observation and bounded above by it") {
    // any strictly-positive fixture: E[signal|observed] must increase
    // with the observation and sit strictly below it (background mass
    // is positive); the spec-level recovery test lives in KernelSpec,
    // this is the order-theoretic invariant on generated inputs
    val gen = Gen.choose(50, 200)
    cases(gen, 3).foreach { n =>
      val rows = (0 until 500).map { i =>
        val u = ((i * 2654435761L + n * 97) % 1000) / 1000.0
        (s"g$i", "s1", 100.0 + 900.0 * u * u)
      }
      val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
      val obs = rows.map(r => r._1 -> r._3).toMap
      val corr = Normalize.rmaBackground(m).df.collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      corr.foreach { case (g, c) =>
        assert(c < obs(g), s"n=$n $g: corrected $c !< observed ${obs(g)}")
      }
      val sorted = rows.sortBy(_._3)
      sorted.map(r => corr(r._1)).sliding(2).foreach { case Seq(a, b) =>
        assert(a <= b + 1e-9, s"n=$n: correction not monotone")
      }
    }
  }

  test("snapshotDiff: self-diff is all-unchanged; statuses partition the id universe") {
    val docs = (0L until 200L).map(i => (i, s"doc $i body ${i % 13}")).toDF("doc_id", "text")
    val self = TextDedup.snapshotDiff(docs, docs).collect()
    assert(self.length == 200 && self.forall(_.getString(1) == "unchanged"))
    val after = docs.filter(col("doc_id") % 4 =!= 0)
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("!"))).otherwise(col("text")))
      .unionByName(Seq((999L, "new doc")).toDF("doc_id", "text"))
    val d = TextDedup.snapshotDiff(docs, after).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every id from either snapshot appears exactly once, with the
    // status its membership dictates
    assert(d.size == 201)
    (0L until 200L).foreach { i =>
      val want = if (i % 4 == 0) "removed"
        else if (i % 3 == 0) "changed" else "unchanged"
      assert(d(i) == want, s"id $i: ${d(i)} != $want")
    }
    assert(d(999L) == "added")
  }

  test("winnowFingerprints ≡ the sequential SWA'03 reference; guarantee + density bounds hold") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // the paper's sequential scan: per sliding window of w gram
    // hashes keep (min hash, rightmost tie position)
    def winnowRef(toks: Seq[String], k: Int, w: Int): Set[(Int, String)] = {
      val grams =
        if (toks.isEmpty) Seq.empty[String]
        else if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val hs = grams.map(md5hex)
      if (hs.isEmpty) Set.empty
      else (0 until math.max(hs.length - w + 1, 1)).map { j =>
        val slice = hs.slice(j, math.min(j + w, hs.length))
        val mn = slice.min
        (j + slice.lastIndexOf(mn), mn)
      }.toSet
    }
    val (k, w) = (3, 4)
    // tiny vocab so repeated grams force in-window ties (the
    // rightmost-position rule must actually fire), plus length
    // extremes: empty, < k tokens, < w grams, long
    val wordG = Gen.oneOf("a", "b", "c")
    val docG = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, wordG))
    val docs = cases(Gen.listOfN(40, docG), n = 5).flatten.zipWithIndex
      .map { case (tk, i) => (i.toLong, tk.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val got = TextDedup.winnowFingerprints(df, k = k, window = w, md5Hashes = true)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      .groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      val want = winnowRef(toks, k, w)
      assert(got.getOrElse(id, Set.empty) == want, s"doc $id: winnow mismatch")
      // density bounds: every window selects one gram, one selection
      // covers at most w windows → nWin/w ≤ |fp| ≤ nWin
      if (toks.nonEmpty) {
        val ng = if (toks.length < k) 1 else toks.length - k + 1
        val nWin = math.max(ng - w + 1, 1)
        assert(want.size <= nWin && want.size * w >= nWin,
          s"doc $id: density out of bounds (${want.size} of $nWin windows)")
      }
    }
    // the SWA guarantee: a shared token run of ≥ w+k-1 tokens yields
    // ≥ 1 shared selected hash — disjoint vocab everywhere else
    val shared = Seq.tabulate(w + k - 1)(i => s"s$i")
    val pairDocs = (0 until 6).flatMap { p =>
      val fillA = Seq.tabulate(10 + p)(i => s"a${p}x$i")
      val fillB = Seq.tabulate(14 - p)(i => s"b${p}x$i")
      val cut = p % (fillA.length - 1) + 1
      Seq((2L * p, (fillA.take(cut) ++ shared ++ fillA.drop(cut)).mkString(" ")),
          (2L * p + 1, (fillB.take(p + 1) ++ shared ++ fillB.drop(p + 1)).mkString(" ")))
    }
    val ov = TextDedup.winnowOverlap(pairDocs.toDF("doc_id", "text"),
        k = k, window = w, minShared = 1, md5Hashes = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 6).foreach { p =>
      assert(ov.contains((2L * p, 2L * p + 1)),
        s"pair $p: shared ${w + k - 1}-token run produced no shared fingerprint")
    }
  }

  test("winnowOverlap dfCap binding: viral-hash pairs drop, distinctive pairs keep identical rows") {
    // the winnow100x probe fixture in miniature (VERDICT r9 #6): a
    // viral boilerplate shared by 20 docs (its selected hashes have
    // df = 20) and one genuinely copied 16-token passage shared by
    // exactly two docs (df = 2). dfCap = 10 must (a) erase every pair
    // whose evidence is ONLY the boilerplate, (b) keep the copied-
    // passage pair, and (c) report that pair's row IDENTICALLY to the
    // uncapped run — per-doc sizes come from the UNCAPPED relation,
    // so the cap changes candidate generation, never denominators.
    // 19 boilerplate tokens → 16 grams → 13 full windows → ≥ 4 distinct
    // selected hashes shared by all 20 docs (minShared = 2 must fire
    // on boilerplate evidence alone in the uncapped run)
    val boiler = "terms and conditions apply all rights reserved contact " +
      "support for more details visit our website help center page info"
    val passage = Seq.tabulate(16)(i => s"p$i").mkString(" ")
    val viralDocs = (1 to 20).map(i => (i.toLong, s"$boiler filler$i only"))
    val copyDocs = Seq(
      (100L, s"intro alpha beta $passage outro gamma"),
      (101L, s"other start words here $passage different tail"))
    val docs = (viralDocs ++ copyDocs).toDF("doc_id", "text")
    def rows(cap: Long) = TextDedup.winnowOverlap(docs, k = 4, window = 4,
        minShared = 2, dfCap = cap, md5Hashes = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val uncapped = rows(Long.MaxValue)
    val capped = rows(10L)
    assert(uncapped.keySet.contains((100L, 101L)),
      "uncapped run must find the copied-passage pair")
    assert(uncapped.keys.exists { case (a, b) => a <= 20 && b <= 20 },
      "uncapped run must find boilerplate-evidence pairs (df = 20)")
    assert(capped.keySet == Set((100L, 101L)),
      s"dfCap=10 must keep ONLY the distinctive pair, got ${capped.keySet}")
    assert(capped((100L, 101L)) == uncapped((100L, 101L)),
      "the surviving pair's (shared, nfp_a, nfp_b, overlap) must not change under the cap")
  }

  test("index compaction is IDEMPOTENT: compact(compact(X, c), c) == compact(X, c), both families") {
    // the production invariant behind repeated maintenance cycles: a
    // second compaction at the same cap (no intervening deletes) must
    // be a no-op — the df counts of an already-capped relation are
    // <= the originals, so no further row can cross the cap, and the
    // re-derived signatures/sizes are pure functions of the rows
    val boiler = "terms and conditions apply all rights reserved contact " +
      "support for more details visit our website help center page info"
    val docs = ((1 to 12).map(i => (i.toLong, s"$boiler filler$i only")) ++
      Seq((100L, "a wholly unrelated essay about rivers and stones and time")))
      .toDF("doc_id", "text")
    // winnow family
    val (fp0, _) = TextDedup.winnowIndex(docs, md5Hashes = true)
    val (fp1, sz1) = TextDedup.winnowIndexCompact(fp0, dfCap = 5)
    val (fp2, sz2) = TextDedup.winnowIndexCompact(fp1, dfCap = 5)
    assert(fp1.collect().toSet == fp2.collect().toSet,
      "second winnow compaction must not change the fingerprint relation")
    // NOTE the documented asymmetry: sizes are TRUE mass of the verb's
    // INPUT relation — recompacting a capped relation rebuilds sizes
    // from capped rows, so production keeps the generation's size
    // table rather than re-deriving it from the capped fp (the verb's
    // contract: compact the POST-DELETE UNCAPPED relation)
    assert(sz2.collect().toSet ==
      fp1.groupBy("doc_id").count().withColumnRenamed("count", "nfp")
        .collect().toSet,
      "recompacted sizes are the capped relation's own mass, by contract")
    assert(sz1.collect().toSet ==
      fp0.groupBy("doc_id").count().withColumnRenamed("count", "nfp")
        .collect().toSet,
      "first compaction's sizes are the uncapped input's true mass")
    // near-dup family: bands AND shingles both fixed points
    val (_, sh0) = TextDedup.nearDupIndex(docs, md5Hashes = true)
    val (bd1, sh1) = TextDedup.nearDupIndexCompact(sh0, md5Hashes = true, dfCap = 5)
    val (bd2, sh2) = TextDedup.nearDupIndexCompact(sh1, md5Hashes = true, dfCap = 5)
    assert(sh1.collect().toSet == sh2.collect().toSet,
      "second near-dup compaction must not change the shingle relation")
    assert(bd1.collect().toSet == bd2.collect().toSet,
      "re-derived band signatures must be a fixed point under recompaction")
    graft.model.RelCache.releaseAll()
  }

  test("chunkByTokenCounts: piece totals conserve; unit fertility degenerates to chunkByTokens") {
    val wordG = Gen.oneOf("alpha", "beta", "gamma", "delta", "ep")
    val docG = Gen.chooseNum(1, 50).flatMap(n => Gen.listOfN(n, wordG))
    val docs = cases(Gen.listOfN(25, docG), n = 3).flatten.zipWithIndex
      .map { case (tk, i) => (i.toLong, tk.mkString(" ")) }.toDF("doc_id", "text")
    val c = 7
    // real fertility: word length as the piece count (deterministic,
    // varied) — per-doc chunk piece totals must equal the doc's total
    // pieces, and every non-tail chunk must hold exactly c pieces
    val nSub = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .distinct().withColumn("n_sub", length(col("word")).cast("long"))
    val chunks = TextDedup.chunkByTokenCounts(docs, nSub, chunkTokens = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totals = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .join(nSub, Seq("word")).groupBy("doc_id").agg(sum("n_sub").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunks.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._3).sum == totals(id), s"doc $id: piece totals diverge")
      val lastChunk = rows.map(_._2).max
      rows.filter(_._2 < lastChunk).foreach { case (_, ch, np) =>
        assert(np == c, s"doc $id chunk $ch: non-tail chunk has $np != $c pieces")
      }
    }
    // unit fertility (every word = 1 piece): chunk word counts must
    // equal chunkByTokens' n_tokens at the same width, stride = width
    val ones = nSub.withColumn("n_sub", lit(1L))
    val got = TextDedup.chunkByTokenCounts(docs, ones, chunkTokens = c)
      .select(col("doc_id"), col("chunk"), col("n_words"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = TextDedup.chunkByTokens(docs, chunkTokens = c)
      .select(col("doc_id"), col("chunk").cast("long"), col("n_tokens").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "unit-fertility chunking diverged from chunkByTokens")
  }

  test("weighted Stouffer combined p is monotone in each platform p") {
    import graft.operators.Meta
    def comb(p1: Double): Double = {
      val df = Seq(("g", 0.5, p1, 2.0), ("g", 0.5, 0.2, 1.5))
        .toDF("gene_id", "icc", "p", "log2fc")
      Meta.weightedStouffer(df).select("p_comb").as[Double].head()
    }
    val ps = Seq(0.001, 0.01, 0.05, 0.2, 0.5)
    val combined = ps.map(comb)
    assert(combined.sliding(2).forall { case Seq(a, b) => a <= b + 1e-12; case _ => true },
      s"combined p not monotone: ${ps.zip(combined)}")
  }
}
