package graft

import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f)),
    (4L, Seq(0.0f, 0.0f, 1.0f)))

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = vecs.toDF("vec_id", "embedding")
    val c = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(c((1L, 1L)) - 1.0) < 1e-9)
    assert(math.abs(c((1L, 3L))) < 1e-9)
    assert(c((1L, 2L)) > 0.9)
  }

  test("bruteForceTopK ranks the nearest vector first") {
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 1L), k = 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("corpus_id") == 2L)
    assert(top(0).getAs[Int]("rank") == 1)
  }

  test("multi-band LSH recovers near-duplicates that single-band misses") {
    // 40 corpus vectors in 8 dims; vec 1 has a near-duplicate (vec 2).
    // With enough bands the near-dup must surface as the top match.
    def v(seed: Int): Seq[Float] =
      (0 until 8).map(d => (((seed * 1315423911 + d * 2654435761L) % 1000) / 500.0f - 1.0f))
    val base = (3 to 40).map(i => (i.toLong, v(i)))
    val nearDup = (2L, v(1).map(x => x * 0.95f + 0.01f))
    val corpus = (Seq((1L, v(1)), nearDup) ++ base).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(corpus, corpus.filter(col("vec_id") === 1L),
        k = 1, dim = 8, bitsPerBand = 4, nBands = 6)
      .collect()
    assert(top.nonEmpty && top.head.getAs[Long]("corpus_id") == 2L,
      s"near-dup not recovered: ${top.mkString(",")}")
    val dup = TextDedup.embeddingDupPairsLsh(corpus, threshold = 0.98, dim = 8,
        bitsPerBand = 4, nBands = 6)
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(dup.contains((1L, 2L)) || dup.contains((2L, 1L)), s"dup pair missing: ${dup.toSeq}")
  }

  test("banded embeddingDupPairs matches the exact all-pairs answer on the real fixture") {
    // the q57 recall gate: on the sf0.001 embeddings at the catalog's
    // own 0.4 threshold, the default deterministic 16×2-bit band
    // family must catch EVERY qualifying pair — banded answer ≡ exact
    // answer, pair-for-pair with equal cosines
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        math.round(r.getAs[Double]("cosine") * 1e9)
    val exact = SpecReferences.embeddingDupPairsExact(emb, threshold = 0.4)
      .collect().map(key).toMap
    val banded = TextDedup.embeddingDupPairs(emb, threshold = 0.4, dim = 64)
      .collect().map(key).toMap
    assert(exact.nonEmpty, "fixture has no qualifying pairs — gate is vacuous")
    assert(banded == exact,
      s"banded≠exact: missed=${exact.keySet -- banded.keySet} extra=${banded.keySet -- exact.keySet}")
  }

  test("bandParams: sane families across regimes; auto near-dup hits planted pairs") {
    // high threshold → wide bands, few of them; low threshold → the
    // opposite; recall target raises the band count, never lowers it
    val (bHi, lHi) = Similarity.bandParams(0.95)
    val (bLo, lLo) = Similarity.bandParams(0.5)
    assert(bHi > bLo, s"hi=$bHi/$lHi lo=$bLo/$lLo")
    val (_, lTight) = Similarity.bandParams(0.8, targetRecall = 0.9999)
    val (_, lLoose) = Similarity.bandParams(0.8, targetRecall = 0.99)
    assert(lTight >= lLoose, s"tight=$lTight loose=$lLoose")
    // planted clusters at cosine ≈ 0.99: the derived family must
    // recover every intra-cluster pair found by the exact form
    def v(c: Int, j: Int): Seq[Float] =
      (0 until 16).map(d => ((((c * 131 + d * 31) % 200) / 100.0f - 1.0f) * 10
        + ((j * 17 + d * 7) % 10) * 0.01f))
    val emb = (for (c <- 0 until 20; j <- 0 until 4)
      yield ((c * 4 + j).toLong, v(c, j))).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SpecReferences.embeddingDupPairsExact(emb, threshold = 0.95)
      .select("id_a", "id_b"))
    val auto = pairs(TextDedup.embeddingDupPairsAuto(emb, threshold = 0.95,
      dim = 16, expectedN = 80L).select("id_a", "id_b"))
    assert(exact.nonEmpty, "planted clusters produced no qualifying pairs")
    assert(exact == auto,
      s"missed=${exact -- auto} extra=${auto -- exact}")
  }

  test("residual IVF-PQ beats flat-code IVF-PQ recall on a clustered corpus") {
    // 8 well-separated clusters (matching nCells) whose members differ
    // only by small jitter: flat PQ books spend their codes spanning
    // the BETWEEN-cluster offsets, residual books only the within-
    // cluster spread — recall@5 against exact cosine must not drop,
    // and on this geometry strictly improves
    val dim = 16
    def v(c: Int, j: Int): Seq[Float] =
      (0 until dim).map(d => ((((c * 131 + d * 37) % 200) / 100.0f - 1.0f) * 8
        + ((j * 13 + d * 5) % 11) * 0.05f))
    val emb = (for (c <- 0 until 8; j <- 0 until 25)
      yield ((c * 25 + j).toLong, v(c, j))).toDF("vec_id", "embedding")
        .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = dim,
      sampleCap = 1000)
    def recall(top: Array[org.apache.spark.sql.Row]): Double = {
      val got = top.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val flatBooks = Similarity.pqFit(emb, m = 4, ksub = 8, iters = 5, dim = dim)
    val flatCodes = Similarity.pqEncode(emb, flatBooks)
    val flat = recall(Similarity.ivfPqTopK(emb, queries, flatCodes, k = 5,
      nProbe = 8, books = flatBooks, centroids = cents).collect())
    val resBooks = Similarity.pqFitResidual(emb, cents, m = 4, ksub = 8,
      iters = 5, dim = dim)
    val resCodes = Similarity.pqEncodeResidual(emb, resBooks, cents)
    val res = recall(Similarity.ivfPqTopKResidual(queries, resCodes, k = 5,
      nProbe = 8, books = resBooks, centroids = cents).collect())
    assert(res >= flat, s"residual recall $res < flat $flat")
    assert(res > flat + 0.05,
      s"expected a strict residual win on planted clusters: res=$res flat=$flat")
  }

  test("refineTopK: exact re-rank lifts ADC recall; full-candidate refine ≡ brute force") {
    // same planted geometry as the residual test — the refine stage
    // must recover recall the ADC approximation loses, and refining
    // an exhaustive candidate set must reproduce brute force exactly
    val dim = 16
    def v(c: Int, j: Int): Seq[Float] =
      (0 until dim).map(d => ((((c * 131 + d * 37) % 200) / 100.0f - 1.0f) * 8
        + ((j * 13 + d * 5) % 11) * 0.05f))
    val emb = (for (c <- 0 until 8; j <- 0 until 25)
      yield ((c * 25 + j).toLong, v(c, j))).toDF("vec_id", "embedding")
        .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    val exact = bf.map { case (q, c, _) => (q, c) }
    def recall(top: Array[org.apache.spark.sql.Row]): Double = {
      val got = top.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = dim,
      sampleCap = 1000)
    val books = Similarity.pqFitResidual(emb, cents, m = 4, ksub = 8,
      iters = 5, dim = dim)
    val codes = Similarity.pqEncodeResidual(emb, books, cents)
    val adcTop = Similarity.ivfPqTopKResidual(queries, codes, k = 5,
      nProbe = 8, books = books, centroids = cents)
    val adcWide = Similarity.ivfPqTopKResidual(queries, codes, k = 15,
      nProbe = 8, books = books, centroids = cents)
    val refined = Similarity.refineTopK(adcWide, emb, k = 5)
    val (rAdc, rRef) = (recall(adcTop.collect()), recall(refined.collect()))
    assert(rRef >= rAdc, s"refine recall $rRef < ADC $rAdc")
    // exhaustive candidates — DUPLICATED (two unioned probe sources):
    // refine must dedup the pairs and equal brute force row-for-row
    val allCand0 = queries.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("corpus_id")))
      .filter(col("query_id") =!= col("corpus_id"))
    val full = Similarity.refineTopK(allCand0.unionAll(allCand0), emb, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    assert(full == bf, "full-candidate refine diverged from brute force")
    // EXTERNAL queries (not stored in the corpus): the serving case —
    // queries must not be silently dropped by the corpus join
    val extQ = queries.withColumn("vec_id", col("vec_id") + 100000L)
    val extCand = extQ.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("corpus_id")))
    val ext = Similarity.refineTopK(extCand, emb, k = 5, queries = Some(extQ))
      .collect()
      .map(r => (r.getAs[Long]("query_id") - 100000L, r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    // an external copy of query q ALSO ranks q itself (it is not
    // excluded by id inequality any more) — compare against brute
    // force over the shifted panel
    val bfExt = Similarity.bruteForceTopK(emb, extQ, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id") - 100000L, r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    assert(ext == bfExt, "external-query refine diverged from brute force")
    assert(ext.map(_._1) == exact.map(_._1),
      "external queries were dropped by the refine join")
  }

  test("ivfTopK with full probing matches brute force top-1") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 1L)
    val ivf = Similarity.ivfTopK(df, q, k = 1, nCells = 2, nProbe = 2)
      .collect()
    assert(ivf.head.getAs[Long]("corpus_id") == 2L)
  }

  // 4 tight clusters in 8 dims: ids 0-14 near e1, 15-29 near e3,
  // 30-44 near e5, 45-59 near e7 (deterministic jitter)
  private def clustered = (0L until 60L).map { i =>
    val c = (i / 15).toInt
    val v = Array.fill(8)(0.0f)
    v(c * 2) = 10.0f
    v(c * 2 + 1) = (i % 15) * 0.01f
    (i, v.toSeq)
  }

  test("pqEncode: same-cluster vectors share codes; codes bounded; long form complete") {
    val df = clustered.toDF("vec_id", "embedding")
    val books = Similarity.pqFit(df, m = 2, ksub = 4, iters = 5, dim = 8)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    val codes = Similarity.pqEncode(df, books).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size == 120, "one code per (vector, subspace)")
    assert(codes.values.forall(c => c >= 0 && c < 4))
    // cluster 0 lives entirely in subspace 0 -> all members share the
    // subspace-1 code (their subspace-1 slice is all zeros)
    val sub1Cluster0 = (0L until 15L).map(i => codes((i, 1))).distinct
    assert(sub1Cluster0.size == 1, s"cluster-0 sub-1 codes: $sub1Cluster0")
  }

  test("pqTopK: ADC ranks same-cluster neighbors above cross-cluster ones") {
    val df = clustered.toDF("vec_id", "embedding")
    val books = Similarity.pqFit(df, m = 2, ksub = 4, iters = 5, dim = 8)
    val codes = Similarity.pqEncode(df, books)
    val top = Similarity.pqTopK(codes, df.filter(col("vec_id") === 7L), books, k = 10)
      .collect()
    assert(top.length == 10)
    // every retrieved neighbor of a cluster-0 query is cluster-0: the
    // quantized distance to any cross-cluster point is >> in-cluster
    top.foreach { r =>
      val cid = r.getAs[Long]("corpus_id")
      assert(cid >= 0L && cid < 15L && cid != 7L, s"cross-cluster neighbor: $cid")
    }
    // distances non-decreasing in rank, ranks dense from 1
    val byRank = top.sortBy(_.getAs[Int]("rank"))
    assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
    val ds = byRank.map(_.getAs[Double]("dist")).toSeq
    assert(ds == ds.sorted, s"dist by rank: $ds")
  }

  test("semDedup: planted twins drop keep-lowest-id, row set fully partitioned") {
    // 4 well-separated clusters of 10 (adjacent members' cosine tops
    // out at ~0.9982, below τ) plus EXACT duplicates of ids 0..9 at
    // ids 1000..1009: a duplicate shares its twin's vector, so it
    // lands in the same cell with cosine exactly 1 and must drop at
    // any τ; every non-twin row stays under τ=0.999 and survives.
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(8)(0.0f)
      v(c * 2) = 10.0f
      v(c * 2 + 1) = j.toFloat
      (i, v.toSeq)
    }
    val twins = (0L until 10L).map(i => (1000L + i, base(i.toInt)._2))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, nCells = 4, tau = 0.999, dim = 8, iters = 5)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(out.size == base.size + twins.size, "rows vanished or duplicated")
    twins.foreach { case (id, _) =>
      assert(!out(id), s"twin $id survived its lower-id original")
    }
    assert(out.count(_._2) == base.size,
      s"expected exactly the ${base.size} originals kept, got ${out.count(_._2)}")
  }

  test("semDedup hot-cell guard: grid-salted split preserves the keep set exactly") {
    // a deliberately DEGENERATE corpus: every vector in one dominant
    // cluster (the shape that makes one cell quadratic), with planted
    // twins that must drop. cellCap=3 forces m = ceil(n/3) sub-splits
    // in every cell; the keep set must equal the unguarded run's.
    val base = (0L until 30L).map { i =>
      val v = Array.fill(8)(0.0f)
      v(0) = 10.0f; v(1) = (i % 7).toFloat * 0.01f
      (i, v.toSeq)
    }
    val twins = (0L until 5L).map(i => (500L + i, base(i.toInt)._2))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    def run(cap: Int) = Similarity.semDedup(df, nCells = 2, tau = 0.9999,
        dim = 8, iters = 5, cellCap = cap)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Boolean]("kept")))
      .sortBy(_._1).toSeq
    val guarded = run(3)
    val unguarded = run(Int.MaxValue)
    assert(guarded == unguarded,
      s"guarded/unguarded keep sets differ:\n$guarded\n$unguarded")
    // and the twins actually dropped (the test isn't vacuous)
    val kept = guarded.toMap
    twins.foreach { case (id, _) => assert(!kept(id), s"twin $id survived") }
  }

  test("knnGraphDescent: invariants hold and local joins converge to the true graph") {
    // 4 well-separated clusters of 10 plus a SHARED component so
    // cross-cluster cosines are nonzero and varied (exact-zero ties
    // would freeze the descent on id tie-breaks): the true top-5 of
    // every node is in-cluster, while the random init mixes
    // clusters — recall@5 must climb across NN-Descent iterations
    // and reach 1.0.
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(9)(0.0f)
      v(c * 2) = 10.0f
      v(c * 2 + 1) = j.toFloat
      v(8) = 5.0f + 0.1f * (i % 13)
      (i, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(df, df, k = 5, id = "vec_id")
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("corpus_id")).toSet).toMap
    def recallAt(iters: Int): (Double, Array[org.apache.spark.sql.Row]) = {
      val rows = Similarity.knnGraphDescent(df, k = 5, iters = iters, dim = 9)
        .collect()
      val got = rows.groupBy(_.getAs[Long]("vec_id"))
        .view.mapValues(_.map(_.getAs[Long]("nbr")).toSet).toMap
      val hits = truth.toSeq.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size.toDouble / t.size
      }
      (hits.sum / hits.size, rows)
    }
    val (r0, _) = recallAt(0)
    val (r4, rows4) = recallAt(4)
    // invariants: at most k rows per node, no self edges, no duplicates
    val byNode = rows4.groupBy(_.getAs[Long]("vec_id"))
    assert(byNode.forall(_._2.length <= 5))
    assert(rows4.forall(r => r.getAs[Long]("vec_id") != r.getAs[Long]("nbr")))
    byNode.foreach { case (id, rs) =>
      assert(rs.map(_.getAs[Long]("nbr")).distinct.length == rs.length,
        s"duplicate neighbor for node $id")
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length),
        s"ranks not contiguous for node $id")
    }
    assert(r4 > r0, s"recall did not improve: init=$r0 after-4=$r4")
    assert(r4 == 1.0, s"NN-Descent failed to converge on planted clusters: $r4")
  }

  test("graphSemDedup: planted near-identical cluster collapses to its min id; singletons keep") {
    // 3 near-identical vectors (ids 5,6,7) among well-separated others
    val base = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),
      (6L, Seq(0.0f, 0.0f, 1.0f, 0.02f)),
      (7L, Seq(0.0f, 0.0f, 1.0f, 0.03f)),
      (9L, Seq(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val graph = Similarity.knnGraphDescent(base, k = 3, iters = 2, dim = 4)
    val out = Similarity.graphSemDedup(graph, base, tau = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 6, "one verdict per corpus vector")
    assert(out(5L) == ((5L, true)), s"got ${out(5L)}")
    assert(out(6L) == ((5L, false)) && out(7L) == ((5L, false)),
      s"cluster members must collapse to 5: ${out(6L)}, ${out(7L)}")
    Seq(1L, 2L, 9L).foreach(i =>
      assert(out(i) == ((i, true)), s"singleton $i must keep itself"))
  }

  test("SQ8: codes bounded, reconstruction within half a step, top-k ≈ exact on clustered data") {
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(9)(0.0f)
      v(c * 2) = 10.0f; v(c * 2 + 1) = j.toFloat; v(8) = 5.0f + 0.1f * (i % 13)
      (i, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.sqFit(df, dim = 9)
    val codes = Similarity.sqEncode(df, mn, mx).localCheckpoint(true)
    assert(codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count() == 0)
    // reconstruction error ≤ half a quantization step per dimension
    val err = Similarity.sqDecode(codes, mn, mx)
      .withColumnRenamed("embedding", "demb")
      .join(df, Seq("vec_id"))
      .select(posexplode(arrays_zip(col("embedding"), col("demb"))).as(Seq("d", "z")))
      .select(col("d"), abs(col("z.embedding") - col("z.demb")).as("e"))
      .collect()
    err.foreach { r =>
      val d = r.getInt(0)
      val halfStep = (mx(d) - mn(d)) / 255.0 / 2.0 + 1e-6
      assert(r.getFloat(1) <= halfStep, s"dim $d err ${r.getFloat(1)} > $halfStep")
    }
    // search over the reconstruction: high recall vs exact
    val qs = df.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(df, qs, k = 3).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("corpus_id")).toSet).toMap
    val sq = Similarity.sqTopK(codes, qs, k = 3, mn, mx).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("corpus_id")).toSet).toMap
    val recall = exact.keys.toSeq.map(q =>
      (sq(q) & exact(q)).size.toDouble / 3.0).sum / exact.size
    assert(recall >= 0.9, s"SQ8 recall@3 = $recall")
  }

  test("knnGraphUpsert: a new twin wires in at rank 1 both ways, untouched rows pass through") {
    // 4 clusters of 10 (the knnGraphDescent fixture geometry)
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(9)(0.0f)
      v(c * 2) = 10.0f; v(c * 2 + 1) = j.toFloat; v(8) = 5.0f + 0.1f * (i % 13)
      (i, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val graph = Similarity.knnGraphDescent(df, k = 3, iters = 3, dim = 9)
      .localCheckpoint(true)
    // the new vector: a near-copy of node 17 (cluster 1)
    val twin = Seq((900L, base(17)._2.map(x => x * 1.001f)))
      .toDF("vec_id", "embedding")
    val upd = Similarity.knnGraphUpsert(graph, df, twin, k = 3, beam = 4,
        rounds = 3, entries = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // (a) the new node's rank-1 neighbor is its original
    assert(upd((900L, 1)) == 17L, s"twin's top nbr: ${upd((900L, 1))}")
    // (b) the original adopted the twin at rank 1 (cosine ~1 beats all)
    assert(upd((17L, 1)) == 900L, s"node 17's top nbr: ${upd((17L, 1))}")
    // (c) every node has exactly k rows; untouched nodes unchanged
    val byNode = upd.keys.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byNode.values.forall(_ == 3) && byNode.size == 41)
    val affected = Similarity.graphSearchTopK(graph, df, twin, k = 3,
        beam = 4, rounds = 3, entries = 2)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    val before = graph.collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    before.foreach { case ((n, rk), nbr) =>
      if (!affected.contains(n))
        assert(upd((n, rk)) == nbr, s"untouched node $n rank $rk changed")
    }
  }

  test("graphSearchTopK: beam search over the converged graph finds each query's true nearest") {
    // the knnGraphDescent planted-cluster fixture; queries are
    // perturbed copies of one member per cluster, so the true
    // top-1 is the original and the true top-k is in-cluster
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(9)(0.0f)
      v(c * 2) = 10.0f
      v(c * 2 + 1) = j.toFloat
      v(8) = 5.0f + 0.1f * (i % 13)
      (i, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    // one query per cluster (ids 3, 13, 23, 33), perturbed
    val qs = Seq(3L, 13L, 23L, 33L).map { i =>
      (9000L + i, base(i.toInt)._2.map(x => x * 0.97f + 0.005f))
    }.toDF("vec_id", "embedding")
    // a CONVERGED graph is pure in-cluster edges — entry points must
    // cover every cluster or its queries are unreachable (the
    // long-range-link problem HNSW's layers solve); entries=8 over 4
    // clusters of 10 covers all four here
    val graph = Similarity.knnGraphDescent(df, k = 5, iters = 4, dim = 9)
    val out = Similarity.graphSearchTopK(graph, df, qs, k = 3, beam = 8,
        rounds = 3, entries = 8)
      .collect()
    val top1 = out.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    Seq(3L, 13L, 23L, 33L).foreach { i =>
      assert(top1(9000L + i) == i,
        s"query for $i walked to ${top1(9000L + i)}, not its original")
    }
    // the full top-3 must match brute force on this geometry
    val truth = Similarity.bruteForceTopK(df, qs, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("corpus_id")).toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
      assert(truth(key) == r.getAs[Long]("corpus_id"),
        s"rank ${key._2} of query ${key._1}: graph=${r.getAs[Long]("corpus_id")} truth=${truth(key)}")
    }
  }

  test("semDecontaminate: planted leaks drop, benchmark-free rows keep, " +
      "exhaustive nProbe equals brute force") {
    // 4 well-separated clusters of 10 (the semDedup fixture geometry);
    // benchmark = perturbed copies of ids 0..4 (leaked items) plus one
    // vector orthogonal to everything (a benchmark item NOT in the
    // corpus — must drop nothing).
    val base = (0L until 40L).map { i =>
      val c = (i / 10).toInt; val j = (i % 10).toInt
      val v = Array.fill(8)(0.0f)
      v(c * 2) = 10.0f
      v(c * 2 + 1) = j.toFloat
      (i, v.toSeq)
    }
    val corpus = base.toDF("vec_id", "embedding")
    val lone = { val v = Array.fill(8)(0.0f); v(1) = -10.0f; v.toSeq }
    val bench = (base.take(5).map { case (i, v) =>
      (9000L + i, v.map(x => x * 0.9f + 0.001f))
    } :+ (9900L, lone)).toDF("vec_id", "embedding")
    def run(nProbe: Int) = Similarity.semDecontaminate(corpus, bench,
        nCells = 4, tau = 0.99, dim = 8, iters = 5, nProbe = nProbe)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
      .sortBy(_._1).toSeq
    val out = run(2).toMap
    assert(out.size == base.size, "corpus rows vanished or duplicated")
    (0L until 5L).foreach(i => assert(!out(i), s"leaked row $i survived"))
    // brute-force ground truth: any corpus row with rounded cosine
    // >= tau against any bench vector
    val truth = corpus.as("c").crossJoin(bench.as("b"))
      .filter(round(Similarity.cosine(col("c.embedding"), col("b.embedding"))
        + lit(1e-9), 6) >= 0.99)
      .select(col("c.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(out.filter(!_._2).keySet == truth,
      "nProbe=2 drop set differs from brute force on this geometry")
    // exhaustive probing must equal brute force by construction
    val exhaustive = run(4)
    assert(exhaustive.filter(!_._2).map(_._1).toSet == truth)
    // and the corpus-absent benchmark item dropped nothing extra
    assert(out.count(!_._2) == truth.size)
  }
}
