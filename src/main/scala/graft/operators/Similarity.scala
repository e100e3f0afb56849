package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour / similarity search over an embedding
  * column (`array<float>`).
  *
  * Three tiers, per the brief:
  *  - brute-force cosine top-k (baseline; exact, O(Q·N));
  *  - random-hyperplane LSH buckets (scale path: candidates only
  *    within matching sign-sketches);
  *  - IVF-style coarse quantization via MLlib KMeans (scale path:
  *    probe the nearest `nProbe` centroids only).
  *
  * The dot-product kernel is `zip_with` + `aggregate` column algebra —
  * codegen'd, no UDF — computed in double after an explicit cast so
  * results are reproducible across engines.
  */
object Similarity {

  import graft.functions.VecDot.{vec_dot, vec_norm}
  import graft.functions.TopKPairs.top_k_pairs

  /** Bounded top-k per query via the partial-aggregable
    * [[graft.functions.TopKPairs]] — no full sort, shuffle carries
    * ≤ k rows per query. */
  private def topKOf(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(top_k_pairs(col("cosine"), col("corpus_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "kv")))
      .select(col("query_id"), col("kv.id").as("corpus_id"),
        (col("r0") + 1).cast("int").as("rank"), col("kv.score").as("cosine"))

  /** Cosine similarity between two array<float|double> columns
    * (native codegen'd dot-product kernel, see [[graft.functions.VecDot]]). */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** All-pairs cosine (id_a < id_b). Quadratic — use only on bounded
    * relations (the dedup verify stage or small candidate sets). */
  def cosinePairs(embeddings: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val a = embeddings.select(col(id).as("id_a"), col(vec).as("v_a"))
    val b = embeddings.select(col(id).as("id_b"), col(vec).as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
  }

  /** FAISS-style REFINE stage (IndexRefine): exact re-rank of ANN
    * candidates. `candidates` is any (query_id, corpus_id, …)
    * relation from an approximate probe — typically the ADC top-k′
    * with k′ = r·k for a small multiplier r — and the exact cosine
    * is recomputed from the ORIGINAL vectors for candidate pairs
    * only, keeping the top `k`.
    *
    * Scale shape: the |Q|·k′ candidate rows join the corpus keyed on
    * id, so the exact-score work is bounded by the CANDIDATE set,
    * never the corpus — quantization error buys recall back at a
    * cost proportional to k′, not N. The query panel is bounded (the
    * ANN query contract), so the candidate side of both joins stays
    * broadcastable; ranking is the bounded [[topKOf]] aggregate.
    *
    * `queries` supplies the query vectors when they are not stored in
    * the corpus (the normal serving case — an inner join on the
    * corpus would silently drop external queries); it defaults to the
    * corpus for self-probes. Duplicate candidate pairs (multi-probe /
    * multi-index unions emit the same pair twice) are deduped so one
    * pair can never occupy two of the k ranks. */
  def refineTopK(candidates: DataFrame, corpus: DataFrame, k: Int,
      queries: Option[DataFrame] = None,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = queries.getOrElse(corpus)
      .select(col(id).as("query_id"), col(vec).as("q_vec"))
    val c = corpus.select(col(id).as("corpus_id"), col(vec).as("c_vec"))
    val scored = candidates.select(col("query_id"), col("corpus_id")).distinct()
      .join(q, Seq("query_id")).join(c, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    topKOf(scored, k)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by cosine (ties broken on corpus id). The corpus
    * side stays distributed; queries are broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // Precompute norms once per vector — the O(Q·N) pair loop then
    // runs only the dot-product kernel per pair, not three of them.
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"),
      vec_norm(col(vec)).as("q_norm"))
    val c = corpus.select(col(id).as("corpus_id"), col(vec).as("c_vec"),
      vec_norm(col(vec)).as("c_norm"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("cosine"))
    topKOf(scored, k)
  }

  /** Pick (bitsPerBand, nBands) for a cosine threshold and target
    * recall — the standard banding calculus made a library decision
    * instead of a hand-tuned constant. A pair at angle θ agrees on
    * one hyperplane bit with probability p = 1 − θ/π, on a whole
    * b-bit band with p^b, and survives L independent bands with
    * 1 − (1−p^b)^L; solving for the WORST pair (cosine exactly at
    * the threshold) gives L(b) = ⌈ln(1−recall)/ln(1−p^b)⌉. Among
    * b = 1..maxBits the chosen b minimizes the per-vector cost proxy
    * L·(b + N·2⁻ᵇ): b·L sketch dots vs ~N·2⁻ᵇ uniform-background
    * bucket collisions per band (clustered true-pair mass is
    * threshold-dependent and the caller's to pay either way). Higher
    * thresholds ⇒ higher p ⇒ affordable wider bands ⇒ candidates
    * collapse toward the true-pair mass; thresholds near the
    * background distribution correctly come back with narrow bands
    * and many of them — coverage, not pruning, is all that regime
    * admits. */
  def bandParams(threshold: Double, targetRecall: Double = 0.999,
      expectedN: Long = 1000000L, maxBits: Int = 20,
      maxSketchBits: Int = 256): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0, s"threshold $threshold out of (-1, 1)")
    require(targetRecall > 0 && targetRecall < 1, s"recall $targetRecall out of (0, 1)")
    // p < 1 strictly for every admissible threshold (acos > 0)
    val p = 1.0 - math.acos(threshold) / math.Pi
    val lnMiss = math.log(1.0 - targetRecall)
    val costed = (1 to maxBits).flatMap { b =>
      val pb = math.pow(p, b)
      val l = math.ceil(lnMiss / math.log(1.0 - pb)).toInt.max(1)
      // b·L is the PLAN size too — every (band, bit) is a baked
      // literal-hyperplane VecDot in one projection, so an unbounded
      // family would blow codegen straight past JIT method limits;
      // families over the sketch-bit budget don't compete
      if (l.toLong * b > maxSketchBits) None
      else Some((b, l, l.toDouble * (b.toDouble + expectedN.toDouble * math.pow(2.0, -b))))
    }
    require(costed.nonEmpty,
      s"no band family within $maxSketchBits sketch bits reaches recall " +
        s"$targetRecall at threshold $threshold — this regime does not admit " +
        s"sub-quadratic banding; use the exact cosinePairs on a bounded relation")
    val (b, l, _) = costed.minBy(_._3)
    (b, l)
  }

  /** Random-hyperplane (sign) sketch: `nBits` deterministic
    * Rademacher hyperplanes; bit i = sign(v · h_i). The hyperplanes
    * are generated driver-side with a fixed splitmix64 stream and
    * baked into the plan as array literals, so each bit is one
    * codegen'd [[graft.functions.VecDot]] loop — no per-dimension
    * expression nodes. */
  def hyperplaneSketch(vec: Column, dim: Int, nBits: Int, seedOffset: Int = 0): Column = {
    def splitmix64(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val bits = (0 until nBits).map { i =>
      val h = Array.tabulate(dim)(d =>
        if ((splitmix64((i.toLong + seedOffset) * 1000003L + d) & 1L) == 1L) 1.0 else -1.0)
      val dot = graft.functions.VecDot.vec_dot(vec, lit(h))
      when(dot >= 0, lit(1L << (i % 63))).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k: a candidate must share at least
    * one of `nBands` hyperplane-sketch bands of `bitsPerBand` bits
    * with the query (each band uses its own hyperplane family via a
    * seed offset). Recall rises with more bands, precision/cost with
    * more bits per band — the standard banding trade-off; `nBands=1`
    * degrades to the single-band sketch. Exact cosine is computed
    * only within buckets, each vector explodes into nBands rows, and
    * duplicate candidates collapse before scoring so a pair sharing
    * several bands is scored once. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bitsPerBand: Int = 8, nBands: Int = 1,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val sk = (df: DataFrame, idAs: String, vecAs: String) =>
      df.select(col(id).as(idAs), col(vec).as(vecAs),
        explode(array((0 until nBands).map(b =>
          concat_ws("#", lit(b.toString),
            hyperplaneSketch(col(vec), dim, bitsPerBand, seedOffset = b * 7919)
              .cast("string"))): _*)).as("bucket"))
    val q = sk(queries, "query_id", "q_vec")
    val c = sk(corpus, "corpus_id", "c_vec")
    val cand = q.select("bucket", "query_id").join(c.select("bucket", "corpus_id"), Seq("bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id").distinct()
    val qv = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val cv = corpus.select(col(id).as("corpus_id"), col(vec).as("c_vec"))
    val scored = cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    topKOf(scored, k)
  }

  /** KMeans quantizer cache, keyed by (canonicalized corpus plan,
    * nCells): the IVF contract is fit-once / probe-many — a repeated
    * probe call must not refit the coarse quantizer. */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), org.apache.spark.ml.clustering.KMeansModel]()

  /** Drop the quantizer memo — the bench clears all query-scoped
    * caches before each timed sample so "best of N" is best-of-cold. */
  private[graft] def clearCaches(): Unit = quantizerCache.clear()

  /** Fit (or fetch cached) the IVF coarse quantizer for a corpus. The
    * featurized corpus is persisted for the duration of the fit so the
    * KMeans iterations read it once, not once per step; the bridge to
    * MLlib vectors is the native `ml.functions.array_to_vector`, not a
    * hand-rolled closure. */
  def ivfQuantizer(corpus: DataFrame, nCells: Int,
      vec: String = "embedding"): org.apache.spark.ml.clustering.KMeansModel = {
    val key = (corpus.queryExecution.analyzed.canonicalized.hashCode(), nCells)
    quantizerCache.computeIfAbsent(key, _ => {
      val corpusV = corpus
        .select(org.apache.spark.ml.functions.array_to_vector(
          col(vec).cast("array<double>")).as("__fv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(nCells).setSeed(42L).setFeaturesCol("__fv").setPredictionCol("cell")
        .fit(corpusV)
      corpusV.unpersist(blocking = false)
      model
    })
  }

  /** Deterministic Lloyd k-means for the IVF coarse quantizer — no
    * MLlib model state, so an oracle can replay the fit exactly: the
    * fit runs driver-side over a BOUNDED hash-uniform sample
    * (`sampleCap` rows, see [[lloydSample]] — the 100 TB contract:
    * quantizers fit on samples, the corpus never leaves the cluster),
    * init = the sample's first `nCells` vectors, `iters` fixed
    * assignment/update rounds (argmin squared distance, ties to the
    * lower cell; empty cells carry their previous centroid). Returns
    * (cell, centroid array<float>) for [[ivfTopK]]'s `centroids`
    * parameter. `md5Sample` selects the oracle-portable md5 sampling
    * hash (see [[lloydSample]]). */
  def lloydCentroids(corpus: DataFrame, nCells: Int, iters: Int, dim: Int,
      id: String = "vec_id", vec: String = "embedding",
      sampleCap: Int = 1000, md5Sample: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = lloydSample(corpus, id, vec, sampleCap, md5Sample)
    lloydLoop(sample, nCells, iters, dim)
      .zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Nearest-centroid assignment as pure codegen'd column algebra:
    * argmin over cells of |c|^2 - 2 v·c (== argmin Euclidean for a
    * fixed v) via least() over (dist, cell) structs with literal
    * centroid arrays — one vec_dot loop per cell, no join, no
    * shuffle, no MLlib row UDF on the corpus-sized side. Shared by
    * [[ivfTopK]] and [[semDedup]]. Returns (corpus_id, c_vec, cell). */
  private def assignCells(corpus: DataFrame, cents: Seq[(Int, Array[Float])],
      id: String, vec: String): DataFrame =
    corpus.select(col(id).as("corpus_id"), col(vec).as("c_vec"),
      cellColumn(cents, col(vec)).as("cell"))

  /** The assignment argmin as a bare COLUMN over `vec` — the form a
    * stateless stream projection composes
    * ([[graft.streaming.StreamOps]]). Centroids are literals, so the
    * column is pure codegen: no join, no shuffle, no state. */
  private[graft] def cellColumn(cents: Seq[(Int, Array[Float])], vec: Column): Column = {
    val distStructs = cents.map { case (cellId, arr) =>
      val c2 = arr.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)
      struct((lit(c2) - lit(2.0) * vec_dot(vec, lit(arr))).as("d"),
        lit(cellId).as("cell"))
    }
    least(distStructs: _*).getField("cell")
  }

  /** Static side for [[graft.streaming.StreamOps
    * .streamingSemDecontaminate]]: the benchmark panel fanned out to
    * each vector's `nProbe` nearest cells (the [[semDecontaminate]]
    * probe, verbatim) and GROUPED per cell — at most nCells rows,
    * each carrying the cell's candidate bench vectors as an array.
    * The stream side then joins 1:1 on cell and folds the verdict
    * with a pure exists(), keeping the whole streaming op stateless. */
  def semDecontPanel(centroids: DataFrame, benchmark: DataFrame,
      nProbe: Int = 2, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids)
    val centDf = cents.map { case (i, a) => (i, a.toSeq) }.toDF("cell", "centroid")
    probeCells(benchmark.select(col(id).as("query_id"), col(vec).as("q_vec")),
        centDf, nProbe)
      .groupBy("cell").agg(collect_list(col("q_vec")).as("q_vecs"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication") — semantic
    * near-duplicate removal over an embedding corpus: k-means the
    * corpus into `nCells` cells (the deterministic bounded-sample
    * Lloyd fit, [[lloydCentroids]]), then WITHIN each cell drop every
    * vector that has a higher-similarity twin: a vector is a
    * duplicate iff some LOWER-id member of its cell has cosine ≥ τ
    * with it. The paper's keep rule (keep the member farthest from
    * the centroid, or random) is replaced by keep-lowest-id — the
    * engine's exact-dedup keep-first convention, deterministic and
    * oracle-replayable; the drop SET is the paper's (any τ-similar
    * in-cell pair sheds one member).
    *
    * Scale shape: the pair relation is per-cell, so the quadratic
    * term is (N/nCells)² per cell, never N² — the paper's own
    * contract is nCells ∝ N (they use 50k clusters at web scale),
    * making expected cell size, and so per-task pair mass, constant.
    * The cell self-join shuffles on the cell key once; assignment is
    * the zero-shuffle literal-baked argmin.
    *
    * HOT-CELL GUARD (`cellCap`): a degenerate corpus (one dominant
    * cluster) makes one cell's pair mass quadratic, and without a
    * guard that entire mass lands in ONE task. Cells larger than
    * `cellCap` are grid-salted: each side takes a deterministic
    * id-hash salt in [0, m) with m = ⌈n_cell/cellCap⌉ and is
    * replicated across the other side's m salt values, so the join
    * key becomes (cell, salt_a, salt_b) and every pair is still
    * compared EXACTLY once — identical keep set (spec-gated), but the
    * hot cell's pairs spread over m² bounded tasks (≤ cellCap² pairs
    * each) instead of one. Normal cells get m = 1 and degenerate to
    * the plain cell join. The total pair COUNT is unchanged — the
    * guard bounds per-task memory/stragglers, not total work; at low
    * τ on unclustered data prefer the banded
    * [[TextDedup.embeddingDupPairsLsh]] path. SemDeDup's regime is
    * high τ (the paper sweeps ~0.95) on clusterable corpora.
    *
    * Returns (vec_id, cell, kept) for every input row; cosine
    * compares on the catalog's rounded grid (6 dp, +1e-9) so the
    * τ boundary is engine-portable. */
  def semDedup(emb: DataFrame, nCells: Int, tau: Double, dim: Int,
      iters: Int = 10, id: String = "vec_id", vec: String = "embedding",
      sampleCap: Int = 1000, md5Sample: Boolean = false,
      cellCap: Int = 10000): DataFrame = {
    val centsDf = lloydCentroids(emb, nCells, iters, dim, id, vec, sampleCap, md5Sample)
    val cents = collectCentroids(centsDf)
    val assigned = assignCells(emb, cents, id, vec)
    // per-cell split factor m = ceil(n/cellCap) — bounded by nCells
    // rows, broadcast onto both sides
    val cellM = assigned.groupBy("cell")
      .agg(ceil(count(lit(1)) / lit(cellCap.toDouble)).cast("long").as("__m"))
      .select(col("cell"), greatest(col("__m"), lit(1L)).as("__m"))
    val withM = assigned.join(broadcast(cellM), Seq("cell"))
    val salt = pmod(xxhash64(col("corpus_id")), col("__m"))
    val a = withM.select(col("cell"), col("corpus_id").as("a_id"),
      col("c_vec").as("a_vec"), salt.as("__sa"),
      explode(sequence(lit(0L), col("__m") - 1L)).as("__sb"))
    val b = withM.select(col("cell"), col("corpus_id").as("b_id"),
      col("c_vec").as("b_vec"),
      explode(sequence(lit(0L), col("__m") - 1L)).as("__sa"),
      salt.as("__sb"))
    val dropped = a.join(b, Seq("cell", "__sa", "__sb"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(cosine(col("a_vec"), col("b_vec")) + lit(1e-9), 6) >= tau)
      .select(col("b_id").as("corpus_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("corpus_id"), "left")
      .select(col("corpus_id").as(id), col("cell"),
        coalesce(col("__dup"), lit(false)).unary_!.as("kept"))
  }

  /** Semantic DECONTAMINATION — the asymmetric [[semDedup]]: drop
    * every corpus vector whose cosine with ANY benchmark-panel vector
    * reaches τ (benchmark questions that leaked into a training
    * corpus survive exact n-gram decontamination when paraphrased;
    * the embedding-space sweep catches those — the embedding-level
    * counterpart of the gram-Bloom `decontaminate`). The benchmark is
    * NOT deduplicated and NOT dropped — it is the frozen query panel;
    * only corpus membership changes.
    *
    * Scale shape (the IVF probe, roles flipped): the coarse quantizer
    * fits on a bounded corpus sample ([[lloydCentroids]]); the CORPUS
    * side never shuffles — cell assignment is the zero-shuffle
    * literal-baked argmin and the verdict join broadcasts the
    * benchmark, which is bounded by contract (a benchmark panel, not
    * a second corpus — for corpus×corpus semantic overlap use
    * [[semDedup]] on the union). Each benchmark vector fans out to
    * its `nProbe` nearest cells (cosine desc, cell-asc ties — the
    * [[ivfTopK]] probe), so a corpus row compares against
    * |B|·nProbe/nCells panel vectors in expectation, not |B|. Like
    * any IVF probe this is approximate: a τ-similar pair straddling
    * more than `nProbe` cells is missed; nProbe = nCells is the
    * exhaustive (still corpus-shuffle-free) form.
    *
    * Returns (id, cell, kept) for every CORPUS row; cosine compares
    * on the catalog's rounded grid (6 dp, +1e-9) so the τ boundary is
    * engine-portable. */
  def semDecontaminate(corpus: DataFrame, benchmark: DataFrame, nCells: Int,
      tau: Double, dim: Int, iters: Int = 10, nProbe: Int = 2,
      id: String = "vec_id", vec: String = "embedding",
      sampleCap: Int = 1000, md5Sample: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centsDf = lloydCentroids(corpus, nCells, iters, dim, id, vec, sampleCap, md5Sample)
    val cents = collectCentroids(centsDf)
    val centDf = cents.map { case (i, a) => (i, a.toSeq) }.toDF("cell", "centroid")
    val assigned = assignCells(corpus, cents, id, vec)
    val bench = benchmark.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val probed = probeCells(bench, centDf, nProbe).select("q_vec", "cell")
    val hit = assigned.join(broadcast(probed), Seq("cell"))
      .filter(round(cosine(col("c_vec"), col("q_vec")) + lit(1e-9), 6) >= tau)
      .select(col("corpus_id")).distinct()
      .withColumn("__hit", lit(true))
    assigned.join(hit, Seq("corpus_id"), "left")
      .select(col("corpus_id").as(id), col("cell"),
        coalesce(col("__hit"), lit(false)).unary_!.as("kept"))
  }

  /** k-NN GRAPH construction by NN-Descent (Dong, Moses & Li, WWW'11
    * "Efficient k-nearest neighbor graph construction for generic
    * similarity measures") — the graph-ANN family's build step
    * (HNSW/NSG descend from this construction): start from a random
    * k-neighborhood per node and iterate the paper's local-join —
    * a neighbor of my neighbor is probably my neighbor — scoring
    * candidate pairs inside each node's adjacency and keeping the
    * top k, until the graph converges.
    *
    * Determinism (everything replays in the oracle): "random" init =
    * k INDEPENDENT seeded md5 pairings, each hashing every node into
    * ~2-member buckets — one ~random partner per node per seed, so
    * the init digraph is a sparse random graph (connected w.h.p.,
    * like the paper's independent per-node sampling). A single
    * k+1-member co-bucket init is WRONG here: it partitions the
    * graph into closed cliques, and the local join — which only ever
    * reaches neighbors of neighbors — can never escape a clique
    * (found the hard way: the graph froze at its init). Reverse
    * neighbors cap at the k SMALLEST ids (the paper's ρK sample,
    * made deterministic); ranking is rounded cosine (6 dp, +1e-9)
    * desc with id-asc ties through the bounded [[graft.functions
    * .TopKPairs]] aggregate; a fixed `iters` iteration count replaces
    * the convergence test.
    *
    * Scale shape: every join is node-id-keyed; per-iteration
    * candidate volume is O(n·(2k+1)²) pair cosines (the paper's
    * local-join bound) — never n²; top-k selection is the
    * partial-aggregatable TopKPairs, no windows; each iteration's
    * state materializes at a stage boundary (k rows per node), so
    * plans stay iteration-depth-free. The one driver-side scalar is
    * count(n) for the init bucket count — the Bloom-sizing
    * convention. Unlike the paper's incremental flags, candidates
    * re-score every iteration (deterministic, replayable; the
    * asymptotic bound is unchanged, the constant is the price of
    * the oracle).
    *
    * Returns (id, nbr, rank, sim) — k rows per node, sim on the
    * rounded grid. */
  def knnGraphDescent(emb: DataFrame, k: Int, iters: Int, dim: Int,
      seed: Int = 31, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    val docs = emb.select(col(id).cast("long").as("nid"), col(vec).as("v"))
    val n = docs.count()
    val nb = math.max(1L, (n + 1) / 2)
    // k independent ~2-member bucket families: each (seed, bucket)
    // key pairs a node with ~1 random partner per seed
    val bucketed = docs
      .withColumn("s", explode(sequence(lit(1), lit(k))))
      .withColumn("b", pmod(conv(substring(md5(concat_ws("#",
        lit(s"nnd$seed"), col("s").cast("string"),
        col("nid").cast("string"))), 1, 8), 16, 10).cast("long"), lit(nb)))
    val initEdges = bucketed.select(col("s"), col("b"), col("nid").as("a"), col("v").as("va"))
      .join(bucketed.select(col("s"), col("b"), col("nid").as("c"), col("v").as("vc")),
        Seq("s", "b"))
      .filter(col("a") =!= col("c"))
      .select(col("a"), col("c"), cosine(col("va"), col("vc")).as("sim"))
      .distinct()
    var state = graft.model.Workspace.stageCheckpoint(
      nndTopK(initEdges, k), "nnd_init")
    for (t <- 0 until iters)
      state = graft.model.Workspace.stageCheckpoint(
        nndRound(state, docs, k), s"nnd_iter$t")
    state.select(col("a").as(id), col("c").as("nbr"), col("rank"), col("sim"))
  }

  /** Rounded-cosine top-k per pivot — the NN-Descent selection step
    * (grid round, sim desc, id asc through [[graft.functions
    * .TopKPairs]]). */
  private def nndTopK(edges: DataFrame, k: Int): DataFrame =
    edges.groupBy(col("a"))
      .agg(top_k_pairs(round(col("sim") + lit(1e-9), 6), col("c"), k).as("tk"))
      .select(col("a"), posexplode(col("tk")).as(Seq("r0", "p")))
      .select(col("a"), col("p.id").as("c"), col("p.score").as("sim"),
        (col("r0") + 1).cast("int").as("rank"))

  /** ONE NN-Descent local-join round over an existing k-NN state —
    * the iteration body of [[knnGraphDescent]], shared verbatim with
    * [[knnGraphRefresh]] so build and compaction cannot drift.
    * `state` is (a, c, sim) adjacency; `docs` is (nid, v) and defines
    * BOTH the pivot universe (every docs node re-scores its
    * adjacency, including isolated ones via the self row) and the
    * scoring vectors. */
  private def nndRound(state: DataFrame, docs: DataFrame, k: Int): DataFrame = {
    val fwd = state.select(col("a"), col("c"))
    // reverse fan-in is unbounded (a hub can be everyone's
    // neighbor) — cap at the k smallest ids, deterministically
    val revCap = state.select(col("c").as("a"), col("a").as("c"))
      .groupBy("a")
      .agg(top_k_pairs(-col("c").cast("double"), col("c"), k).as("tk"))
      .select(col("a"), explode(col("tk")).as("p"))
      .select(col("a"), col("p.id").as("c"))
    // adjacency incl. the pivot, so pivot–member pairs re-score too
    val adj = fwd.union(revCap)
      .union(docs.select(col("nid").as("a"), col("nid").as("c")))
      .distinct()
    val cand = adj.select(col("a").as("pivot"), col("c").as("x"))
      .join(adj.select(col("a").as("pivot"), col("c").as("y")), Seq("pivot"))
      .filter(col("x") < col("y"))
      .select(col("x"), col("y")).distinct()
    val scored = cand
      .join(docs.select(col("nid").as("x"), col("v").as("vx")), Seq("x"))
      .join(docs.select(col("nid").as("y"), col("v").as("vy")), Seq("y"))
      .select(col("x"), col("y"), cosine(col("vx"), col("vy")).as("sim"))
    val undirected = scored
      .union(scored.select(col("y"), col("x"), col("sim")))
      .toDF("a", "c", "sim")
    // one row per (a, c) before top-k — duplicates would occupy two
    // slots; max(raw, grid) re-rounds to the same grid value
    val uniq = undirected.union(state.select(col("a"), col("c"), col("sim")))
      .groupBy("a", "c").agg(max("sim").as("sim"))
    nndTopK(uniq, k)
  }

  /** k-NN graph REFRESH — the compaction verb completing the
    * takedown story ([[knnGraphDelete]] documents
    * tombstone-then-compact; this is the compact): ONE NN-Descent
    * local-join round over the current (typically just-deleted)
    * graph, restricted to the surviving corpus. Degree-deficient
    * nodes (holes left by dangling-edge removal) refill from their
    * 2-hop neighborhood — the same neighbor-of-a-neighbor argument
    * as the build, which is exactly why the body IS
    * [[knnGraphDescent]]'s iteration, shared verbatim. Removed nodes
    * cannot re-enter: they appear in neither the graph state nor
    * `corpus`. Run periodically (per takedown batch or per
    * compaction window), not inline with every delete.
    *
    * Scale shape: identical to one build iteration — candidate
    * volume O(n·(2k+1)²), node-keyed joins, partial-aggregatable
    * top-k — but over the post-delete state only; ~n/iters of a full
    * rebuild's cost, and at rest it rewrites only rows whose top-k
    * changed. */
  def knnGraphRefresh(graph: DataFrame, corpus: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val docs = corpus.select(col(id).cast("long").as("nid"), col(vec).as("v"))
    val state = graph.select(col(id).cast("long").as("a"),
      col("nbr").cast("long").as("c"), col("sim"))
    nndRound(state, docs, k)
      .select(col("a").as(id), col("c").as("nbr"), col("rank"), col("sim"))
  }

  /** Graph-ANN SERVING: beam search over a prebuilt k-NN graph
    * ([[knnGraphDescent]]'s output — the query path that makes the
    * graph an index; HNSW's search restricted to one layer). Each
    * query starts from `entries` fixed entry points (the nodes with
    * the smallest seeded hash — one bounded aggregation, shared by
    * every query), then for a fixed number of rounds expands the
    * current beam's graph neighbors, re-ranks by exact cosine, and
    * keeps the best `beam`; the final beam's top k is the answer.
    *
    * Determinism: fixed rounds instead of a convergence test, rounded
    * cosine (6 dp, +1e-9) desc with id-asc ties through
    * [[graft.functions.TopKPairs]], hash-ranked entries. Scale shape:
    * per-query work is O(rounds·beam·k) graph edges + cosines —
    * independent of corpus size; the graph relation joins keyed on
    * node id (at rest: bucket it by node id and the expansion join
    * co-locates); queries broadcast nothing corpus-sized. Re-scoring
    * the beam each round (no visited set) is the oracle-replayable
    * simplification — asymptotics unchanged, the constant is the
    * price of the replay. */
  def graphSearchTopK(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, beam: Int = 8, rounds: Int = 2, entries: Int = 4,
      seed: Int = 47, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(k <= beam, "k must not exceed the beam width")
    require(rounds >= 0 && entries >= 1)
    val docs = corpus.select(col(id).cast("long").as("nid"), col(vec).as("v"))
    val entry = docs.select(col("nid"),
        conv(substring(md5(concat_ws("#", lit(s"gse$seed"),
          col("nid").cast("string"))), 1, 8), 16, 10).cast("double").as("h"))
      .agg(top_k_pairs(-col("h"), col("nid"), entries).as("tk"))
      .select(explode(col("tk")).as("p")).select(col("p.id").as("c"))
    val q = queries.select(col(id).cast("long").as("query_id"), col(vec).as("q_vec"))
    def rank(cands: DataFrame, cap: Int): DataFrame =
      cands.groupBy("query_id")
        .agg(top_k_pairs(round(col("sim") + lit(1e-9), 6), col("c"), cap).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("r0", "p")))
        .select(col("query_id"), col("p.id").as("c"), col("p.score").as("sim"),
          (col("r0") + 1).cast("int").as("rank"))
    val init = broadcast(q).crossJoin(broadcast(entry))
      .join(docs.select(col("nid").as("c"), col("v")), Seq("c"))
      .select(col("query_id"), col("c"), cosine(col("q_vec"), col("v")).as("sim"))
    // eager checkpoint per round, KEPT after an A/B (round 17): a lazy
    // persist-per-round variant saved the construction-time round
    // trips but re-planned the accumulated 3-level plan inside one
    // action and measured ~50% SLOWER (q149 3.9 → 6.0 s) — the
    // lineage truncation is what keeps the per-round AQE plans small
    var state = graft.model.Workspace.stageCheckpoint(rank(init, beam), "gs_init")
    val g = graph.select(col(id).cast("long").as("c"), col("nbr"))
    for (r <- 0 until rounds) {
      val expand = state.select(col("query_id"), col("c"))
        .join(g, Seq("c"))
        .select(col("query_id"), col("nbr").as("c"))
        .union(state.select(col("query_id"), col("c")))
        .distinct()
      val scored = expand
        .join(broadcast(q), Seq("query_id"))
        .join(docs.select(col("nid").as("c"), col("v")), Seq("c"))
        .select(col("query_id"), col("c"), cosine(col("q_vec"), col("v")).as("sim"))
      state = graft.model.Workspace.stageCheckpoint(rank(scored, beam), s"gs_round$r")
    }
    rank(state.select(col("query_id"), col("c"), col("sim")), k)
      .select(col("query_id"), col("c").as("corpus_id"), col("rank"), col("sim"))
  }

  /** k-NN graph UPSERT — the HNSW insert primitive at one layer, the
    * q151 lifecycle verb for the GRAPH artifact: new vectors join the
    * stored graph WITHOUT an NN-Descent rebuild. Each new vector (1)
    * beam-searches its top-k among the EXISTING corpus over the
    * current graph ([[graphSearchTopK]] — O(rounds·beam·k) per
    * vector, corpus-size-independent), becoming its own adjacency
    * rows; (2) offers itself to each found neighbor, which re-ranks
    * its current k edges ∪ the offer and keeps the best k (one keyed
    * aggregation over ≤ |new|·k affected nodes). Untouched nodes'
    * rows pass through verbatim — at rest this is an append + a
    * bounded per-bucket rewrite, never a corpus shuffle.
    *
    * Batch simplification (documented): new↔new edges are not
    * formed — each new node wires to the EXISTING graph only, the
    * standard bulk-insert shape; a periodic NN-Descent round is the
    * refresh. Determinism: grid-rounded sims, TopKPairs (sim desc,
    * id asc) ties — new ids sort after existing ids on equal sim. */
  def knnGraphUpsert(graph: DataFrame, corpus: DataFrame,
      newVecs: DataFrame, k: Int, beam: Int = 8, rounds: Int = 2,
      entries: Int = 4, seed: Int = 47, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val found = graft.model.Workspace.stageCheckpoint(
      graphSearchTopK(graph, corpus, newVecs, k, beam, rounds, entries,
        seed, id, vec),
      "graph_upsert_found")
    val newEdges = found.select(col("query_id").as(id),
      col("corpus_id").as("nbr"), col("rank"), col("sim"))
    val rev = found.select(col("corpus_id").as("a"),
      col("query_id").as("c"), col("sim"))
    val affected = rev.select(col("a")).distinct()
    val cur = graph.join(affected.withColumnRenamed("a", id), Seq(id))
      .select(col(id).as("a"), col("nbr").as("c"), col("sim"))
    val rer = cur.unionByName(rev)
      .groupBy("a")
      .agg(top_k_pairs(round(col("sim") + lit(1e-9), 6), col("c"), k).as("tk"))
      .select(col("a"), posexplode(col("tk")).as(Seq("r0", "p")))
      .select(col("a").as(id), col("p.id").as("nbr"),
        (col("r0") + 1).cast("int").as("rank"), col("p.score").as("sim"))
    val untouched = graph
      .join(affected.withColumnRenamed("a", id), Seq(id), "left_anti")
      .select(col(id), col("nbr"), col("rank"), col("sim"))
    untouched.unionByName(rer).unionByName(newEdges)
  }

  /** k-NN graph DELETION — the takedown verb for the VECTOR index
    * (the [[graft.operators.TextDedup.nearDupIndexDelete]] contract
    * on the graph artifact; lifecycle: build [[knnGraphDescent]],
    * serve [[graphSearchTopK]], upsert [[knnGraphUpsert]], DELETE
    * this): removed nodes' adjacency rows drop, surviving nodes drop
    * their edges TO removed nodes and recompact ranks (sim desc, id
    * asc — the TopKPairs tie order), leaving degree possibly < k
    * until the next NN-Descent refresh round — the HNSW
    * tombstone-then-compact practice (eager re-wiring would need a
    * beam search per affected node; that is exactly
    * [[knnGraphUpsert]]'s machinery, run at compaction, not inline
    * with every takedown).
    *
    * Scale shape: two keyed anti-joins (the affected mass is bounded
    * by the removed nodes' reverse degree — ≤ k·|removed| rows plus
    * the removed rows themselves) and ONE node-grain window (≤ k
    * rows per node, contract-bounded — never a corpus-keyed sort).
    * At rest: a tombstone write over the vec_id-bucketed layout. */
  def knnGraphDelete(graph: DataFrame, removeIds: DataFrame,
      id: String = "vec_id"): DataFrame = {
    val rm = removeIds.select(col(id)).distinct()
    val kept = graph.join(rm, Seq(id), "left_anti")
      .join(rm.withColumnRenamed(id, "nbr"), Seq("nbr"), "left_anti")
    kept
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(id))
          .orderBy(col("sim").desc, col("nbr").asc)).cast("int"))
      .select(col(id), col("nbr"), col("rank"), col("sim"))
  }

  /** FAISS-style SCALAR quantization fit (SQ8): per-dimension
    * min/max over the corpus — ONE keyed aggregation, `dim` output
    * rows, collected as the affine code parameters. Exact (no
    * sampling): a per-dim extremum is partial-aggregatable and
    * costs a scan, and an out-of-range query value would otherwise
    * clamp training vectors. */
  def sqFit(corpus: DataFrame, dim: Int,
      vec: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = corpus.select(posexplode(col(vec)).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .collect()
    val mn = Array.ofDim[Double](dim)
    val mx = Array.ofDim[Double](dim)
    rows.foreach { r =>
      val d = r.getInt(0); mn(d) = r.getDouble(1); mx(d) = r.getDouble(2)
    }
    (mn, mx)
  }

  /** SQ8 ENCODE: each float dimension to one affine int8 code
    * (`round((x−mn)/(mx−mn)·255)`, clamped; constant dims code 0) —
    * 4× smaller vectors at rest, the storage half of the FAISS
    * ScalarQuantizer. Pure codegen transform; params ride as plan
    * constants (dim-bounded, the Lloyd-centroid convention). */
  def sqEncode(corpus: DataFrame, mn: Array[Double], mx: Array[Double],
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val mnA = array(mn.map(lit(_)): _*)
    val mxA = array(mx.map(lit(_)): _*)
    corpus.select(col(id),
      transform(col(vec), (x, i) => {
        val m = element_at(mnA, i + 1)
        val bigM = element_at(mxA, i + 1)
        when(bigM > m,
          least(lit(255.0), greatest(lit(0.0),
            round((x.cast("double") - m) / (bigM - m) * lit(255.0) + lit(1e-9), 0))))
          .otherwise(lit(0.0)).cast("int")
      }).as("codes"))
  }

  /** SQ8 DECODE: codes back to the reconstruction grid
    * (`mn + code/255·(mx−mn)`, cast to float — double arithmetic,
    * float storage, so both engines replay the IEEE rounding
    * bit-identically, the q145 convention). */
  def sqDecode(codes: DataFrame, mn: Array[Double], mx: Array[Double],
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val mnA = array(mn.map(lit(_)): _*)
    val mxA = array(mx.map(lit(_)): _*)
    codes.select(col(id),
      transform(col("codes"), (c, i) => {
        val m = element_at(mnA, i + 1)
        val bigM = element_at(mxA, i + 1)
        (m + c.cast("double") / lit(255.0) * (bigM - m)).cast("float")
      }).as(vec))
  }

  /** SQ8 search: exact cosine top-k of float queries against the
    * DECODED code relation ([[bruteForceTopK]] over the
    * reconstruction) — the accuracy/storage trade measured at query
    * time. At scale the codes relation is the at-rest artifact (4×
    * smaller scans); compose with IVF cells for the pruned form
    * exactly as PQ does. */
  def sqTopK(codes: DataFrame, queries: DataFrame, k: Int,
      mn: Array[Double], mx: Array[Double], id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    bruteForceTopK(sqDecode(codes, mn, mx, id, vec), queries, k, id, vec)

  /** Graph-based SEMANTIC DEDUP — the k-NN graph artifact's second
    * job: [[knnGraphDescent]] edges at cosine ≥ `tau` close into
    * components (min-id label propagation, the q92 closure) and every
    * non-representative member is flagged dropped. Where [[semDedup]]
    * partitions by quantizer cells and pays within-cell pair joins,
    * the graph form inherits the graph's k-BOUNDED edge set — dedup
    * cost is edge-volume, and the SAME stored graph (q150's bucketed
    * table) serves ANN queries and dedup. Approximate by
    * construction: only pairs the graph discovered can merge —
    * SemDeDup's cell restriction has the same character, and for
    * dedup thresholds (τ high) a true near-dup is overwhelmingly a
    * nearest neighbor. Returns (id, component, kept) for the whole
    * corpus — kept = the member IS its component's min-id
    * representative. */
  def graphSemDedup(graph: DataFrame, corpus: DataFrame, tau: Double,
      id: String = "vec_id"): DataFrame = {
    val edges = graph
      .filter(col("sim") >= tau && col(id) =!= col("nbr"))
      .select(least(col(id), col("nbr")).as("id_a"),
        greatest(col(id), col("nbr")).as("id_b"))
      .distinct()
    val comp = graft.operators.TextDedup.duplicateComponents(edges)
    corpus.select(col(id))
      .join(comp.withColumnRenamed("id", id), Seq(id), "left")
      .select(col(id),
        coalesce(col("component"), col(id)).as("component"))
      .withColumn("kept", col(id) === col("component"))
  }

  /** Seed for the fit-sample hash — shared with the q40/q103/q110/
    * q113 oracle SQL, which replays `md5('17#' || id)` ordering. */
  private val sampleSeed = 17

  /** Bounded deterministic UNBIASED fit sample: the `sampleCap`
    * vectors whose seeded id-hash sorts lowest (id tie-breaks), in
    * hash order, as doubles. Hash-ordering decouples the sample from
    * id order: on a real corpus ids are crawl-ordered, so an id-prefix
    * "sample" is the first shard and biases the codebooks toward one
    * slice of the distribution — the seeded hash gives every row equal
    * selection probability while staying deterministic and replayable.
    * `md5Sample=true` uses the engine-portable md5 family (oracle SQL
    * reproduces the ordering bit-for-bit); the production default is
    * xxhash64. The top-k-by-hash is a TakeOrdered over the corpus —
    * no full sort, collect bounded by `sampleCap`. */
  private def lloydSample(corpus: DataFrame, id: String, vec: String,
      sampleCap: Int, md5Sample: Boolean): Array[Array[Double]] = {
    val h: Column =
      if (md5Sample) md5(concat_ws("#", lit(sampleSeed), col(id).cast("string")))
      else xxhash64(col(id), lit(sampleSeed.toLong))
    corpus.select(col(vec), h.as("__h"), col(id).as("__sid"))
      .orderBy(col("__h").asc, col("__sid").asc)
      .limit(sampleCap)
      .select(col(vec)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
  }

  /** The deterministic Lloyd iteration shared by [[lloydCentroids]]
    * and [[pqFit]]: init = the k first sample vectors, argmin squared
    * distance (index-order accumulation, ties to the lower cell),
    * empty cells carry their previous centroid. */
  private def lloydLoop(sample: Array[Array[Double]], k: Int, iters: Int,
      dim: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = sample.take(k).map(_.clone())
    var t = 0
    while (t < iters) {
      val sums = Array.fill(k)(Array.ofDim[Double](dim))
      val counts = Array.ofDim[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var d = 0
          while (d < dim) {
            val t0 = v(d) - cents(c)(d); dist += t0 * t0; d += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      cents = cents.zipWithIndex.map { case (c, cellId) =>
        if (counts(cellId) > 0)
          Array.tabulate(dim)(d => sums(cellId)(d) / counts(cellId))
        else c
      }
      t += 1
    }
    cents
  }

  /** IVF-style ANN: KMeans coarse quantizer (deterministic seed), each
    * vector assigned to its centroid list; queries probe the nearest
    * `nProbe` centroids and rank exact cosine within those cells. At
    * scale the corpus is partitioned by cell id — a probe touches
    * nProbe/nCells of the data. Pass `centroids` (cell, centroid
    * array<float>) to skip the fit entirely — the 100 TB path fits the
    * quantizer once on a sample and reuses the relation. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, id: String = "vec_id", vec: String = "embedding",
      centroids: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Centroids are structurally bounded (nCells rows) — collect and
    // bake them into the plan as literals, like hyperplaneSketch does.
    val cents: Seq[(Int, Array[Float])] = centroids match {
      case Some(df) => df.select(col("cell").cast("int"), col("centroid"))
        .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      case None =>
        val model = ivfQuantizer(corpus, nCells, vec)
        model.clusterCenters.zipWithIndex.map { case (cVec, i) =>
          (i, cVec.toArray.map(_.toFloat))
        }.toSeq
    }
    val centDf = cents.map { case (i, a) => (i, a.toSeq) }.toDF("cell", "centroid")
    val assigned = assignCells(corpus, cents, id, vec)
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val probed = probeCells(q, centDf, nProbe)
      .select("query_id", "q_vec", "cell")
    val scored = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    topKOf(scored, k)
  }

  // -----------------------------------------------------------------
  // Product quantization (PQ) — the COMPRESSED-vector scale path for
  // embedding search: dim floats (dim·4 bytes) become `m` small codes
  // (m bytes at ksub ≤ 256), so a 100 TB embedding corpus scans from
  // a table ~100× narrower while queries score against codebook
  // lookup tables (ADC). The fit is the same bounded-sample
  // deterministic Lloyd the IVF quantizer uses, run once per
  // subspace; encoding is zero-shuffle literal-baked codegen exactly
  // like ivfTopK's cell assignment.
  // -----------------------------------------------------------------

  /** Per-subspace PQ codebooks: deterministic Lloyd
    * ([[lloydCentroids]]'s loop) over the bounded fit sample's
    * subspace slices. Returns [m][ksub][dim/m] float centroids —
    * bake into [[pqEncode]] / relate via [[pqCodebookDf]]. */
  def pqFit(corpus: DataFrame, m: Int, ksub: Int, iters: Int, dim: Int,
      id: String = "vec_id", vec: String = "embedding",
      sampleCap: Int = 1000, md5Sample: Boolean = false): Array[Array[Array[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val sample = lloydSample(corpus, id, vec, sampleCap, md5Sample)
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydLoop(sub, ksub, iters, dsub).map(_.map(_.toFloat))
    }
  }

  /** Codebooks as a relation (sub, code, centroid array<float>) —
    * the at-rest form (written next to the encoded corpus so probes
    * can rebuild lookup tables without refitting). */
  def pqCodebookDf(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
  }

  /** PQ-encode the corpus: per subspace, argmin |c|² − 2·v_s·c over
    * the codebook (equivalent to nearest-centroid for fixed v_s) via
    * `least()` over (dist, code) structs with LITERAL centroid arrays
    * — one codegen vec_dot loop per (subspace, code), zero shuffle,
    * no join (the ivfTopK assignment pattern; ties to the lower
    * code). Output: (id, sub, code) — the long form that joins
    * straight onto ADC lookup tables. */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Float]]],
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val codeCols = (0 until m).map { s =>
      val vs = slice(col(vec), s * dsub + 1, dsub)
      val structs = books(s).zipWithIndex.map { case (arr, j) =>
        val c2 = arr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        struct((lit(c2) - lit(2.0) * vec_dot(vs, lit(arr))).as("d"),
          lit(j).as("code"))
      }
      least(structs: _*).getField("code").as(s"__c$s")
    }
    corpus.select((col(id) +: codeCols): _*)
      .select(col(id),
        posexplode(array((0 until m).map(s => col(s"__c$s")): _*))
          .as(Seq("sub", "code")))
  }

  /** IVF-PQ composed ANN — the production probe shape (FAISS IVFPQ
    * minus residual encoding: codes are the SAME at-rest relation
    * [[pqEncode]] writes, so one encoded corpus serves both
    * [[pqTopK]] and this): the coarse quantizer prunes the corpus to
    * each query's `nProbe` nearest cells, and the ADC lookup-table
    * sum runs only over the byte-sized code relation WITHIN probed
    * cells. At 100 TB the probe-time scan is (nProbe/nCells) of a
    * relation ~100× narrower than the float corpus; cell assignment
    * is the zero-shuffle literal-baked argmin, the LUT is broadcast,
    * the only wide shuffle is the bounded TopKPairs rank.
    *
    * `corpus` supplies the cell assignment (at rest you'd store the
    * (id, cell) relation next to the codes and skip this scan);
    * `codes` is the [[pqEncode]] relation; `centroids` the
    * [[lloydCentroids]] relation. Ranking reproduces [[pqTopK]]'s
    * convention: ascending ROUNDED distance (1e-9/6dp), id
    * tie-breaks. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, codes: DataFrame, k: Int,
      nProbe: Int, books: Array[Array[Array[Float]]], centroids: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val cents = collectCentroids(centroids)
    val centDf = {
      import spark.implicits._
      cents.map { case (i, a) => (i, a.toSeq) }.toDF("cell", "centroid")
    }
    // corpus→cell: literal-baked argmin |c|² − 2 v·c (the ivfTopK
    // assignment — one codegen VecDot loop per cell, no shuffle)
    val distStructs = cents.map { case (cellId, arr) =>
      val c2 = arr.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)
      struct((lit(c2) - lit(2.0) * vec_dot(col("c_vec"), lit(arr))).as("d"),
        lit(cellId).as("cell"))
    }
    val assigned = corpus.select(col(id).as("corpus_id"), col(vec).as("c_vec"))
      .select(col("corpus_id"), least(distStructs: _*).getField("cell").as("cell"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val probed = probeCells(q, centDf, nProbe)
      .select("query_id", "cell")
    // the q104 ADC, restricted to candidates from probed cells
    val dsub = books(0)(0).length
    val lut = q.crossJoin(pqCodebookDf(spark, books)).select(
      col("query_id"), col("sub"), col("code"), {
        val vs = slice(col("q_vec"), col("sub") * dsub + 1, lit(dsub))
        (vec_dot(col("centroid"), col("centroid"))
          - lit(2.0) * vec_dot(vs, col("centroid"))
          + vec_dot(vs, vs)).as("d")
      })
    val cand = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id")
    val adc = cand
      .join(codes.withColumnRenamed(id, "corpus_id"), Seq("corpus_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum(col("d")) + 1e-9, 6).as("dist"))
    rankAdcTopK(adc, k, "corpus_id")
  }

  private[graft] def collectCentroids(centroids: DataFrame): Seq[(Int, Array[Float])] =
    centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Shared probe block: each (query_id, q_vec) row fans out to its
    * `nProbe` nearest cells by centroid cosine (desc, cell asc) —
    * both relations broadcast, crank retained for callers to drop. */
  private def probeCells(q: DataFrame, centDf: DataFrame, nProbe: Int): DataFrame =
    broadcast(q).crossJoin(broadcast(centDf))
      .withColumn("cdist", cosine(col("q_vec"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").desc, col("cell").asc)))
      .filter(col("crank") <= nProbe)

  /** Shared ADC ranking tail: (query_id, <idOut>, dist) → top-k rows
    * ascending by the already-ROUNDED distance with id tie-breaks,
    * negation-bridged through the bounded [[graft.functions
    * .TopKPairs]] (which keeps maxima). One implementation so the
    * ranking convention cannot drift between the PQ variants. */
  private def rankAdcTopK(adc: DataFrame, k: Int, idOut: String): DataFrame =
    adc.groupBy(col("query_id"))
      .agg(top_k_pairs(-col("dist"), col(idOut), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "kv")))
      .select(col("query_id"), col("kv.id").as(idOut),
        (-col("kv.score")).as("dist"), (col("r0") + 1).cast("int").as("rank"))

  /** Driver-side coarse assignment + residual for ONE sample vector —
    * mirrors the distributed literal-baked argmin exactly: |c|² and
    * v·c accumulated separately in index order, s = c2 − 2·dot, ties
    * to the lower cell; residual r[d] = v[d] − (float)c[d]. */
  private def residualOf(v: Array[Double], cents: Seq[(Int, Array[Float])]): Array[Double] = {
    var best = cents.head._1
    var bestD = Double.MaxValue
    cents.foreach { case (cell, c) =>
      var c2 = 0.0; var dot = 0.0; var d = 0
      while (d < c.length) { val cd = c(d).toDouble; c2 += cd * cd; dot += v(d) * cd; d += 1 }
      val s = c2 - 2.0 * dot
      if (s < bestD) { bestD = s; best = cell }
    }
    val carr = cents.find(_._1 == best).get._2
    Array.tabulate(v.length)(d => v(d) - carr(d).toDouble)
  }

  /** RESIDUAL PQ codebooks — the true FAISS-IVFPQ encoding: books fit
    * on r = v − centroid(cell(v)) instead of raw vectors, so the code
    * budget spans only the WITHIN-cell spread, not the between-cell
    * offsets the coarse quantizer already explains — tighter ADC
    * distances at the same bytes/vector. Fit is the same bounded
    * deterministic sample + per-subspace Lloyd as [[pqFit]]; the
    * sample's cells and residuals are computed driver-side with the
    * exact arithmetic of the distributed assignment. */
  def pqFitResidual(corpus: DataFrame, centroids: DataFrame, m: Int, ksub: Int,
      iters: Int, dim: Int, id: String = "vec_id", vec: String = "embedding",
      sampleCap: Int = 1000, md5Sample: Boolean = false): Array[Array[Array[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val cents = collectCentroids(centroids)
    val sample = lloydSample(corpus, id, vec, sampleCap, md5Sample)
      .map(residualOf(_, cents))
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydLoop(sub, ksub, iters, dsub).map(_.map(_.toFloat))
    }
  }

  /** The per-row double-precision residual column: assign the cell
    * with the literal-baked argmin, join the (bounded, broadcast)
    * centroid relation, subtract element-wise in DOUBLE. */
  private def withResidual(df: DataFrame, cents: Seq[(Int, Array[Float])],
      vec: String, outCell: String, outRes: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = cents.map { case (i, a) => (i, a.toSeq) }.toDF(outCell, "__cent")
    val distStructs = cents.map { case (cellId, arr) =>
      val c2 = arr.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)
      struct((lit(c2) - lit(2.0) * vec_dot(col(vec), lit(arr))).as("d"),
        lit(cellId).as("cell"))
    }
    df.withColumn(outCell, least(distStructs: _*).getField("cell"))
      .join(broadcast(centDf), Seq(outCell))
      .withColumn(outRes, zip_with(col(vec), col("__cent"),
        (a, b) => a.cast("double") - b.cast("double")))
      .drop("__cent")
  }

  /** PQ-encode RESIDUALS: [[pqEncode]]'s zero-shuffle literal-baked
    * argmin, run on r = v − centroid(cell) with double-precision
    * arithmetic end-to-end. Output (id, cell, sub, code) — the cell
    * rides along so the at-rest relation self-describes which coarse
    * cell each code block belongs to. */
  def pqEncodeResidual(corpus: DataFrame, books: Array[Array[Array[Float]]],
      centroids: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val cents = collectCentroids(centroids)
    val withRes = withResidual(
      corpus.select(col(id), col(vec)), cents, vec, "cell", "__r")
    val codeCols = (0 until m).map { s =>
      val vs = slice(col("__r"), s * dsub + 1, dsub)
      val structs = books(s).zipWithIndex.map { case (arr, j) =>
        val c2 = arr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        struct((lit(c2) - lit(2.0) * vec_dot(vs, lit(arr.map(_.toDouble)))).as("d"),
          lit(j).as("code"))
      }
      least(structs: _*).getField("code").as(s"__c$s")
    }
    withRes.select((col(id) +: col("cell") +: codeCols): _*)
      .select(col(id), col("cell"),
        posexplode(array((0 until m).map(s => col(s"__c$s")): _*))
          .as(Seq("sub", "code")))
  }

  /** Residual IVF-PQ probe: like [[ivfPqTopK]], but distances are ADC
    * sums against the QUERY's residual in each probed cell (qr =
    * q − centroid(cell), one LUT block per (query, probed cell) —
    * broadcast at queries×nProbe×m×ksub rows), matching the residual
    * code relation from [[pqEncodeResidual]]. */
  def ivfPqTopKResidual(queries: DataFrame, codes: DataFrame, k: Int,
      nProbe: Int, books: Array[Array[Array[Float]]], centroids: DataFrame,
      id: String = "vec_id", vec: String = "embedding",
      pruneCells: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids)
    val centDf = cents.map { case (i, a) => (i, a.toSeq) }.toDF("cell", "centroid")
    val dsub = books(0)(0).length
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val probed = probeCells(q, centDf, nProbe)
      .withColumn("qr", zip_with(col("q_vec"), col("centroid"),
        (a, b) => a.cast("double") - b.cast("double")))
      .select("query_id", "cell", "qr")
    // `pruneCells`: bake the query panel's probed-cell UNION (bounded
    // by nCells — the Lloyd-anchor collect) into a literal IN filter
    // on the code relation. Against a code table PARTITIONED BY cell
    // at rest this is a static partition filter — the probe reads
    // only the probed cells' files (`Plans partitioned_ivf_demo`
    // measures numFiles). The LUT join alone can't prune files: its
    // cells arrive via a broadcast relation, not a pushable predicate.
    val codesIn =
      if (pruneCells) {
        val cellIds = probed.select("cell").distinct().collect()
          .map(_.getInt(0)).toSeq
        codes.filter(col("cell").isin(cellIds: _*))
      } else codes
    val lut = probed.crossJoin(pqCodebookDf(spark, books)).select(
      col("query_id"), col("cell"), col("sub"), col("code"), {
        val vs = slice(col("qr"), col("sub") * dsub + 1, lit(dsub))
        (vec_dot(col("centroid"), col("centroid"))
          - lit(2.0) * vec_dot(vs, col("centroid"))
          + vec_dot(vs, vs)).as("d")
      })
    val adc = codesIn.withColumnRenamed(id, "corpus_id")
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("corpus_id"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum(col("d")) + 1e-9, 6).as("dist"))
    rankAdcTopK(adc, k, "corpus_id")
  }

  /** ADC (asymmetric distance computation) top-k over a PQ-encoded
    * corpus: each query builds an m×ksub LOOKUP TABLE of true squared
    * L2 distances to every centroid (|c|² − 2·q_s·c + |q_s|², all
    * index-order vec_dot sums), the code relation joins it on
    * (sub, code), and per-(query, doc) distances are the m-row sums —
    * ranked ascending by the ROUNDED distance (1e-9/6dp, doc-id
    * tie-breaks) through the bounded [[graft.functions.TopKPairs]]
    * aggregate, negation-bridged since TopKPairs keeps maxima.
    *
    * Scale shape: the LUT is queries×m×ksub rows — broadcast; the
    * corpus side touches only the byte-sized code relation (the point
    * of PQ: the full float vectors never rescan at probe time), one
    * keyed aggregation, bounded top-k shuffle. */
  def pqTopK(codes: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Float]]], k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    val m = books.length
    val dsub = books(0)(0).length
    val bookDf = pqCodebookDf(spark, books)
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val lut = q.crossJoin(bookDf).select(col("query_id"), col("sub"), col("code"), {
      val vs = slice(col("q_vec"), col("sub") * dsub + 1, lit(dsub))
      (vec_dot(col("centroid"), col("centroid"))
        - lit(2.0) * vec_dot(vs, col("centroid"))
        + vec_dot(vs, vs)).as("d")
    })
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .withColumnRenamed(id, "corpus_id")
      .filter(col("query_id") =!= col("corpus_id"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum(col("d")) + 1e-9, 6).as("dist"))
    rankAdcTopK(adc, k, "corpus_id")
  }
}
