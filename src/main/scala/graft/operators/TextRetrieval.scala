package graft.operators

import graft.functions.TextFunctions.tokens
import graft.functions.TopKPairs.top_k_pairs
import graft.model.RelCache
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword retrieval over the document corpus — the ranking side of
  * the curation toolkit (benchmark decontamination triage, targeted
  * corpus slicing, quality-probe retrieval all start from "find the
  * documents that score highest for these terms").
  *
  * Okapi BM25 with the Lucene idf variant
  * (`ln(1 + (N - df + 0.5)/(df + 0.5))` — always positive, so a
  * stopword query term degrades to near-zero weight instead of
  * flipping the ranking sign).
  *
  * Scale shape: the query relation is tiny and BROADCAST, and the
  * corpus is TOKENIZED EXACTLY ONCE — at 100 TB tokenization is the
  * dominant cost, so document length and query-term frequency both
  * derive from a single (doc, query-term-or-null) keyed aggregation
  * (map-side combined; every non-query token of a doc collapses into
  * the one null-term row, so the shuffled relation stays bounded by
  * |docs|·(|query terms|+1)). The two readers of that aggregation
  * share its shuffle via Spark's exchange reuse — the plan has one
  * scan, one tokenize, one wide exchange. `N` rides along as a
  * column-pruned count-star scan (no re-tokenize) and `avgdl` as a
  * broadcast scalar, so the whole query is ONE job. Per-query ranking
  * is the bounded [[graft.functions.TopKPairs]] aggregate: each map
  * task keeps ≤ k candidates per query, so a query matching every
  * document in the corpus still shuffles ≤ k·partitions rows — no
  * global sort, no content-keyed window.
  */
object TextRetrieval {

  /** BM25 top-`k` documents per query. `queries` = (query_id, term)
    * rows, one per query term (duplicate terms in one query are
    * counted once — the conventional bag-of-terms degenerates to the
    * set form for the short queries this serves). Scores are rounded
    * (1e-9 epsilon then 6 dp) BEFORE ranking with doc-id tie-breaks,
    * so ranks replay across engines. Output: (query_id, doc_id,
    * score, rank), rank 1 = best. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val terms = queries.select(col("term")).distinct()
    val tok = docs.select(col(id), explode(tokens(col(text))).as("tk"))
    // The ONE pass over the tokenized corpus: per (doc, query term)
    // counts, with every non-query token falling into the doc's single
    // null-term row (broadcast left join marks query terms). The
    // relation is PERSISTED because four consumers read it (dl, tf,
    // df, avgdl) and Catalyst specializes each branch (pushes the
    // term-null filter below the aggregate), which would otherwise
    // re-scan and re-tokenize the corpus per branch — at 100 TB
    // tokenization is the dominant cost. What is cached is the
    // POST-aggregation relation: ≤ |docs|·(|query terms|+1) narrow
    // rows, ~the token-count relation's size, spilled to disk when it
    // outgrows memory and released by the next invocation's hold.
    val grouped = RelCache.hold("textretrieval.bm25TopK.grouped", tok
      .join(broadcast(terms), col("tk") === col("term"), "left").drop("tk")
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("cnt")))
    val dl = grouped.groupBy(col(id)).agg(sum(col("cnt")).as("dl"))
    val tf = grouped.filter(col("term").isNotNull)
      .select(col(id), col("term").as("tk"), col("cnt").as("tf"))
    // N includes token-less documents: a count-star scan of `docs`
    // (column-pruned — parquet row-count metadata, no tokenize).
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n"))
    val avgdlDf = dl.agg(avg(col("dl")).as("__avgdl"))
    val dfRel = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val idf: Column = log(lit(1.0) +
      (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = tf.join(dfRel, Seq("tk")).join(dl, Seq(id))
      .crossJoin(broadcast(nDf)).crossJoin(broadcast(avgdlDf))
      .select(col("tk"), col(id),
        (idf * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))).as("w"))
    val scored = contrib
      .join(broadcast(queries.select(col("query_id"), col("term")).distinct()),
        col("tk") === col("term"))
      .groupBy(col("query_id"), col(id))
      .agg(round(sum(col("w")) + 1e-9, 6).as("score"))
    scored.groupBy(col("query_id"))
      .agg(top_k_pairs(col("score"), col(id), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "kv")))
      .select(col("query_id"), col("kv.id").as(id),
        col("kv.score").as("score"), (col("r0") + 1).cast("int").as("rank"))
  }

  /** Per-document unigram cross-entropy under the corpus's own
    * add-one-smoothed unigram distribution — the perplexity-style
    * quality filter (the CCNet recipe scores documents under a
    * reference LM and drops the high-perplexity tail; the corpus-self
    * unigram model is its vocabulary-free relational form):
    * xent(d) = −mean_i ln((tf(tᵢ)+1)/(N+V)).
    *
    * Scale shape: one token-keyed aggregation for tf (map-side
    * combined), two scalar totals via a bounded crossJoin, one
    * token-keyed join back (both sides token-grain, AQE broadcasts
    * the vocabulary side when small), one doc-keyed aggregation.
    * No windows, no collect. Documents with zero tokens emit no row
    * (there is nothing to score). */
  /** Per-document BIGRAM cross-entropy under the corpus's own
    * add-one-smoothed bigram model: xent2(d) = −mean over adjacent
    * token pairs of ln((c(w₁w₂)+1)/(c(w₁·)+V)). The conditional model
    * scores fluency, not just vocabulary: shuffled-token gibberish
    * keeps its unigram score but collapses here.
    *
    * Scale shape: the only window is doc-grain (`lead` over token
    * positions, bounded by document length); pair counts and
    * predecessor counts are map-side-combined keyed aggregations;
    * V is one bounded crossJoin scalar. Documents with < 2 tokens
    * emit no row. */
  def bigramCrossEntropy(docs: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val tok = docs.select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tk")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(id)).orderBy(col("pos"))
    val pairs = tok.withColumn("w2", lead(col("tk"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(id), col("tk").as("w1"), col("w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // vocabulary from the ALREADY-tokenized stream — re-tokenizing the
    // corpus a second time would double the operator's dominant cost
    val vocab = tok.agg(count_distinct(col("tk")).as("vocab"))
    pairs.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(id),
        (-log((col("c12") + lit(1.0)) /
          (col("c1") + col("vocab")).cast("double"))).as("nll"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), avg("nll").as("xent2"))
  }

  /** Per-document cross-entropy under an interpolated Kneser–Ney
    * bigram model of the corpus itself — the smoothing family the
    * production perplexity filters actually use (CCNet scores under a
    * KenLM model; KenLM's default estimator is interpolated modified
    * Kneser–Ney, Kneser & Ney 1995 / Chen & Goodman 1998). The add-α
    * forms ([[unigramCrossEntropy]], [[bigramCrossEntropy]]) flatten
    * every unseen event to one constant; KN instead discounts each
    * observed bigram by `D` and redistributes that mass over the
    * CONTINUATION distribution — P_cont(w₂) ∝ the number of distinct
    * predecessors of w₂ — so frequent-but-context-bound tokens
    * ("francisco") stop inflating fluency scores:
    *
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *            + D·N1+(w₁·)/c(w₁·) · N1+(·w₂)/N1+(··)
    *
    * `D` defaults to the Ney absolute-discount estimate
    * n₁/(n₁+2n₂) from the bigram count-of-counts (0.5 when the
    * corpus has no singleton/doubleton bigrams to estimate from).
    * Scoring the training corpus itself means every scored bigram has
    * c(w₁·) ≥ c(w₁w₂) ≥ 1, so no OOV backoff case arises and the
    * probability is strictly positive.
    *
    * Scale shape: ONE tokenize pass (the persisted doc-grain pair
    * relation feeds the model fit and the scoring join); all model
    * relations are token-type-grain map-side-combined aggregations of
    * it; the discount and N1+(··) are one broadcast scalar row; the
    * only window is doc-grain `lead` over token positions. Documents
    * with < 2 tokens emit no row (as [[bigramCrossEntropy]]).
    *
    * Returns (id, n_bigrams, xent_kn). */
  def kneserNeyCrossEntropy(docs: DataFrame, discount: Option[Double] = None,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val tok = docs.select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tk")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(id)).orderBy(col("pos"))
    val pairs = RelCache.hold("textretrieval.kneserNey.pairs",
      tok.withColumn("w2", lead(col("tk"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col(id), col("tk").as("w1"), col("w2")))
    // bigram type counts: read 4x (follower/continuation counts, the
    // discount scalar, the scoring join) — persist the bounded
    // type-grain relation, not the corpus-grain pair stream
    val c12 = RelCache.hold("textretrieval.kneserNey.c12",
      pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    // c(w1·) = Σ_w2 c(w1 w2): derive from the bounded type-grain c12,
    // not a second corpus-grain pass over the pair stream
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val fol = c12.groupBy(col("w1")).agg(count(lit(1)).as("n1p_fol"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1p_pre"))
    val scalars = c12.agg(count(lit(1)).as("n_types"),
      sum((col("c12") === 1).cast("long")).as("n1"),
      sum((col("c12") === 2).cast("long")).as("n2"))
    val dCol = discount.map(d => lit(d))
      .getOrElse(when(col("n1") + lit(2L) * col("n2") > 0,
        col("n1") / (col("n1") + lit(2.0) * col("n2"))).otherwise(lit(0.5)))
    pairs.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .join(fol, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(scalars))
      .withColumn("__d", dCol)
      .select(col(id),
        (-log(greatest(col("c12") - col("__d"), lit(0.0)) / col("c1") +
          (col("__d") * col("n1p_fol") / col("c1")) *
            (col("n1p_pre") / col("n_types").cast("double")))).as("nll"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), avg("nll").as("xent_kn"))
  }

  /** Tokenizer-FERTILITY quality verdicts (the FineWeb-class
    * compression-ratio signal a REAL tokenizer enables): per-doc mean
    * subwords-per-word under a trained-BPE fertility relation `nSub`
    * (word, n_sub — [[Bpe.segmentFast]] output, vocabulary-grain).
    * Gibberish, wrong-alphabet and encoding-junk text tokenizes HARD
    * (every word shatters into pieces), so docs whose fertility lands
    * above the corpus `quantile` are flagged `kept = false`. Verdicts
    * for every doc with ≥ 1 word — the caller owns the drop, so the
    * signal composes with audit ledgers. Out-of-vocabulary words take
    * the fallback fertility `length(word)` (every char its own piece —
    * the byte-fallback convention), exactly like [[graft.streaming
    * .StreamOps.streamingFertilityVerdicts]]: verdicts stay total even
    * when `nSub` covers only part of the corpus vocabulary, and
    * batch≡stream holds unconditionally (ADVICE r10 — the previous
    * inner join silently dropped OOV words from BOTH numerator and
    * denominator and emitted no verdict for an all-OOV doc).
    *
    * Determinism/scale: fertility rounded to 4dp (+1e-7) BEFORE the
    * percentile, the q112 convention (Spark `percentile` ≡ DuckDB
    * `quantile_cont` on identical rounded inputs); one corpus-grain
    * aggregation + a vocabulary-grain fertility join + a broadcast
    * 1-row threshold — no corpus-keyed window anywhere. */
  def fertilityFilter(docs: DataFrame, nSub: DataFrame,
      quantile: Double = 0.9, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val scored = docs.select(col(id), explode(tokens(col(text))).as("word"))
      .groupBy(col(id), col("word")).agg(count(lit(1)).as("cnt"))
      .join(nSub.select(col("word"), col("n_sub")), Seq("word"), "left")
      .withColumn("n_sub",
        coalesce(col("n_sub"), length(col("word")).cast("long")))
      .groupBy(col(id))
      .agg(sum(col("cnt") * col("n_sub")).as("toks"),
        sum(col("cnt")).as("words"))
      .withColumn("fertility",
        round(col("toks").cast("double") / col("words") + 1e-7, 4))
      // the percentile aggregate and the verdict projection otherwise
      // re-run the whole scoring chain (no subplan sharing across the
      // crossJoin) — the q112 materialization
      .localCheckpoint(true)
    val thr = scored.agg(expr(s"percentile(fertility, $quantile)").as("__thr"))
    scored.crossJoin(broadcast(thr))
      .select(col(id), col("words"), col("toks"), col("fertility"),
        (col("fertility") <= col("__thr")).as("kept"))
  }

  def unigramCrossEntropy(docs: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val tok = docs.select(col(id), explode(tokens(col(text))).as("tk"))
    val freq = tok.groupBy(col("tk")).agg(count(lit(1)).as("tf"))
    val totals = freq.agg(sum("tf").as("n_total"), count(lit(1)).as("vocab"))
    tok.join(freq, Seq("tk")).crossJoin(broadcast(totals))
      .select(col(id),
        (-log((col("tf") + lit(1.0)) /
          (col("n_total") + col("vocab")).cast("double"))).as("nll"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"), avg("nll").as("xent"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023, arXiv:2302.03169): score every raw document by how much
    * more likely its hashed n-gram features are under the TARGET
    * distribution than under the raw corpus, then resample the top
    * `k` by importance via deterministic Gumbel keys.
    *
    * Features are the paper's: unigrams + bigrams of the engine
    * tokenizer, hashed into `16^hexChars` buckets (the bucket key is
    * an md5 hex prefix — the engine-portable hash family, so the
    * oracle replays bucketing bit-for-bit; the paper uses 10⁴
    * buckets, hexChars = 3 gives the same order). Per bucket b,
    * λ_b = ln p̂_target(b) − ln p̂_raw(b) with add-α smoothing over
    * the full bucket space; a document's log importance weight is
    * Σ λ_b over its feature occurrences (the bag-of-hashed-ngrams
    * likelihood ratio in log space).
    *
    * The paper samples without replacement with probability ∝ the
    * importance weight; the Gumbel-top-k trick makes that a
    * deterministic relational computation here: key = w + Gumbel(u),
    * u derived from `md5(seed#doc_id)` — reproducible, replayable,
    * and distributionally the paper's sampler.
    *
    * Scale shape: one tokenize pass fans out to features; the λ
    * relation is bucket-bounded (≤ 16^hexChars rows) and BROADCAST
    * back; per-doc weights are one map-side-combined aggregation;
    * selection is the bounded [[graft.functions.TopKPairs]] aggregate
    * (each map task keeps ≤ k candidates — no global sort, no
    * single-partition window). Zero-token documents keep weight 0 and
    * still compete through their Gumbel key.
    *
    * Returns (doc_id, n_feats, weight, gumbel_key, selected). */
  /** The DSIR feature stream: unigrams + bigrams of the engine
    * tokenizer as one array column (shared by [[dsirSelect]] and
    * [[graft.streaming.StreamOps]]'s stream-static scorer). */
  private[graft] def dsirFeatures(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val bigrams = when(nTok > lit(1),
      zip_with(slice(toks, lit(1), nTok - 1), slice(toks, lit(2), nTok - 1),
        (a, b) => concat(a, lit("_"), b)))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** md5-prefix feature bucket (engine-portable hashing). */
  private[graft] def dsirBucket(feature: Column, hexChars: Int): Column =
    substring(md5(feature), 1, hexChars)

  /** The fitted λ relation over the FULL 16^hexChars bucket space:
    * λ_b = ln p̂_target(b) − ln p̂_raw(b) with add-α smoothing.
    * Emitting every bucket (not just the observed ones) makes the
    * relation total, so a stream-static scorer gives unseen-in-
    * reference buckets exactly the smoothed prior instead of silently
    * dropping their features. Bucket-bounded — broadcast it. */
  private def lambdaFromCounts(counts: DataFrame, hexChars: Int,
      alpha: Double): DataFrame = {
    val spark = counts.sparkSession
    val nBuckets = math.pow(16.0, hexChars).toLong
    val observed = counts.groupBy("b")
      .agg(sum(when(col("__t"), col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr"))
    val space = spark.range(nBuckets)
      .select(format_string(s"%0${hexChars}x", col("id")).as("b"))
    val full = space.join(observed, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = full.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    full.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + lit(alpha)) / (col("tt") + lit(alpha * nBuckets))) -
          log((col("cr") + lit(alpha)) / (col("tr") + lit(alpha * nBuckets))))
          .as("lam"))
  }

  def dsirLambda(reference: DataFrame, isTarget: Column,
      hexChars: Int = 2, alpha: Double = 1.0,
      text: String = "text"): DataFrame =
    lambdaFromCounts(reference
      .select(isTarget.as("__t"), explode(dsirFeatures(col(text))).as("f"))
      .select(col("__t"), dsirBucket(col("f"), hexChars).as("b"))
      .groupBy("__t", "b").agg(count(lit(1)).as("c")), hexChars, alpha)

  def dsirSelect(docs: DataFrame, isTarget: Column, k: Int,
      hexChars: Int = 2, alpha: Double = 1.0, seed: Int = 29,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // ONE tokenize pass (the BM25 single-scan discipline): the cached
    // relation is per-(doc, bucket) feature counts — ≤ |docs|·16^hexChars
    // narrow rows — read by both the λ fit and the per-doc weights
    val docBucket = RelCache.hold("textretrieval.dsirSelect.docBucket", docs
      .select(col(id), isTarget.as("__t"), explode(dsirFeatures(col(text))).as("f"))
      .select(col(id), col("__t"), dsirBucket(col("f"), hexChars).as("b"))
      .groupBy(col(id), col("__t"), col("b")).agg(count(lit(1)).as("c")))
    val lam = lambdaFromCounts(docBucket, hexChars, alpha)
    val weights = docBucket.join(broadcast(lam), Seq("b"))
      .groupBy(col(id))
      .agg(sum("c").as("n_feats"), sum(col("c").cast("double") * col("lam")).as("weight"))
    // every input doc scores: zero-token docs carry weight 0
    val scored = docs.select(col(id)).join(weights, Seq(id), "left")
      .select(col(id), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight"), lit(0.0)).as("weight"))
    // Gumbel key on the catalog's rounded grid so the top-k boundary
    // replays across engines; u ∈ (0,1) from a 6-hex-digit md5 slice
    val u = (conv(substring(md5(concat_ws("#", lit(seed),
      col(id).cast("string"))), 1, 6), 16, 10).cast("double") + 0.5) /
      lit(16777216.0)
    val keyed = scored.withColumn("gumbel_key",
      round(col("weight") - log(-log(u)) + lit(1e-9), 6))
    val top = keyed
      .agg(top_k_pairs(col("gumbel_key"), col(id).cast("long"), k).as("tk"))
      .select(explode(col("tk")).as("p"))
      .select(col("p.id").as(id), lit(true).as("__sel"))
    keyed.join(broadcast(top), Seq(id), "left")
      .select(col(id), col("n_feats"), col("weight"), col("gumbel_key"),
        coalesce(col("__sel"), lit(false)).as("selected"))
  }

  /** Model-based quality classifier — the "quality filtering with a
    * trained classifier" stage of the GPT-3 / LLaMA curation recipes
    * (Brown et al. 2020 §A: a linear classifier over hashed text
    * features scoring documents by similarity to a curated positive
    * set). The model is multinomial Naive Bayes over the SAME hashed
    * unigram+bigram buckets DSIR uses — a generative LINEAR
    * classifier (score = σ(bias + Σ c_b·w_b)) whose training is one
    * closed-form aggregation pass: w_b = ln p̂(b|pos) − ln p̂(b|neg)
    * with add-α smoothing, bias = the class-prior log odds. Chosen
    * over iterative logistic GD deliberately: the fit replays in the
    * oracle as plain relational algebra (no convergence question, no
    * learning-rate tuning), and NB is the classical strong baseline
    * for exactly this hashed-bag-of-ngrams regime.
    *
    * One tokenize pass; the per-(doc, bucket) count relation is
    * persisted and read twice (class-conditional counts; per-doc
    * scoring). The weight relation is bucket-bounded
    * (≤ 16^hexChars rows) and broadcast — corpus size never touches
    * driver state.
    *
    * Returns (doc_id, n_feats, score = posterior P(pos|doc),
    * predicted) for every input document; the decision boundary
    * compares the 6-dp rounded score so it replays across engines.
    *
    * This is the SELF-TRAIN single-scan form (fit and score share one
    * persisted bucket-count relation). For a train/held-out split use
    * [[qualityClassifierFit]] + [[qualityClassifierApply]]. */
  def qualityClassifierScores(docs: DataFrame, isPositive: Column,
      alpha: Double = 1.0, hexChars: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val nBuckets = math.pow(16.0, hexChars)
    val docBucket = RelCache.hold("textretrieval.qualityClassifierScores.docBucket", docs
      .select(col(id), isPositive.cast("boolean").as("__y"),
        explode(dsirFeatures(col(text))).as("f"))
      .select(col(id), col("__y"), dsirBucket(col("f"), hexChars).as("b"))
      .groupBy(col(id), col("__y"), col("b")).agg(count(lit(1)).as("c")))
    val classCounts = docBucket.groupBy("b")
      .agg(sum(when(col("__y"), col("c")).otherwise(0L)).as("cp"),
        sum(when(!col("__y"), col("c")).otherwise(0L)).as("cn"))
    val totals = classCounts.agg(sum("cp").as("tp"), sum("cn").as("tn"))
    val w = classCounts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("cp") + lit(alpha)) / (col("tp") + lit(alpha * nBuckets))) -
          log((col("cn") + lit(alpha)) / (col("tn") + lit(alpha * nBuckets))))
          .as("w"))
    val prior = docs.agg(
      sum(isPositive.cast("boolean").cast("long")).as("np"),
      count(lit(1)).as("n"))
      .select((log(col("np") + 1L) - log(col("n") - col("np") + 1L)).as("bias"))
    nbScore(docBucket.select(col(id), col("b"), col("c")),
      docs.select(col(id)), w, prior, id)
  }

  /** Naive-Bayes fit on a TRAINING corpus, returning the model as two
    * bounded relations: (weights over the TOTAL 16^hexChars bucket
    * space, 1-row prior log-odds bias). Emitting every bucket — not
    * just the observed ones — makes the weight relation total, so a
    * held-out or stream-side apply gives unseen-in-train buckets
    * exactly the smoothed prior ln((α)/(tp+αB)) − ln((α)/(tn+αB))
    * instead of silently dropping their features (the [[dsirLambda]]
    * totality rule). Both relations are bucket-bounded — broadcast
    * them at apply time; corpus size never touches driver state. */
  def qualityClassifierFit(train: DataFrame, isPositive: Column,
      alpha: Double = 1.0, hexChars: Int = 3,
      text: String = "text"): (DataFrame, DataFrame) = {
    val spark = train.sparkSession
    val nBuckets = math.pow(16.0, hexChars)
    val observed = train
      .select(isPositive.cast("boolean").as("__y"),
        explode(dsirFeatures(col(text))).as("f"))
      .select(col("__y"), dsirBucket(col("f"), hexChars).as("b"))
      .groupBy("__y", "b").agg(count(lit(1)).as("c"))
      .groupBy("b")
      .agg(sum(when(col("__y"), col("c")).otherwise(0L)).as("cp"),
        sum(when(!col("__y"), col("c")).otherwise(0L)).as("cn"))
    val space = spark.range(nBuckets.toLong)
      .select(format_string(s"%0${hexChars}x", col("id")).as("b"))
    val full = space.join(observed, Seq("b"), "left")
      .select(col("b"), coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val totals = full.agg(sum("cp").as("tp"), sum("cn").as("tn"))
    val w = full.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("cp") + lit(alpha)) / (col("tp") + lit(alpha * nBuckets))) -
          log((col("cn") + lit(alpha)) / (col("tn") + lit(alpha * nBuckets))))
          .as("w"))
    val prior = train.agg(
      sum(isPositive.cast("boolean").cast("long")).as("np"),
      count(lit(1)).as("n"))
      .select((log(col("np") + 1L) - log(col("n") - col("np") + 1L)).as("bias"))
    (w, prior)
  }

  /** Apply a [[qualityClassifierFit]] model to a (possibly held-out)
    * corpus: one tokenize pass, bucket counts joined against the
    * broadcast total weight relation, sigmoid score + 0.5 decision on
    * the 6-dp rounded grid. Zero-token documents score the prior
    * alone. Returns (id, n_feats, score, predicted). */
  def qualityClassifierApply(docs: DataFrame, weights: DataFrame,
      prior: DataFrame, hexChars: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val docBucket = docs
      .select(col(id), explode(dsirFeatures(col(text))).as("f"))
      .select(col(id), dsirBucket(col("f"), hexChars).as("b"))
      .groupBy(col(id), col("b")).agg(count(lit(1)).as("c"))
    nbScore(docBucket, docs.select(col(id)), weights, prior, id)
  }

  /** The shared NB scoring tail ([[qualityClassifierScores]],
    * [[qualityClassifierApply]]): per-doc weight sums against the
    * broadcast weight relation, the σ(s0 + bias) posterior on the
    * 6-dp + 1e-9 cross-engine rounding grid (the grid lives HERE and
    * in the oracle SQL only), prior-alone fallback for docs with no
    * features. `bucketCounts` = (id, b, c); `universe` = every id
    * that must emit a row. */
  /** CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC): score every PARAGRAPH by cross-entropy under a
    * REFERENCE language model fit on `lmRef` (CCNet uses a
    * wiki-trained KenLM; here the add-one unigram family of
    * [[unigramCrossEntropy]] — the difference from q109/q112 is that
    * the LM is a held-out reference, so unseen tokens score the
    * smoothed floor instead of shifting the model), aggregate to a
    * length-weighted document score, then split each LANGUAGE into
    * head / middle / tail by the per-language tercile thresholds —
    * CCNet's quality partition (head = lowest perplexity).
    *
    * Scale shape: the reference LM is a token-type-grain relation
    * joined onto one corpus tokenize pass (left join: unseen tokens
    * keep the floor); paragraph and document scores are keyed
    * aggregations; the per-language thresholds relation is
    * language-bounded and broadcast. The percentile runs over scores
    * ROUNDED to 4dp (the q112 convention — Spark `percentile` ≡
    * DuckDB `quantile_cont` on identical inputs).
    *
    * Returns (id, lang, n_paras, n_tokens, xent, bucket); documents
    * with no tokens are absent (they have no LM evidence). */
  /** The reference-LM fit shared by [[ccnetBuckets]] and the
    * stream-side apply ([[graft.streaming.StreamOps
    * .streamingCcnetBuckets]]): add-one unigram frequencies over the
    * reference corpus plus the (n_total, vocab) scalars. Factored so
    * the batch and streaming scorers cannot drift. */
  def unigramLmFit(lmRef: DataFrame, text: String = "text"): (DataFrame, Long, Long) = {
    val freq = lmRef.select(explode(tokens(col(text))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("tf"))
    val t = freq.agg(sum("tf").as("n_total"), count(lit(1)).as("vocab")).head()
    (freq, t.getLong(0), t.getLong(1))
  }

  def ccnetBuckets(docs: DataFrame, lmRef: DataFrame,
      langCol: String = "lang", sep: String = "\n",
      headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val (freq, nTotal, vocab) = unigramLmFit(lmRef, text)
    ccnetBucketsWithLm(docs, freq, nTotal, vocab, langCol, sep,
      headFrac, midFrac, id, text)
  }

  /** [[ccnetBuckets]] against a PREFIT reference LM (the
    * [[unigramLmFit]] relation + scalars, typically re-read from an
    * at-rest warehouse table) — the apply-only form: a curation run
    * scores against the stored model and never re-fits (the
    * q141/q143 artifact pattern for the reference LM). Threshold
    * FITTING stays per-corpus by design — the terciles are a property
    * of the corpus being partitioned, not of the model. */
  def ccnetBucketsWithLm(docs: DataFrame, freq: DataFrame,
      nTotal: Long, vocab: Long,
      langCol: String = "lang", sep: String = "\n",
      headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val para = docs.select(col(id), col(langCol).as("lang"),
      posexplode(split(col(text), java.util.regex.Pattern.quote(sep)))
        .as(Seq("ppos", "para")))
    val ptok = para.select(col(id), col("lang"), col("ppos"),
      explode(tokens(col("para"))).as("tk"))
    val scored = ptok.join(freq, Seq("tk"), "left")
      .withColumn("nll", -log((coalesce(col("tf"), lit(0L)) + lit(1.0)) /
        lit((nTotal + vocab).toDouble)))
    val paraScores = scored.groupBy(col(id), col("lang"), col("ppos"))
      .agg(count(lit(1)).as("p_tokens"), sum("nll").as("p_nll"))
    // CCNet's doc score: length-weighted paragraph perplexity =
    // token-mass-weighted mean
    val docScores = paraScores.groupBy(col(id), col("lang"))
      .agg(count(lit(1)).as("n_paras"), sum("p_tokens").as("n_tokens"),
        round(sum("p_nll") / sum("p_tokens") + lit(1e-7), 4).as("xent"))
      // materialized once: the threshold aggregate and the bucket join
      // both read it, and Spark shares no subplan across the join —
      // without this the whole scoring chain runs twice (the q112
      // lesson)
      .localCheckpoint(true)
    val th = docScores.groupBy("lang").agg(
      expr(s"percentile(xent, $headFrac)").as("t_head"),
      expr(s"percentile(xent, ${headFrac + midFrac})").as("t_mid"))
    docScores.join(broadcast(th), Seq("lang"))
      .withColumn("bucket", when(col("xent") <= col("t_head"), "head")
        .when(col("xent") <= col("t_mid"), "middle").otherwise("tail"))
      .select(col(id), col("lang"), col("n_paras"), col("n_tokens"),
        col("xent"), col("bucket"))
  }

  private def nbScore(bucketCounts: DataFrame, universe: DataFrame,
      weights: DataFrame, prior: DataFrame, id: String): DataFrame = {
    val scored = bucketCounts.join(broadcast(weights), Seq("b"))
      .groupBy(col(id))
      .agg(sum("c").as("n_feats"),
        sum(col("c").cast("double") * col("w")).as("__s0"))
      .crossJoin(broadcast(prior))
      .select(col(id), col("n_feats"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("__s0") + col("bias")))) +
          lit(1e-9), 6).as("score"))
    // zero-token docs score the prior alone
    universe.join(scored, Seq(id), "left")
      .crossJoin(broadcast(prior))
      .select(col(id), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score"),
          round(lit(1.0) / (lit(1.0) + exp(-col("bias"))) + lit(1e-9), 6))
          .as("score"))
      .withColumn("predicted", col("score") >= 0.5)
  }
}
