package graft.operators

import graft.functions.BloomContains
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication — the training-data-pipeline operators of
  * the brief: exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is a
  * hash groupBy; MinHash/SimHash bucket candidates through an
  * explode→shuffle on band/bucket keys so the pair space is bounded by
  * bucket co-membership; the Jaccard verify joins only candidate
  * pairs. All hashing is codegen'd column algebra (see
  * [[graft.functions.TextFunctions]]).
  */
object TextDedup {

  /** Exact dedup on a content hash: keep the lowest id per fingerprint
    * group.
    *
    * Keep-first is `min_by` AGGREGATION, not a `row_number` window: a
    * window partitioned by the fingerprint sorts every copy of a viral
    * document in ONE task — the hot key IS the target data of a dedup
    * pass. `min_by` partial-aggregates (map-side combine keeps one
    * candidate row per fingerprint per partition), so a key with 10⁶
    * copies costs each task one row, never a single-task sort. */
  def exactDedup(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.withColumn("__fp", fingerprint(col(text)))
      .groupBy(col("__fp"))
      .agg(min_by(struct(docs.columns.map(col): _*), col(id)).as("__w"))
      .select(col("__w.*"))

  /** INCREMENTAL exact dedup — drop incoming documents whose content
    * fingerprint already exists in a reference corpus (the
    * new-crawl-against-previous-crawls stage every growing corpus
    * needs). Result is EXACTLY the anti-join of `docs` against
    * `refFp` on the fingerprint; the Bloom filter only prunes.
    *
    * Scale shape: the reference fingerprints fold into one driver
    * Bloom sketch (`stat.bloomFilter` — a treeAggregate; the sketch,
    * not the corpus, is the only driver-sized object). Bloom-NEGATIVE
    * docs — the overwhelming majority of a mostly-fresh crawl — exit
    * through a pure codegen filter ([[graft.functions.BloomContains]],
    * a plan-constant probe: zero shuffle, zero join). Only
    * bloom-POSITIVES (true dups + `fpp` of the clean mass) pay the
    * exact confirm anti-join, so the join shuffle carries ~duplicate
    * volume, not corpus volume. The `fpp` knob trades sketch bytes
    * against confirm-join traffic and never changes the answer. At
    * true corpus scale pass `expectedItems` (estimated reference
    * cardinality) to skip the sizing count job, and keep the
    * reference fingerprint relation bucketed by fingerprint so the
    * confirm join co-locates. */
  def dedupAgainstReference(docs: DataFrame, refFp: DataFrame,
      fpCol: String = "fp", text: String = "text",
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val withFp = docs.withColumn("__fp", fingerprint(col(text)))
    val n = if (expectedItems > 0L) expectedItems
            else math.max(refFp.count(), 1L)
    val bf = refFp.select(xxhash64(col(fpCol)).as("__k"))
      .stat.bloomFilter("__k", n, fpp)
    val maybeDup = BloomContains.bloomContains(xxhash64(col("__fp")), bf)
    val clean = withFp.filter(!maybeDup)
    val confirmed = withFp.filter(maybeDup)
      .join(refFp.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
    clean.unionByName(confirmed).drop("__fp")
  }

  /** Incremental NEAR-dup dedup of a new crawl against a frozen
    * reference corpus — the banded-MinHash counterpart of
    * [[dedupAgainstReference]] (which is exact-fingerprint only): an
    * incoming document is dropped when any reference document shares
    * an LSH band with it AND the exact shingle-Jaccard verify meets
    * `minJaccard`. Keeps every other incoming document.
    *
    * Scale shape: the reference side reduces to its (id, band)
    * signature rows and (id, shingle) verify rows — both derivable
    * ONCE per reference snapshot and storable at rest bucketed by
    * band/shingle (the at-rest near-dup index; the candidate and
    * verify joins then co-locate with zero reference-side shuffle per
    * crawl). Candidates are band-key equi-joins (never all-pairs);
    * the verify join touches only candidate pairs' shingles; the
    * final drop is one left_anti on incoming ids. `dfCap` bounds
    * viral-shingle fan-out exactly as in [[minhashLshPairs]].
    *
    * Lifecycle: both shingle relations are persisted (each feeds
    * several plan branches) as [[graft.model.RelCache]] holds, which
    * live until the calling query's scope exits (outside a scope,
    * until the session sweep [[graft.SparkEntry.clearQueryCaches]]). */
  def nearDupAgainstReference(incoming: DataFrame, reference: DataFrame,
      minJaccard: Double = 0.5, k: Int = 8, bands: Int = 4,
      shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): DataFrame = {
    val (refBands, refShingles) =
      nearDupIndex(reference, k, bands, shingleWidth, md5Hashes, id, text, dfCap)
    nearDupAgainstIndex(incoming, refBands, refShingles, minJaccard,
      k, bands, shingleWidth, md5Hashes, id, text, dfCap)
  }

  /** The at-rest reference near-dup INDEX: (id, band) MinHash
    * signature rows and (id, shingle) verify rows, derived ONCE per
    * reference snapshot. Store them bucketed by `band` / shingle and
    * every incremental crawl joins against them co-located with zero
    * reference-side shuffle (`Plans bucketed_neardup_demo` proves the
    * exchange count). Returns (bandRelation, shingleRelation). */
  def nearDupIndex(reference: DataFrame, k: Int = 8, bands: Int = 4,
      shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into bands")
    val shRef = capShingleDf(shingleRows(reference, shingleWidth, id, text), dfCap)
    graft.model.RelCache.hold("textdedup.nearDupIndex", shRef)
    (bandRows(shRef, k, bands, md5Hashes, id), shRef)
  }

  /** [[nearDupAgainstReference]] against a PRECOMPUTED reference index
    * (the [[nearDupIndex]] relations, typically re-read from their
    * bucketed at-rest tables). */
  def nearDupAgainstIndex(incoming: DataFrame, refBands: DataFrame,
      refShingles: DataFrame, minJaccard: Double = 0.5, k: Int = 8,
      bands: Int = 4, shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // the zero-shared-shingle shortcut below (inner verify joins) is
    // only equivalent to the contract for a strictly positive cutoff
    require(minJaccard > 0.0, "minJaccard must be > 0")
    val shInc = capShingleDf(shingleRows(incoming, shingleWidth, id, text), dfCap)
    graft.model.RelCache.hold("textdedup.nearDupAgainstIndex", shInc)
    // the INCOMING side's shingle count rides its signature
    // aggregation and the candidate join ([[bandRowsSized]], round
    // 17) — one size aggregation + one pair-volume join saved; the
    // reference side keeps its at-rest (id, band)/(id, shingle)
    // schema, so its size aggregation and join stay
    val cand = bandRowsSized(shInc, k, bands, md5Hashes, id)
      .select(col("band"), col(id).as("inc_id"), col("__sz").as("sz_a"))
      .join(refBands.select(col("band"), col(id).as("ref_id")), Seq("band"))
      .select("inc_id", "ref_id", "sz_a").distinct()
    val inter = cand
      .join(shInc.select(col(id).as("inc_id"), col("s")), Seq("inc_id"))
      .join(refShingles.select(col(id).as("ref_id"), col("s")), Seq("ref_id", "s"))
      .groupBy("inc_id", "ref_id", "sz_a").agg(count(lit(1)).as("inter"))
    val szRef = refShingles.groupBy(col(id)).agg(count(lit(1)).as("sz_b"))
    // band collisions with zero shared shingles never reach `inter`
    // (inner joins) — they are exactly the pairs that cannot pass any
    // positive minJaccard, so no left-join backfill is needed
    val dup = inter
      .join(szRef.withColumnRenamed(id, "ref_id"), Seq("ref_id"))
      .filter(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")) >= minJaccard)
      .select(col("inc_id").as(id)).distinct()
    incoming.join(dup, Seq(id), "left_anti")
  }

  /** Index MAINTENANCE — the missing third verb of the incremental
    * near-dup lifecycle (build: [[nearDupIndex]]; query:
    * [[nearDupAgainstIndex]]; UPSERT: this): the next-generation
    * index after a crawl, i.e. the generation-N band/shingle
    * relations plus the rows of the crawl docs that SURVIVED the
    * check against generation N. The production crawl loop is
    * check → accept → upsert → next crawl checks against the grown
    * index, so near-dups of PREVIOUSLY-ACCEPTED crawl docs (not just
    * of the original reference snapshot) are caught — a frozen index
    * silently re-admits them forever.
    *
    * Scale shape: the accepted batch pays one shingle/band
    * derivation (its own size, never the index's); the union is
    * APPEND-ONLY — at rest this is writing the new generation's
    * band/shingle files into the existing bucketed tables
    * (`.insertInto` on the band / shingle buckets), so no existing
    * index row is ever rewritten or shuffled. Hash-family,
    * (k, bands, shingleWidth) AND `dfCap` must match the index being
    * grown — same contract as [[nearDupAgainstIndex]], plus the cap:
    * growing an index built under a finite dfCap with a different
    * cap silently mixes capped and uncapped shingle relations across
    * generations, changing band/verify sets (ADVICE r10). Production
    * stores all five alongside the index artifacts, exactly like the
    * hash family. */
  def nearDupIndexUpsert(refBands: DataFrame, refShingles: DataFrame,
      accepted: DataFrame, k: Int = 8, bands: Int = 4,
      shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into bands")
    val shAcc = capShingleDf(shingleRows(accepted, shingleWidth, id, text), dfCap)
    graft.model.RelCache.hold("textdedup.nearDupIndexUpsert", shAcc)
    (refBands.unionByName(bandRows(shAcc, k, bands, md5Hashes, id)),
      refShingles.unionByName(shAcc))
  }

  /** Index DELETION — the fourth lifecycle verb (build:
    * [[nearDupIndex]]; query: [[nearDupAgainstIndex]]; upsert:
    * [[nearDupIndexUpsert]]; DELETE: this), the takedown path a
    * production corpus cannot skip: a removal request (copyright,
    * privacy, retraction) must expunge a document's band and shingle
    * rows from the index, so FUTURE crawls containing near-copies of
    * the removed document are admitted again — the index must forget,
    * not just the corpus. Two keyed left_anti joins on the doc id;
    * the deleted index is EXACTLY the index built without the removed
    * documents (both relations are row-wise per-doc derivations, so
    * anti-join ≡ rebuild-without — q164 gates that identity). One
    * caveat: under a finite build-time `dfCap` the identity is
    * approximate — the cap's df counts included the removed docs'
    * shingles — so a capped index re-caps at the next compaction,
    * exactly like generation drift in [[nearDupIndexUpsert]].
    *
    * Scale shape: `removeIds` is takedown-batch-sized; the anti-joins
    * key on the id. At rest this is a tombstone write: the bucketed
    * band/shingle tables rewrite only the files containing the
    * removed ids' rows (id-bucketed layouts localize them), or keep a
    * tombstone relation that serving anti-joins until the next
    * compaction — either way never a full-index shuffle. */
  def nearDupIndexDelete(refBands: DataFrame, refShingles: DataFrame,
      removeIds: DataFrame, id: String = "doc_id"): (DataFrame, DataFrame) = {
    val rm = removeIds.select(col(id)).distinct()
    (refBands.join(rm, Seq(id), "left_anti"),
      refShingles.join(rm, Seq(id), "left_anti"))
  }

  /** Index COMPACTION — the fifth lifecycle verb on the near-dup
    * family (build / query / upsert / delete / COMPACT), the
    * generation rewrite the delete docs promise: re-apply the df cap
    * over the POST-DELETE shingle relation and re-derive the band
    * signatures from the re-capped rows. Returns (bands, shingles) ≡
    * [[nearDupIndex]] built fresh on the surviving documents with the
    * same `dfCap` (q170 gates the identity) — the signatures MUST be
    * re-derived, not carried: capping changes each doc's shingle set,
    * hence its MinHash minima and band keys.
    *
    * Exactness: exact when the stored relation is UNCAPPED (the
    * build default — cap at serve/compact time); compacting an index
    * built under a finite cap is downward-only, because rows the old
    * cap dropped cannot be resurrected from the index alone — that
    * case is a rebuild from the surviving documents, by construction.
    *
    * Scale shape: one pass over the index relation (a window count on
    * the shingle key — the same key the relation is bucketed by at
    * rest, so no extra exchange) plus the signature re-aggregation;
    * never touches document text. At rest this is the tombstone
    * drain: rewrite the bucketed shingle/band tables from the
    * compacted relations and drop the tombstone relation — the
    * ScaleProbe `compact` row walls this rewrite against a fresh
    * text-winnowing rebuild. */
  def nearDupIndexCompact(refShingles: DataFrame, k: Int = 8,
      bands: Int = 4, md5Hashes: Boolean = false, id: String = "doc_id",
      dfCap: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into bands")
    val sh2 = capShingleDf(refShingles, dfCap)
    graft.model.RelCache.hold("textdedup.nearDupIndexCompact", sh2)
    (bandRows(sh2, k, bands, md5Hashes, id), sh2)
  }

  /** PARAGRAPH-grain exact dedup — the Dolma/RefinedWeb curation stage
    * between whole-document dedup and near-dup: boilerplate paragraphs
    * (headers, licence blocks, navigation) repeat across millions of
    * otherwise-distinct pages. Documents split on `sep`; every
    * occurrence of a paragraph except the FIRST (ordered by (doc id,
    * position) — deterministic keep-first) is dropped; survivors
    * reassemble in original order. Documents that lose every paragraph
    * survive with empty text — the length/quality stage downstream
    * owns the drop decision.
    *
    * Scale shape: one read of `docs`, two keyed aggregations, no
    * join-back. Each document explodes to a SENTINEL row at position 0,
    * which carries the document's non-text columns as one struct (null
    * on every paragraph row), plus one row per non-empty paragraph
    * (empty paragraphs from consecutive separators are dropped, so
    * they cannot become a viral dedup key). The first aggregation is
    * keyed by the paragraph, or by the doc id for a sentinel: its
    * keep-first winner `min(struct(id, pos))` is partial-
    * aggregatable (map-side combine reduces each paragraph to ONE
    * candidate row per task), so a viral boilerplate paragraph with
    * 10⁶ copies — the exact thing this operator exists to remove —
    * costs each task one row, and the sentinels of one id collect into
    * one list. The second aggregation, keyed by doc id, reassembles the
    * winning paragraphs in position order (one interpreted array
    * transform per DOC row, far off the gram-fan-out hot path where
    * HOFs are banned) next to that list, which explodes back to one
    * output row per input row. So duplicate ids keep every row, each
    * with the union of their winning paragraphs, and a null id keeps
    * its rows with empty text while its paragraphs still win, as the
    * join-back form (`SpecReferences.paragraphDedupJoined`) gives.
    * Output columns: `id`, the other columns in input order, `text`.
    * The paragraph aggregation is also the stateful-streaming shape
    * (one state row per paragraph — [[graft.streaming.StreamOps]]). */
  def paragraphDedup(docs: DataFrame, sep: String = "\n", id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val rest = docs.columns.filterNot(_ == text)
    val meta = struct(rest.map(col).toSeq: _*)
    val rows = docs
      .select(col(id), meta.as("__m"), posexplode(concat(array(lit(null).cast("string")),
        coalesce(split(col(text), java.util.regex.Pattern.quote(sep)),
          array().cast("array<string>")))).as(Seq("pos", "para")))
      .filter(col("pos") === 0 || length(col("para")) > 0)
      .select(col("para"), when(col("pos") === 0, col(id)).as("__sid"),
        when(col("pos") > 0, struct(col(id), col("pos"))).as("__p"),
        when(col("pos") === 0, col("__m")).as("__m"))
    // min over struct = lexicographic (id asc, pos asc): deterministic
    // keep-first, with a null id first as in any ascending order
    val keep = rows.groupBy(col("para"), col("__sid"))
      .agg(min(col("__p")).as("__w"), collect_list(col("__m")).as("__ms"))
    val byDoc = keep
      .select(when(col("para").isNull, col("__sid")).otherwise(col("__w")(id)).as("__id"),
        when(col("para").isNotNull, struct(col("__w")("pos"), col("para"))).as("__p"),
        when(col("para").isNull, col("__ms")).as("__ms"))
      .groupBy(col("__id"))
      .agg(collect_list(col("__p")).as("__ps"), first(col("__ms"), ignoreNulls = true).as("__ms"))
    val rebuilt = array_join(
      transform(array_sort(col("__ps")), p => p("para")), sep)
    byDoc
      .select(explode(col("__ms")).as("__m"),
        coalesce(when(col("__id").isNotNull, rebuilt), lit("")).as(text))
      .select(((id +: rest.filterNot(_ == id)).map(c => col("__m")(c).as(c)) :+
        col(text)).toSeq: _*)
  }

  /** Deterministic per-key quota sampling — the domain/language
    * BALANCING stage of a corpus pass (cap documents per source
    * domain, per language, per shard …). Documents rank within their
    * key by a seeded hash of their id (a deterministic shuffle — no
    * RNG state, reproducible across runs and cluster sizes, the
    * permutation-FDR idiom) and only the first `cap` survive.
    *
    * TWO-STAGE cap, so a mega-domain key (the exact thing a balancing
    * pass exists to cap) never sorts all its documents in one task:
    * stage 1 windows over (key, salt) — the id-hash salt splits a hot
    * key across `saltBuckets` bounded sorts and keeps each bucket's
    * `cap` lowest-ranked docs, a provable superset of the global
    * winners; stage 2 re-runs the per-key window over the ≤
    * cap×saltBuckets survivors. Both stages order by the same (rank
    * hash, id), so the final survivor set is IDENTICAL to the
    * single-window form — deterministic across runs, cluster sizes,
    * and salt bucket counts. */
  def capPerKey(docs: DataFrame, keyCol: String, cap: Int, seed: Int = 0,
      id: String = "doc_id", md5Hashes: Boolean = false,
      saltBuckets: Int = 32): DataFrame = {
    // md5 is the engine-portable hash family (oracle SQL reproduces
    // it); xxhash64 is the production path — the permutationLabels
    // convention
    val h =
      if (md5Hashes) md5(concat_ws("#", lit(seed), col(id)))
      else xxhash64(col(id), lit(seed)).cast("string")
    // salt from a DIFFERENT hash stream than the rank (seeded off-key)
    // so bucket membership and within-bucket rank are independent
    val salt = pmod(xxhash64(col(id), lit(seed.toLong ^ 0x5bd1e995L)),
      lit(saltBuckets.toLong))
    val w1 = Window.partitionBy(col(keyCol), salt).orderBy(h.asc, col(id).asc)
    val survivors = docs.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= cap).drop("__rn")
    val w2 = Window.partitionBy(col(keyCol)).orderBy(h.asc, col(id).asc)
    survivors.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  /** Deterministic per-key TOKEN-budget sampling — the data-MIXING
    * stage of a corpus pass: training mixes are balanced by token
    * count, not document count (cap each domain/language/source at a
    * token budget). Documents rank within their key by the same
    * seeded-hash shuffle as [[capPerKey]] and survive while the
    * running (inclusive) token total stays within `budget` — the
    * greedy prefix under the budget, reproducible across runs and
    * cluster sizes.
    *
    * Same TWO-STAGE skew shape as [[capPerKey]]: the bucket-local
    * running total at a document is never more than its global running
    * total (the bucket's predecessors are a subset of the global
    * predecessors and token counts are non-negative), so every global
    * survivor survives its bucket — stage 1 is a provable superset and
    * a mega-key never sorts all its documents in one task. Stage 2
    * re-runs the exact prefix sum over the survivors. */
  def capTokensPerKey(docs: DataFrame, keyCol: String, tokenCol: String,
      budget: Long, seed: Int = 0, id: String = "doc_id",
      md5Hashes: Boolean = false, saltBuckets: Int = 32): DataFrame = {
    val h =
      if (md5Hashes) md5(concat_ws("#", lit(seed), col(id)))
      else xxhash64(col(id), lit(seed)).cast("string")
    val salt = pmod(xxhash64(col(id), lit(seed.toLong ^ 0x5bd1e995L)),
      lit(saltBuckets.toLong))
    val w1 = Window.partitionBy(col(keyCol), salt).orderBy(h.asc, col(id).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val survivors = docs.withColumn("__ct", sum(col(tokenCol)).over(w1))
      .filter(col("__ct") <= budget).drop("__ct")
    val w2 = Window.partitionBy(col(keyCol)).orderBy(h.asc, col(id).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors.withColumn("__ct", sum(col(tokenCol)).over(w2))
      .filter(col("__ct") <= budget).drop("__ct")
  }

  /** Deterministic per-key RATE sampling — the third leg of the
    * balancing family ([[capPerKey]] caps counts, [[capTokensPerKey]]
    * caps tokens; this applies per-key MIXING WEIGHTS): each key
    * carries a sampling rate expressed as a lowercase-hex md5
    * THRESHOLD prefix (e.g. "4" keeps ~1/4, "28" keeps ~10/64 — rate =
    * prefix value / 16^len), and a document survives iff
    * `md5(seed#id) < threshold` lexicographically. Hex-string order is
    * value order, so the comparison is an exact Bernoulli(rate) on the
    * uniform hash — deterministic, engine-portable (any SQL engine
    * with md5 replays it bit-for-bit), reproducible across runs and
    * cluster sizes, and ZERO-shuffle: one broadcast join against the
    * key-grain rates relation and a codegen filter. `rates` columns:
    * (keyCol, threshold). Keys absent from `rates` keep everything. */
  def sampleByRate(docs: DataFrame, keyCol: String, rates: DataFrame,
      seed: Int = 0, id: String = "doc_id"): DataFrame = {
    val h = md5(concat_ws("#", lit(seed), col(id)))
    docs.join(broadcast(rates.select(col(keyCol), col("threshold"))),
        Seq(keyCol), "left")
      .filter(col("threshold").isNull || h < col("threshold"))
      .drop("threshold")
  }

  /** Temperature-scaled MIXTURE WEIGHTS — the step that DECIDES the
    * per-key rates the balancing family applies: given per-key token
    * masses c_k, the α-temperature distribution weights each key
    * share_k^α / Σ share^α (α = 1 keeps natural proportions, α → 0
    * flattens toward uniform — the standard multilingual /
    * multi-source rebalancing knob), then converts a total token
    * budget into per-key budgets and sampling rates (capped at 1 —
    * upsampling is a repeat-epochs decision, not a sampling one).
    *
    * Scale shape: ONE map-side-combine aggregation over the corpus to
    * key grain; everything after runs on the tiny key-grain relation
    * (two scalar jobs for the normalizers — total tokens and Σ
    * share^α — mirroring the broadcast-scalar pattern the chains
    * use). Outputs round with the 1e-9/6dp convention so `pow` ulp
    * differences between engines can't leak; budgets derive from the
    * ROUNDED weight so both engines quantize identically. The result
    * feeds [[capTokensPerKey]] (budget_toks) or — converted to hex
    * thresholds — [[sampleByRate]].
    *
    * Output: (keyCol, toks, share, weight, budget_toks, rate). */
  def mixtureWeights(docs: DataFrame, keyCol: String, tokenCol: String,
      alpha: Double, totalBudget: Long): DataFrame = {
    val perKey = docs.groupBy(col(keyCol)).agg(sum(col(tokenCol)).as("toks"))
    val total = perKey.agg(sum(col("toks"))).head().getLong(0).toDouble
    val p = perKey.withColumn("__share", col("toks") / total)
      .withColumn("__pa", pow(col("__share"), alpha))
    val z = p.agg(sum(col("__pa"))).head().getDouble(0)
    val w6 = round(col("__pa") / z + 1e-9, 6)
    val budget = round(w6 * totalBudget + 1e-6, 0).cast("long")
    p.select(col(keyCol), col("toks"),
      round(col("__share") + 1e-9, 6).as("share"), w6.as("weight"),
      budget.as("budget_toks"),
      round(least(lit(1.0), budget.cast("double") / col("toks")) + 1e-9, 6)
        .as("rate"))
  }

  /** [[mixtureWeights]] rates → the md5-threshold prefixes
    * [[sampleByRate]] consumes — closing the loop between the op that
    * DERIVES a mix and the machinery that APPLIES one. Rates quantize
    * to n/4096 (three hex digits — the exact-Bernoulli contract:
    * `md5 < threshold` keeps the first n of every 4096 hash values);
    * rate ≥ 1 maps to a NULL threshold, which sampleByRate treats as
    * keep-everything. The quantization happens on the ROUNDED rate,
    * so both engines pick identical thresholds. */
  def rateThresholds(weights: DataFrame, keyCol: String): DataFrame =
    weights.select(col(keyCol),
      when(col("rate") >= 1.0, lit(null).cast("string"))
        .otherwise(lpad(lower(hex(floor(col("rate") * 4096 + 1e-9)
          .cast("long"))), 3, "0")).as("threshold"))

  /** Token-window CHUNKING — the context-window prep step of a
    * training pipeline: split each document into `chunkTokens`-token
    * chunks advancing by `stride` tokens (stride < chunkTokens gives
    * the standard overlapping windows; stride = chunkTokens, the
    * default, tiles without overlap). Trailing partial chunks are
    * kept — `n_tokens` lets the caller drop them.
    *
    * Relational and skew-safe: tokens explode once, each token emits
    * its ≤ ⌈chunk/stride⌉ window memberships via a codegen `sequence`
    * (k spans max(0, ⌈(pos−chunk+1)/stride⌉) … ⌊pos/stride⌋), and
    * chunks reassemble with one shuffle keyed on (doc, chunk) — a
    * doc-grain key, never content; per-group state is bounded by the
    * chunk size. Output: (id, chunk, text, n_tokens), chunk ids dense
    * from 0 in token order. */
  def chunkByTokens(docs: DataFrame, chunkTokens: Int, stride0: Int = 0,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val stride = if (stride0 <= 0) chunkTokens else stride0
    require(stride <= chunkTokens, "stride beyond the chunk width would skip tokens")
    val tok = docs.select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tk")))
    // positive operands, so floor(a/b) is exact integer division and
    // matches DuckDB's `//` in the oracle replay
    val t = col("pos") - chunkTokens + 1
    val k0 = when(t <= 0, lit(0))
      .otherwise(floor((t + lit(stride - 1)) / lit(stride))).cast("int")
    val k1 = floor(col("pos") / lit(stride)).cast("int")
    val member = tok.select(col(id), col("pos"), col("tk"),
      explode(sequence(k0, k1)).as("chunk"))
    member.groupBy(col(id), col("chunk"))
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(pos, tk))), x -> x.tk)"),
          " ").as(text),
        count(lit(1)).cast("int").as("n_tokens"))
  }

  /** Context-window chunking at REAL tokenizer boundaries: chunk
    * membership is computed on SUBWORD positions from a per-word
    * piece-count relation `nSub` (word, n_sub) — the trained-BPE
    * fertility at [[graft.operators.Bpe.segmentFast]]'s vocabulary
    * grain — so chunk boundaries fall where the model's context
    * window actually falls, splitting a word's pieces across chunks
    * when the boundary does. [[chunkByTokens]] is the whitespace
    * approximation of this; a packing stage consumes the same counts
    * through [[packingManifest]].
    *
    * Scale shape: one posexplode, one vocabulary-grain join (word
    * key; the vocabulary relation is language-bounded), one doc-grain
    * prefix-sum window, then a chunk-range explode + (id, chunk)
    * keyed aggregation. Nothing corpus-keyed; a doc's chunk fan-out
    * is its token count over `chunkTokens`.
    *
    * Returns (id, chunk, n_pieces, n_words, first_wpos, last_wpos):
    * subword pieces in the chunk (= chunkTokens everywhere except
    * each document's tail chunk), words overlapping it, and the
    * word-position span. */
  def chunkByTokenCounts(docs: DataFrame, nSub: DataFrame, chunkTokens: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val c = lit(chunkTokens.toLong)
    val tok = docs.select(col(id), posexplode(tokens(col(text))).as(Seq("wpos", "word")))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("wpos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT join + loud failure: an nSub built from a sampled or stale
    // vocabulary would otherwise silently DROP the missing words and
    // shift every later chunk boundary — a wrong manifest with no
    // error. The raise_error sits in the value path so it cannot be
    // pruned.
    val spans = tok.join(nSub, Seq("word"), "left")
      .withColumn("n_sub", when(col("n_sub").isNull, raise_error(concat(
          lit("chunkByTokenCounts: word absent from nSub (vocabulary must cover the corpus): "),
          col("word"))))
        .otherwise(col("n_sub")))
      .withColumn("e", sum(col("n_sub")).over(wDoc))
      .withColumn("st", col("e") - col("n_sub"))
    spans
      // a word's pieces span subword offsets [st, e) — it belongs to
      // every chunk its span intersects (positive operands: floor
      // division is exact and matches the oracle's `//`)
      .withColumn("chunk", explode(sequence(
        floor(col("st") / c).cast("long"), floor((col("e") - 1) / c).cast("long"))))
      .groupBy(col(id), col("chunk"))
      .agg(sum(least(col("e"), (col("chunk") + 1) * c) -
             greatest(col("st"), col("chunk") * c)).cast("long").as("n_pieces"),
           count(lit(1)).as("n_words"),
           min(col("wpos")).cast("long").as("first_wpos"),
           max(col("wpos")).cast("long").as("last_wpos"))
  }

  /** Sequence-PACKING manifest — the concat-and-split packing every
    * autoregressive pretraining run performs (concatenate the corpus
    * in a deterministic order, split every `blockTokens` tokens; docs
    * may straddle block boundaries): per document, its global token
    * offsets [start_tok, end_tok) and the first/last training block it
    * lands in. The manifest IS the scalable artifact — block
    * materialization is then an embarrassingly-parallel gather keyed
    * on block id.
    *
    * The global prefix sum over the corpus order (seeded hash, id —
    * the [[capPerKey]] shuffle) uses the range-partition + stitch
    * idiom ([[graft.operators.DiffExpr.bhAdjustScalable]]'s shape):
    * local running sums per range partition plus broadcast partition
    * offsets — NO single-task global window, exact regardless of where
    * the sampled range boundaries fall. Zero-token documents are
    * excluded (they occupy no span). */
  def packingManifest(docs: DataFrame, tokenCol: String, blockTokens: Long,
      seed: Int = 0, id: String = "doc_id", md5Hashes: Boolean = false): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val h =
      if (md5Hashes) md5(concat_ws("#", lit(seed), col(id)))
      else xxhash64(col(id), lit(seed)).cast("string")
    val spark = docs.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = docs.filter(col(tokenCol) > 0).withColumn("__h", h)
      .repartitionByRange(parts, col("__h").asc, col(id).asc)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(col("__h").asc, col(id).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = ranged.withColumn("__lsum", sum(col(tokenCol)).over(wLocal))
    val wOff = Window.partitionBy(lit(0)).orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withLocal.groupBy("__pid").agg(sum(col(tokenCol)).as("__cnt"))
      .select(col("__pid"), coalesce(sum("__cnt").over(wOff), lit(0L)).as("__off"))
    withLocal.join(broadcast(offs), Seq("__pid"))
      .withColumn("end_tok", (col("__lsum") + col("__off")).cast("long"))
      .withColumn("start_tok", col("end_tok") - col(tokenCol))
      .withColumn("block_first", floor(col("start_tok") / lit(blockTokens)).cast("long"))
      .withColumn("block_last", floor((col("end_tok") - 1) / lit(blockTokens)).cast("long"))
      .select(col(id), col("start_tok"), col("end_tok"),
        col("block_first"), col("block_last"))
  }

  /** SHARD MANIFEST — the deterministic corpus shuffle + sharding
    * step that turns a curated corpus into training input files:
    * every document gets a global position in the seeded-hash order
    * (the training-order shuffle — reproducible across runs, seeds
    * re-shuffle between epochs) and a shard assignment of
    * `docsPerShard` consecutive positions (shard = the unit a data
    * loader streams; fixed doc count keeps loader state simple, a
    * writer partitions by `shard`).
    *
    * Scale shape: the [[packingManifest]] stitch — ONE
    * `repartitionByRange` on the hash order, per-partition
    * `row_number`, and partition-count offsets broadcast back (the
    * offsets relation has one row per shuffle partition). No global
    * window, no single-task sort; ranks are exact, not approximate.
    *
    * Output: (id, rank, shard, pos_in_shard), rank dense from 0. */
  def shardManifest(docs: DataFrame, docsPerShard: Long, seed: Int = 0,
      id: String = "doc_id", md5Hashes: Boolean = false): DataFrame = {
    require(docsPerShard > 0, "docsPerShard must be positive")
    val h =
      if (md5Hashes) md5(concat_ws("#", lit(seed), col(id)))
      else xxhash64(col(id), lit(seed)).cast("string")
    val spark = docs.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = docs.withColumn("__h", h)
      .repartitionByRange(parts, col("__h").asc, col(id).asc)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(col("__h").asc, col(id).asc)
    val withLocal = ranged.withColumn("__lrn", row_number().over(wLocal))
    val wOff = Window.partitionBy(lit(0)).orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withLocal.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .select(col("__pid"), coalesce(sum("__cnt").over(wOff), lit(0L)).as("__off"))
    withLocal.join(broadcast(offs), Seq("__pid"))
      .withColumn("rank", (col("__lrn") + col("__off") - 1).cast("long"))
      .withColumn("shard", floor(col("rank") / lit(docsPerShard)).cast("long"))
      .withColumn("pos_in_shard", (col("rank") - col("shard") * docsPerShard).cast("long"))
      .select(col(id), col("rank"), col("shard"), col("pos_in_shard"))
  }

  /** MinHash + LSH candidate pairs with exact-Jaccard verification.
    * k = signature length, bands × rowsPerBand = k. Returns
    * (id_a, id_b, jaccard) for candidates above `minJaccard`.
    * `md5Hashes` selects the engine-portable hash family. */
  /** Fully relational MinHash+LSH — the 100 TB shape. No array-typed
    * intermediates and no interpreted higher-order functions (those
    * run outside codegen and cost ~30× here): the document explodes
    * once into (doc, pos, token) rows, shingles come from two
    * `lead` windows partitioned by doc, each shingle is hashed once,
    * and signatures/bands/Jaccard are plain aggregations and joins
    * that shuffle on doc / band / shingle keys.
    *
    * Signature slots: md5 path takes k ≤ 8 substring minima of one
    * digest (engine-portable); xx path takes minima of k seeded
    * xxhash64 values (production).
    */
  /** The w-token shingle ARRAY of one document, in position order —
    * zero-shuffle (round 17): the normalized token stream is joined
    * into one single-spaced string, and every shingle is one
    * overlapping regex match anchored at a token start
    * (`(?<=^| )(?=(tok( tok){w-1}))` — lookbehind pins token
    * boundaries, the zero-width lookahead makes matches overlap).
    * One codegen regex pass per document replaces the old
    * posexplode → Exchange(id) → Sort(id, pos) → lead-Window
    * pipeline, which shuffled and sorted the CORPUS TOKEN VOLUME
    * in every shingle-bearing query (guide §2.4 "remove shuffles
    * outright"). Strings are identical by construction: tokens are
    * nonempty `[a-z0-9]+` runs, so `\S+` over the single-spaced
    * join is exactly one token. Documents shorter than the width
    * yield their whole token stream as the one shingle (the
    * TextFunctions.shingles contract); empty documents yield [""]
    * and the caller filters it, matching posexplode-of-empty which
    * yielded no row. */
  private[graft] def shingleArray(text: Column, w: Int): Column = {
    val pattern = "(?<=^| )(?=(\\S+" + " \\S+" * (w - 1) + "))"
    graft.functions.TextFunctions.bindOne(tokens(text)) { t =>
      when(size(t) >= w,
        regexp_extract_all(concat_ws(" ", t), lit(pattern), lit(1)))
        .otherwise(array(concat_ws(" ", t)))
    }
  }

  /** Distinct shingle rows `(id, extras..., s)` — one zero-shuffle
    * projection ([[shingleArray]]) + explode + distinct. The previous
    * posexplode + doc-keyed lead-window formulation paid an exchange
    * and a sort of the exploded token relation before any dedup work
    * started; only the distinct's (id, s)-keyed exchange remains. */
  def shingleRows(docs: DataFrame, shingleWidth: Int, id: String = "doc_id",
      text: String = "text", extras: Seq[String] = Nil): DataFrame =
    docs.select((col(id) +: extras.map(col)) :+
        explode(shingleArray(col(text), shingleWidth)).as("s"): _*)
      .filter(col("s") =!= "")
      .distinct()

  /** Drop shingles whose document frequency exceeds `cap`. A shingle
    * present in more than `cap` documents carries no dedup signal but
    * makes the shingle self-join emit up to df² pair rows — at corpus
    * scale one viral boilerplate shingle is a job-killer. The count
    * window shuffles on the same (groupCols, shingle) key as the
    * downstream pair join, so the partitioning is reused. */
  def capShingleDf(shRows: DataFrame, cap: Long, shingleCol: String = "s",
      groupCols: Seq[String] = Nil): DataFrame = {
    if (cap == Long.MaxValue) shRows
    else {
      val w = Window.partitionBy((groupCols :+ shingleCol).map(col): _*)
      shRows.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df") <= cap).drop("__df")
    }
  }

  /** (id, band) rows from a shingle relation: per-doc MinHash
    * signature minima (md5 16-bit substring slots — engine-portable —
    * or seeded xxhash64 production slots) concatenated into `bands`
    * LSH band keys and exploded. Shared by [[minhashLshPairs]] and
    * [[nearDupAgainstReference]]. */
  private[graft] def bandRows(shRows: DataFrame, k: Int, bands: Int,
      md5Hashes: Boolean, id: String): DataFrame =
    bandRowsSized(shRows, k, bands, md5Hashes, id).select(col(id), col("band"))

  /** [[bandRows]] plus the per-doc shingle count `__sz` carried
    * through the SAME signature aggregation (round 17): the Jaccard
    * denominator needs |A| and |B|, and computing them here lets
    * [[minhashLshPairs]] ride the sizes through the band self-join
    * instead of paying a separate size aggregation plus two keyed
    * joins against the pair relation — the count is a function of the
    * group key, so the rows and every downstream value are unchanged. */
  private[graft] def bandRowsSized(shRows: DataFrame, k: Int, bands: Int,
      md5Hashes: Boolean, id: String): DataFrame = {
    val rowsPerBand = k / bands
    val hashed =
      if (md5Hashes) {
        require(k <= 8, "md5 minhash derives at most 8 16-bit slots per digest")
        shRows.withColumn("h", md5(col("s")))
      } else shRows
    val slots: Seq[org.apache.spark.sql.Column] =
      if (md5Hashes) (0 until k).map(i => min(substring(col("h"), i * 4 + 1, 4)).cast("string"))
      else (0 until k).map(i => min(xxhash64(lit(i), col("s"))).cast("string"))
    val sig = hashed.groupBy(col(id))
      .agg(slots.head.as("m0"),
        slots.tail.zipWithIndex.map { case (c, i) => c.as(s"m${i + 1}") } :+
          count(lit(1)).as("__sz"): _*)
    val bandCols = (0 until bands).map { b =>
      concat_ws("#", lit(b.toString) +:
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    sig.select(col(id), col("__sz"), explode(array(bandCols: _*)).as("band"))
  }

  /** `dfCap` defaults to uncapped so the result matches the exact
    * MinHash+verify definition (and the oracle) out of the box;
    * corpus-scale call sites opt in to a cap explicitly — capping
    * changes the result for corpora containing viral shingles, so it
    * must never be a silent default. */
  def minhashLshPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
      shingleWidth: Int = 3, minJaccard: Double = 0.0, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // Persisted: the shingle relation feeds four branches (signature,
    // sizes, both sides of the intersection join) whose aliased
    // projections defeat exchange reuse — materialize once. Viral
    // shingles (df > dfCap) are dropped before anything downstream —
    // they contribute no dedup signal, only df² join rows.
    val shRows = capShingleDf(shingleRows(docs, shingleWidth, id, text), dfCap)
    graft.model.RelCache.hold("textdedup.minhashLshPairs.sh", shRows)
    // sizes ride the signature aggregation and the band self-join
    // (round 17, [[bandRowsSized]]): the Jaccard denominators used to
    // cost a separate per-doc count plus two keyed joins against the
    // pair relation — two exchanges and two sorts of the pair volume,
    // now zero. Same rows, same values: __sz is a function of the id.
    val banded = bandRowsSized(shRows, k, bands, md5Hashes, id)
    val cand = banded.select(col("band"), col(id).as("id_a"), col("__sz").as("sz_a"))
      .join(banded.select(col("band"), col(id).as("id_b"), col("__sz").as("sz_b")),
        Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sz_a", "sz_b").distinct()
    // Jaccard relationally: |A∩B| by joining shingle rows on the
    // shingle string, |A∪B| from the carried per-doc counts.
    val inter = cand
      .join(shRows.select(col(id).as("id_a"), col("s")), Seq("id_a"))
      .join(shRows.select(col(id).as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
    // a candidate pair with ZERO shared shingles cannot pass any
    // strictly positive cutoff (its Jaccard is exactly 0), so the
    // join-back that re-attaches zero-inter pairs is needed only for
    // minJaccard = 0 — the [[nearDupAgainstIndex]] inner-verify
    // argument, applied at the source (round 17: one pair-volume
    // exchange + sort saved on every thresholded call site). Only
    // that join-back reads `cand` a second time, so only it holds
    // `cand`: a hold read once is a materialization, and its cached
    // plan would pin the candidate join's broadcast relation for the
    // life of the query.
    val withInter =
      if (minJaccard > 0.0) inter
      else {
        graft.model.RelCache.hold("textdedup.minhashLshPairs.cand", cand)
        cand.join(inter.select("id_a", "id_b", "inter"),
          Seq("id_a", "id_b"), "left").na.fill(0L, Seq("inter"))
      }
    withInter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-source duplication analytics — the mixture-design input
    * (which sources copy from which, and how hard): verified MinHash
    * near-dup pairs ([[minhashLshPairs]]) at `minJaccard`, each pair
    * keyed by its lexicographically ORDERED source pair; per
    * (source_a, source_b): pair count, distinct docs touched, mean
    * and max Jaccard. Rows with source_a = source_b measure a
    * source's internal redundancy; off-diagonal rows are the
    * cross-source mass that double-counts a mixture weight if both
    * sources are sampled independently.
    *
    * Scale shape: two keyed aggregations over the pair relation —
    * pair mass is the q35/q133 edge-volume regime and inherits the
    * minhash `dfCap` guard; source cardinality bounds the output, so
    * the result is always tiny however large the corpus. */
  def sourceOverlap(docs: DataFrame, minJaccard: Double = 0.3, k: Int = 8,
      bands: Int = 4, shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text", source: String = "source",
      dfCap: Long = Long.MaxValue): DataFrame = {
    val pairs = minhashLshPairs(docs, k, bands, shingleWidth, minJaccard,
      md5Hashes, id, text, dfCap)
    val src = docs.select(col(id), col(source))
    val withSrc = pairs
      .join(src.select(col(id).as("id_a"), col(source).as("src_a")), Seq("id_a"))
      .join(src.select(col(id).as("id_b"), col(source).as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("id_a"), col("id_b"), col("jaccard"))
    graft.model.RelCache.hold("textdedup.sourceOverlap", withSrc)
    val ps = withSrc.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("jaccard") + lit(1e-9), 6).as("avg_jaccard"),
        round(max("jaccard") + lit(1e-9), 6).as("max_jaccard"))
    val ds = withSrc.select(col("source_a"), col("source_b"),
        explode(array(col("id_a"), col("id_b"))).as("__d"))
      .groupBy("source_a", "source_b")
      .agg(countDistinct(col("__d")).as("n_docs"))
    ps.join(ds, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs"), col("avg_jaccard"), col("max_jaccard"))
  }

  /** Train/test LEAKAGE audit — the split-side complement of
    * benchmark decontamination: [[assignSplits]] labels every doc,
    * then verified near-dup pairs ([[sourceOverlap]] keyed on the
    * split label) that CROSS a split boundary are reported per
    * ordered (split_a, split_b). A non-empty relation means the
    * eval split contains near-copies of training docs — eval numbers
    * are contaminated even though the splits were disjoint by id,
    * which is exactly how leakage happens in practice (dedup ran
    * per-split or not at all, and hash-splitting scatters twins).
    * Same-split pairs are dropped: internal redundancy is q152's
    * diagonal, not leakage. */
  def splitLeakage(docs: DataFrame, splits: Seq[(String, Double)],
      seed: Int = 0, minJaccard: Double = 0.3, k: Int = 8, bands: Int = 4,
      shingleWidth: Int = 3, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text",
      dfCap: Long = Long.MaxValue): DataFrame = {
    val labeled = assignSplits(docs, splits, seed, id)
    sourceOverlap(labeled, minJaccard, k, bands, shingleWidth, md5Hashes,
        id, text, source = "split", dfCap)
      .filter(col("source_a") =!= col("source_b"))
      .select(col("source_a").as("split_a"), col("source_b").as("split_b"),
        col("n_pairs"), col("n_docs"), col("avg_jaccard"), col("max_jaccard"))
  }

  /** Connected components over a near-dup PAIR relation — cluster
    * dedup semantics (RefinedWeb/C4 style): near-duplicate pairs chain
    * into clusters, and the pipeline keeps ONE representative per
    * cluster rather than resolving each pair independently. At
    * convergence every member carries the component's MINIMUM id — a
    * deterministic representative independent of iteration order or
    * round count.
    *
    * Algorithm (round 14): alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * large-star hangs every strictly-larger neighbor of a node onto
    * its neighborhood minimum; small-star re-points the smaller
    * neighbors; the edge set converges to per-component stars rooted
    * at the minimum id in O(log² n) rounds INDEPENDENT OF COMPONENT
    * DIAMETER. The previous min-id label propagation needed
    * diameter-many rounds, so a CHAINED duplicate run (versioned
    * documents a~b~c~… where only adjacent pairs collide) longer than
    * `maxIters` threw at corpus scale; star contraction collapses the
    * same chain in a handful of rounds (PropertySpec: a 300-link path
    * converges in ≤ 8). Output is identical — min-id per component —
    * so every oracle-gated consumer (q117/q122/q129 …) is unchanged.
    *
    * Scale shape: each round is two keyed aggregations + joins over
    * the PAIR graph — corpus-small (only docs that near-dup anything
    * appear), edge state kept canonically oriented (src > dst) with
    * lineage truncated per round (localCheckpoint, the iterative-
    * kernel idiom) so plans don't grow with rounds, and each round's
    * SUPERSEDED edge state explicitly unpersisted (ADVICE r14: blocks
    * otherwise linger until a driver GC lets the ContextCleaner see
    * them). Each materialized round applies TWO large/small-star
    * alternations (round 16: the per-round floor is one job's launch
    * latency, so fewer materialized rounds at the same total
    * contraction work halves the floor; a converged double step is
    * provably the single-step fixpoint — see the loop comment). Round
    * cost is ONE Spark action (round 15): the checkpoint
    * is lazy and the action that materializes it also returns an
    * order-insensitive set signature (count + xxhash64 xor); only when
    * two consecutive signatures MATCH does an exact symmetric-
    * difference check confirm convergence — equal sets always have
    * equal signatures, so the exact check runs once at the true
    * fixpoint (plus on the ~never hash-collision, where it correctly
    * keeps looping).
    *
    * BOUNDED-GRAPH regime (round 16, replacing round 15's private
    * AQE-off session): once the init signature reveals |E|, a graph
    * at or under [[localUnionFindMax]] distinct edges (≤ ~64 MB of
    * (long, long) state — the same bounded-state judgment as a
    * broadcast join's build side) is closed EXACTLY by a single-
    * reducer union-find: `coalesce(1).mapPartitions` over the edge
    * set plus the node universe, O((|E|+|V|) α) in one task, path
    * compression + union-by-min so the root is the component MINIMUM
    * — bit-identical labels to star contraction. The iterative
    * distributed rounds are stage-latency-bound in this regime
    * (measured: ~0.1 s × ~10 stages × ~7 alternations for a 147k-edge
    * graph that union-find closes in ~0.1 s), and no contraction
    * round can beat one linear pass over state that fits a task.
    * Graphs ABOVE the bound — the 100 TB regime, where the pair graph
    * outgrows any single task — run the contraction loop under the
    * caller's AQE session exactly as before; ScaleProbe's chaincc /
    * ccupsert receipts force this path (localUnionFindMax = 0) so the
    * distributed kernel's scaling stays independently receipted.
    * `maxIters` is a backstop and hitting it throws rather than
    * returning silently-unconverged labels. Returns (id, component). */
  def duplicateComponents(pairs: DataFrame, maxIters: Int = 50,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // node universe BEFORE self-edge filtering: a self-pair (x, x) is
    // a degenerate membership claim — the node must surface as its own
    // singleton component, not vanish (and componentsUpsert feeds
    // stored ROOT rows back through here as exactly that shape)
    // the input plan is referenced TWICE below (node universe + edge
    // state) and can be arbitrarily expensive (the LSH pair chain, an
    // orders self-join) — pin it so it evaluates exactly ONCE (lazy:
    // the init-signature action materializes it); released as soon as
    // the output labeling is materialized
    val pairsC = pairs.localCheckpoint(false)
    // lazy: materialized by the gate-stats action below, which also
    // counts it (the node universe bounds the union-find regime, so
    // it can no longer defer to the consumer's first action)
    val allNodes = pairsC.select(col(idA).as("id"))
      .unionByName(pairsC.select(col(idB).as("id")))
      .distinct().localCheckpoint(false)
    // canonical undirected edge state: (src, dst) with src > dst.
    // LAZY checkpoint: the signature action below materializes it
    // (persist + lineage truncation happen on the first job), so each
    // round costs exactly one action instead of checkpoint + fixpoint.
    val init = pairsC
      .select(greatest(col(idA), col(idB)).as("src"),
        least(col(idA), col(idB)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    // order-insensitive set signature, computed by the SAME action
    // that materializes the lazy checkpoint: equal edge sets always
    // produce equal signatures, so signature inequality proves
    // non-convergence without a second job. bit_xor, not sum:
    // order-insensitive and overflow-free under ANSI arithmetic.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // release a superseded round's checkpointed blocks NOW — the next
    // state is already materialized, so nothing downstream can still
    // need them (ADVICE r14: they otherwise wait for a driver GC)
    def releaseState(df: DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false)
        case _ => ()
      }
    // large-star: center every node u over its SYMMETRIC neighborhood,
    // m = min(Γ(u) ∪ {u}); connect each strictly larger neighbor v to
    // m. Emitted pairs keep src > dst (v > u ≥ m). Output is a BAG,
    // not deduplicated (round 15): the consumer smallStar's min-agg is
    // duplicate-insensitive and its final distinct dedups the round,
    // so the old intermediate `.distinct()` exchange bought nothing —
    // dropping it removes one of the round's four shuffles, and total
    // shuffled volume never grows (the raw bag is exactly one row per
    // input edge, the same |E_t| the dropped distinct itself shuffled;
    // the downstream distinct now carries |E_t| instead of |E_t| + the
    // deduped set).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
    }
    // small-star: edges already (src > dst), possibly with duplicates
    // (largeStar's raw bag); center each src over its smaller
    // neighbors S, m = min(S) — duplicate-insensitive; re-point every
    // other member of S ∪ {src} to m. Emitted pairs keep src > dst;
    // the final distinct restores SET state for the checkpoint,
    // signature, and fixpoint compare.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
      e.join(mins, Seq("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    // gate stats in the SAME single action that materializes the lazy
    // checkpoints: the distinct-edge count + order-insensitive
    // signature (the loop's fixpoint witness) AND the node-universe
    // count (ADVICE r16: the old gate bounded only |E|, but the
    // union-find task's working set is |E| + |V| — self-pair
    // membership claims and stored singleton label rows, which
    // componentsUpsert explicitly feeds back as self-pairs, add nodes
    // without adding edges, so a singleton-dominated labeling could
    // funnel an unbounded node universe through one task). Both
    // subtrees read the shared pairsC checkpoint; the block manager's
    // per-block write lock keeps the concurrent first computation
    // single-flight.
    val gr = init
      .select(col("src"), col("dst"), lit(false).as("__self"))
      .unionByName(allNodes.select(col("id").as("src"),
        col("id").as("dst"), lit(true).as("__self")))
      .agg(count(when(!col("__self"), 1)),
        expr("bit_xor(case when not __self then xxhash64(src, dst) end)"),
        count(when(col("__self"), 1)))
      .head()
    var sig = (gr.getLong(0), if (gr.isNullAt(1)) 0L else gr.getLong(1))
    val nNodes = gr.getLong(2)
    // BOUNDED-GRAPH regime (round 16): the distinct edge set AND the
    // node universe fit one task — close it exactly with a single-
    // reducer union-find instead of paying stage-latency-bound
    // contraction rounds. The input is the canonical edge SET plus
    // the node universe as self-pairs (so singletons and self-pair
    // membership claims surface identically to the contraction path),
    // and union is BY MIN with path compression, so every label is
    // the component minimum — bit-identical output to the loop below
    // (PropertySpec gates both regimes against the same oracle).
    // Round 17 extends the regime to STRING ids — the common doc-id
    // shape in text pipelines, which used to pay the distributed-loop
    // floor even for tiny graphs — via a hash-map union-find whose
    // min is CODE-POINT order (== Spark's UTF8String binary order, so
    // the min-id contract is preserved exactly; Java's UTF-16
    // compareTo would disagree on supplementary characters). String
    // entries cost ~4× a long entry (object headers + char data), so
    // the string regime applies the same memory budget at a quarter
    // of the row caps.
    val idType = init.schema("src").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val stringIds = idType == org.apache.spark.sql.types.StringType
    val (edgeCap, nodeCap) =
      if (integralIds) (localUnionFindMax, localUnionFindNodeMax)
      else (localUnionFindMax / 4, localUnionFindNodeMax / 4)
    if ((integralIds || stringIds) && sig._1 <= edgeCap && nNodes <= nodeCap) {
      lastCcRegime = "union-find"
      val ufEdges = init
        .unionByName(allNodes.select(col("id").as("src"), col("id").as("dst")))
      val lab =
        if (integralIds) {
          val lt = org.apache.spark.sql.types.LongType
          val tupEnc = org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.LONG, org.apache.spark.sql.Encoders.LONG)
          ufEdges
            .select(col("src").cast(lt).as("_1"), col("dst").cast(lt).as("_2"))
            .as(tupEnc)
            .coalesce(1)
            .mapPartitions(unionFindLabels _)(tupEnc)
        } else {
          val strEnc = org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING)
          ufEdges
            .select(col("src").as("_1"), col("dst").as("_2"))
            .as(strEnc)
            .coalesce(1)
            .mapPartitions(unionFindLabelsStr _)(strEnc)
        }
      val labeled = lab
        .toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
      // spread a LARGE labeling by id before the eager checkpoint
      // (ROADMAP r16 thread #1): the union-find emits ONE partition
      // (~120 MB at the old 4M-edge bound), so every consumer join
      // shuffled it through a single map task; hash-repartitioning by
      // id costs one bounded shuffle here and the checkpointed
      // LogicalRDD keeps the HashPartitioning(id) output, so consumer
      // joins on id reuse it instead of re-exchanging. Small labelings
      // stay single-partition — at that size the extra stage IS the
      // cost (the interactive regime this kernel exists for).
      val spread =
        if (nNodes > ccLabelSpreadMin)
          labeled.repartition(
            pairs.sparkSession.sessionState.conf.numShufflePartitions,
            col("id"))
        else labeled
      val out = spread.localCheckpoint(true)
      releaseState(init)
      releaseState(allNodes)
      releaseState(pairsC)
      return out
    }
    lastCcRegime = "contraction"
    var edges = init
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // TWO contraction alternations per ACTION (round 16): the
      // per-round floor is the launch latency of its one job, so
      // halving the number of signature actions halves the floor.
      // The half-step goes through its own LAZY checkpoint — NOT
      // composed inline: star ops reference their input ~4×, and
      // composing T² as one Catalyst plan re-plans (and re-executes)
      // the inner alternation per reference (measured this round:
      // q175 task CPU-seconds grew 11× that way). A lazy checkpoint
      // is a LogicalRDD boundary, so every outer reference scans the
      // SAME persisted RDD and the signature action below
      // materializes BOTH checkpoints in one job. Double-step
      // equality still witnesses the TRUE fixpoint: the alternation
      // is deterministic and Kiveris et al.'s potential argument
      // rules out cycles, so T²(e) = e with T(e) ≠ e would be a
      // non-converging period-2 orbit — impossible; and the exact
      // symmetric-difference check below re-confirms set equality
      // before the loop exits.
      val half = smallStar(largeStar(edges)).localCheckpoint(false)
      val next = smallStar(largeStar(half)).localCheckpoint(false)
      val nextSig = signature(next) // the round's ONE action
      // signature match is necessary for set equality; CONFIRM it with
      // an exact symmetric difference (both sides are DISTINCT sets,
      // so in the bag union a row appears once iff it is in exactly
      // one side — empty ⇔ set equality). A 64-bit xor collision
      // cannot forge convergence: the exact check fails and the loop
      // continues; it only prices one extra action at the true
      // fixpoint.
      if (nextSig == sig)
        done = next.unionByName(edges)
          .groupBy("src", "dst").count()
          .filter(col("count") === 1).isEmpty
      releaseState(half) // intermediate state: dead once next exists
      releaseState(edges) // next is materialized; the old state is dead
      edges = next
      sig = nextSig
      iter += 1
    }
    require(done, s"component labels not converged after $maxIters rounds")
    // converged state is the star set {(v, root) : v ∈ C \ {root}} per
    // component C — roots appear only on the dst side; nodes with no
    // surviving edge (self-pairs only) label themselves
    val labeled = edges.select(col("src").as("id"), col("dst").as("component"))
      .unionByName(edges.select(col("dst").as("id"), col("dst").as("component")))
      .distinct()
    // EAGER checkpoint of the result (round 15): the labeling plan
    // references `labeled` twice and consumers reference the RESULT
    // repeatedly (componentsUpsert feeds it back through allNodes+init;
    // dedup consumers join it against docs and again against losers) —
    // un-checkpointed, each reference re-ran the distinct/anti-join
    // chain (the q175 upsert leg re-evaluated its base closure 4×).
    // One materialization here makes every later reference a block
    // read, and lets the closure's internal state (final edge set,
    // node universe) release NOW instead of leaking until a driver GC.
    val out = labeled.unionByName(
      allNodes.join(labeled, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
      .localCheckpoint(true)
    releaseState(edges)
    releaseState(allNodes)
    releaseState(pairsC)
    out
  }

  /** Distinct-edge ceiling for [[duplicateComponents]]' single-
    * reducer union-find path: 4M (long, long) edges ≈ 64 MB — the
    * same order as a broadcast-join build side, a comfortable single-
    * task working set. Above it the pair graph has outgrown any one
    * task and the distributed contraction loop runs — that is the
    * only path the 100 TB regime ever takes, which is why
    * ScaleProbe's chaincc/ccupsert receipts pin this to 0 and
    * exercise the loop directly. `var` (not a conf) so probes and
    * PropertySpec can force either regime deterministically; never
    * written on a production path. String-id graphs (round 17) apply
    * both caps at a quarter, matching the ~4× per-entry cost of
    * string keys. */
  private[graft] var localUnionFindMax: Long = 4000000L

  /** Node-universe ceiling for the same regime (ADVICE r16): the
    * union-find map is keyed by NODE, and self-pair membership claims
    * / stored singleton labels add nodes without adding edges, so the
    * edge cap alone left |V| unbounded. 8M long keys keep the LongMap
    * peak at the documented few hundred MB. Counted in the same
    * init-signature action, so the gate costs no extra job. */
  private[graft] var localUnionFindNodeMax: Long = 8000000L

  /** Labeling-spread threshold for the union-find regime (ROADMAP r16
    * thread #1): a labeling above this many nodes is hash-
    * repartitioned by id before its eager checkpoint instead of
    * materializing as ONE partition that every consumer join funnels
    * through a single map task. 1M rows ≈ 16 MB — below it the extra
    * stage costs more than the skew it removes. */
  private[graft] var ccLabelSpreadMin: Long = 1L << 20

  /** Which regime the LAST [[duplicateComponents]] call took —
    * "union-find" or "contraction". Diagnostic state for the gate
    * specs (the node-universe cap routes on counts no small-graph
    * assertion could otherwise observe); never read on a production
    * path. */
  private[graft] var lastCcRegime: String = ""

  /** The bounded-graph exact closure: union-find with path
    * compression and union-BY-MIN (so a component's root is its
    * minimum id — the contraction loop's exact output contract) over
    * one task's iterator of (src, dst) edges; self-pairs register
    * membership, and a null id (the degenerate (null, x) pair shape,
    * which the contraction path surfaces as a (null, null) label via
    * the node universe) passes through as the single (null, null)
    * row. Emits (id, root) for every id seen. */
  private def unionFindLabels(
      it: Iterator[(java.lang.Long, java.lang.Long)])
      : Iterator[(java.lang.Long, java.lang.Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long](1 << 16)
    var sawNull = false
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrElse(r, r)
      while (p != r) { r = p; p = parent.getOrElse(r, r) }
      var c = x
      while (c != r) { val n = parent.getOrElse(c, c); parent.update(c, r)
        c = if (n == c) r else n }
      r
    }
    def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
    it.foreach { case (a, b) =>
      if (a == null || b == null) sawNull = true
      else {
        val av = a.longValue; val bv = b.longValue
        add(av); add(bv)
        val ra = find(av); val rb = find(bv)
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
    }
    val ks = parent.keys.toArray
    val base = ks.iterator.map(k =>
      (java.lang.Long.valueOf(k), java.lang.Long.valueOf(find(k))))
    if (sawNull)
      base ++ Iterator((null: java.lang.Long, null: java.lang.Long))
    else base
  }

  /** Code-point "less than" — identical to Spark's UTF8String binary
    * (UTF-8 byte) ordering, which `least`/`min` use on string
    * columns. Java's `String.compareTo` is UTF-16 code-UNIT order and
    * DISAGREES on supplementary characters (U+10000+ encode as
    * surrogates 0xD800–0xDFFF, sorting below U+E000–U+FFFF), so using
    * it would break the min-id contract against the contraction
    * loop's labels exactly where ids carry emoji/CJK-extension
    * characters. UTF-8 byte order equals code-point order, so
    * comparing code points avoids re-encoding. */
  private def ltUtf8(a: String, b: String): Boolean = {
    val la = a.length; val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    la < lb
  }

  /** [[unionFindLabels]] for STRING ids (round 17): the same path-
    * compressed union-BY-MIN over one task's edge iterator, with the
    * min taken in [[ltUtf8]] (code-point) order so labels stay
    * bit-identical to the contraction loop's `least`/`min`-derived
    * roots. Null ids pass through as the single (null, null) row,
    * matching the long kernel and the distributed path's node-
    * universe shape. */
  private def unionFindLabelsStr(
      it: Iterator[(String, String)]): Iterator[(String, String)] = {
    val parent = new java.util.HashMap[String, String](1 << 16)
    var sawNull = false
    def find(x: String): String = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var c = x
      while (c != r) {
        val n = parent.getOrDefault(c, c); parent.put(c, r)
        c = if (n == c) r else n
      }
      r
    }
    def add(x: String): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    it.foreach { case (a, b) =>
      if (a == null || b == null) sawNull = true
      else {
        add(a); add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ltUtf8(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val ks = new Array[String](parent.size)
    parent.keySet.toArray(ks)
    val base = ks.iterator.map(k => (k, find(k)))
    if (sawNull) base ++ Iterator((null: String, null: String)) else base
  }

  /** INCREMENTAL component maintenance — the cluster family's UPSERT
    * verb (the lifecycle the other index families already have): fold
    * a batch of NEW near-dup pairs into an existing labeling without
    * re-closing the historical pair graph. A stored labeling IS a
    * compressed spanning forest — one star edge (member → root) per
    * non-root member — so closure over {star edges} ∪ {batch} equals
    * closure over every pair ever seen (PropertySpec gates the
    * equivalence on random split graphs), at edge volume
    * |labeled nodes| + |batch| instead of |historical pairs|. Chains
    * crossing the batch boundary merge correctly because the batch
    * edges re-connect the affected roots and star contraction
    * re-roots the merged component at its global minimum. Returns the
    * same (id, component) shape as [[duplicateComponents]].
    *
    * No DELETE twin by design: removing a node can SPLIT a component,
    * and the star forest has intentionally discarded the pair-grain
    * edges a split needs — takedown therefore re-closes the surviving
    * PAIRS (the near-dup index families keep that pair-capable state
    * at rest; their delete verbs are where cluster takedown lives). */
  def componentsUpsert(labels: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // ALL label rows pass through — root/singleton rows become
    // self-pairs, which duplicateComponents preserves as singleton
    // components, so no stored node can vanish across an upsert
    val starEdges = labels
      .select(col("id").as(idA), col("component").as(idB))
    duplicateComponents(
      starEdges.unionByName(newPairs.select(col(idA), col(idB))),
      idA = idA, idB = idB)
  }

  /** Cluster-grain near-dup removal: keep each component's
    * representative (its min id) plus every unpaired document. The
    * CLUSTER semantics — pairwise loser-drop removes both ends of a
    * chain a-b-c except `a`, but does so per pair; this resolves the
    * whole component at once. */
  def dedupByComponents(docs: DataFrame, pairs: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val losers = duplicateComponents(pairs)
      .filter(col("id") =!= col("component")).select(col("id").as(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** Per-component QUALITY-keyed representative selection — the
    * cluster-dedup policy production curation pipelines actually use:
    * keep the BEST member of each near-duplicate cluster (longest,
    * highest quality score), not the arbitrary lowest id (the
    * RefinedWeb/Dolma keep heuristic). Winner = max `quality` with a
    * min-id tie-break, computed as two keyed partial-aggregatable
    * aggregations (per-component max, then min id over the argmax
    * set) — no windows, no collect; a 10⁶-member viral cluster
    * resolves map-side. Returns one row per component:
    * (component, winner_id, n_members, best_quality). */
  def componentWinners(docs: DataFrame, pairs: DataFrame, quality: Column,
      id: String = "doc_id"): DataFrame =
    winnersByQuality(docs, duplicateComponents(pairs).withColumnRenamed("id", id),
      quality, id)
      .select("component", "winner_id", "n_members", "best_quality")

  /** The max-quality / min-id argmax over a labeled membership — the
    * single home of the winner policy (shared by [[componentWinners]]
    * and [[dedupByComponentsBest]]). Null-safe: `max` ignores NULL
    * qualities, and the `<=>` argmax keeps an all-NULL component
    * resolvable (winner = its min id) instead of silently vanishing.
    * Returns (component, winner_id, n_members, best_quality). */
  private def winnersByQuality(docs: DataFrame, comp: DataFrame,
      quality: Column, id: String): DataFrame = {
    val labeled = docs.select(col(id), quality.as("__q")).join(comp, Seq(id))
    val qmax = labeled.groupBy("component")
      .agg(max("__q").as("best_quality"), count(lit(1)).as("n_members"))
    labeled.join(qmax, Seq("component"))
      .filter(col("__q") <=> col("best_quality"))
      .groupBy(col("component"), col("n_members"), col("best_quality"))
      .agg(min(col(id)).as("winner_id"))
  }

  /** Cluster-grain near-dup removal keeping each component's
    * BEST-quality member (see [[componentWinners]]) plus every
    * unpaired document — [[dedupByComponents]] with a quality keep
    * rule instead of min-id. */
  def dedupByComponentsBest(docs: DataFrame, pairs: DataFrame,
      quality: Column, id: String = "doc_id"): DataFrame = {
    // one label-propagation run shared by winner pick and loser drop
    val comp = duplicateComponents(pairs).withColumnRenamed("id", id)
    val winners = winnersByQuality(docs, comp, quality, id)
      .select(col("component"), col("winner_id"))
    val losers = comp.join(winners, Seq("component"))
      .filter(col(id) =!= col("winner_id")).select(col(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** SimHash near-dup pairs: fingerprints bucketed by (rotation,
    * 16-bit block) so pairs within `maxHamming` of each other collide
    * in ≥1 bucket (for maxHamming < #blocks); verified by exact
    * Hamming distance. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, md5Bits: Boolean = false,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val nBlocks = 4
    val width = if (md5Bits) 8 else 16
    val fp = docs.select(col(id),
      (if (md5Bits) simhashMd5(tokens(col(text))) else simhashXx(tokens(col(text)))).as("simhash"))
    // Persisted: `a` and `b` below are aliased projections of the same
    // relation — the differing output schemas defeat exchange reuse, so
    // without this the corpus tokenizes and simhash-fingerprints TWICE
    // per run (measured: q36 cold 12.6 s in the r8 bench; the bench's
    // honest-cold cache sweep removed the accidental reuse that hid
    // it). Lifecycle: a RelCache hold, released with the calling
    // query's scope.
    val blocks = fp.select(col(id), col("simhash"),
      explode(array((0 until nBlocks).map(bInd =>
        concat_ws(":", lit(bInd.toString),
          shiftright(col("simhash"), bInd * width)
            .bitwiseAND(lit((1L << width) - 1)).cast("string"))): _*)).as("bucket"))
    graft.model.RelCache.hold("textdedup.simHash.blocks", blocks)
    val a = blocks.select(col("bucket"), col(id).as("id_a"), col("simhash").as("h_a"))
    val b = blocks.select(col("bucket"), col(id).as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** n-gram Jaccard similarity for an explicit candidate pair relation
    * (id_a, id_b): exact token-shingle Jaccard, no bucketing. Used as
    * the verify stage and for small within-group comparisons. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleWidth: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val sh = docs.select(col(id), array_distinct(shingles(tokens(col(text)), shingleWidth)).as("sh"))
    pairs
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding-cosine near-dup pairs above a threshold. PRODUCTION
    * path: delegates to [[embeddingDupPairsLsh]] — multi-band
    * hyperplane-LSH candidates + exact-cosine verify inside buckets,
    * never a corpus crossJoin. The band family is deterministic
    * (fixed splitmix64 Rademacher hyperplanes), so results are
    * reproducible run-to-run; recall is probabilistic in the
    * threshold: ≈1 in the semantic-dedup regime (θ ≥ ~0.8) and
    * degrading as the threshold approaches the background cosine
    * distribution (where NO sub-quadratic method can be exact). The
    * default 16 bands × 2 bits are sized for recall down to θ ≈ 0.4.
    * The all-pairs exact form, [[Similarity.cosinePairs]] filtered at
    * the threshold, is for bounded relations only. */
  def embeddingDupPairs(embeddings: DataFrame, threshold: Double, dim: Int = 64,
      bitsPerBand: Int = 2, nBands: Int = 16,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    embeddingDupPairsLsh(embeddings, threshold, dim, bitsPerBand, nBands, id, vec)

  /** The Gopher stop-word set (Rae 2021 §A1.1): the rule requires at
    * least 2 DISTINCT of these 8 English words, not a total
    * occurrence count over a broader list. */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher document-SHAPE rules (Rae 2021 §A1.1) as explicit
    * per-rule verdicts — the named filter battery (word-count bounds,
    * mean word length, symbol-to-word ratio, alphabetic-word
    * fraction, and the stop-word rule: ≥ `minStopWords` DISTINCT
    * words from the paper's fixed 8-word set [[gopherStopWords]]),
    * complementing the composite
    * [[graft.functions.TextFunctions.qualityScore]] and the
    * repetition rules ([[repetitionStats]]). Pure codegen projection,
    * zero shuffle; returns the input columns plus every rule flag and
    * `pass`, so curation chains can filter in place AND report
    * per-rule drop counts. */
  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopWords: Int = 2,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // every rule + `pass` computed inside ONE evaluate-once token
    // binding (round 17, [[graft.functions.TextFunctions.bindOne]]):
    // the five flags each referenced the tokenizer (and `pass` all
    // five flags), so alias substitution used to inline ~12 tokenizer
    // copies per row; a chain's filter(pass) now costs one extraction
    val flagNames = Seq("ok_words", "ok_word_len", "ok_symbols", "ok_alpha", "ok_stop")
    val gf = graft.functions.TextFunctions.bindOne(tokens(col(text))) { toks =>
      val n = size(toks).cast("double")
      val meanLen = when(n > 0,
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n)
        .otherwise(0.0)
      val hashes = length(col(text)) - length(regexp_replace(col(text), "#", ""))
      val ellipses = (length(col(text)) -
        length(regexp_replace(col(text), "\\.\\.\\.", ""))) / 3
      val symbolRatio = when(n > 0, (hashes + ellipses).cast("double") / n).otherwise(1.0)
      val alphaFrac = when(n > 0,
        size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / n).otherwise(0.0)
      val stopCount = size(array_distinct(
        filter(toks, t => t.isin(gopherStopWords.map(lit(_)): _*))))
      val flags = Seq(
        n >= minWords && n <= maxWords,
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen,
        symbolRatio <= maxSymbolRatio,
        alphaFrac >= minAlphaFrac,
        stopCount >= minStopWords)
      struct(flags.zip(flagNames).map { case (f, nm) => f.as(nm) } :+
        flags.reduce(_ && _).as("pass"): _*)
    }
    docs.withColumn("__gf", gf)
      .select((col("*") +: (flagNames :+ "pass").map(f =>
        col("__gf").getField(f).as(f))): _*)
      .drop("__gf")
  }

  /** Snapshot DIFF between two corpus versions — the audit step of an
    * incremental pipeline (what did the new crawl add, drop, or
    * rewrite?): full outer join on the id, content compared by md5
    * fingerprint. One id-keyed shuffle; at rest both snapshots
    * bucketed by id co-locate the join. Output: (id, status) with
    * status ∈ added | removed | changed | unchanged. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val a = before.select(col(id), md5(col(text)).as("__fp_a"))
    val b = after.select(col(id), md5(col(text)).as("__fp_b"))
    a.join(b, Seq(id), "full_outer")
      .select(col(id),
        when(col("__fp_a").isNull, lit("added"))
          .when(col("__fp_b").isNull, lit("removed"))
          .when(col("__fp_a") === col("__fp_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** [[embeddingDupPairs]] with (bitsPerBand, nBands) DERIVED from
    * the threshold by [[Similarity.bandParams]] instead of hand-picked
    * — the principled entry point for a new threshold/corpus-size
    * regime (the q57 fixture keeps its pinned 16×2 family for oracle
    * stability). */
  def embeddingDupPairsAuto(embeddings: DataFrame, threshold: Double, dim: Int,
      targetRecall: Double = 0.999, expectedN: Long = 1000000L,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val (bits, bands) = Similarity.bandParams(threshold, targetRecall, expectedN)
    embeddingDupPairsLsh(embeddings, threshold, dim, bits, bands, id, vec)
  }

  /** Embedding near-dup at corpus scale: candidates from multi-band
    * hyperplane-LSH buckets (pair space bounded by bucket
    * co-membership, recall tuned by `nBands` — near-identical vectors
    * agree on a whole band with probability ≈ (1−θ/π)^bits per band),
    * exact cosine verify inside buckets only. No cross join. */
  def embeddingDupPairsLsh(embeddings: DataFrame, threshold: Double, dim: Int,
      bitsPerBand: Int = 8, nBands: Int = 4,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val banded = embeddings.select(col(id), col(vec),
      explode(array((0 until nBands).map(b =>
        concat_ws("#", lit(b.toString),
          Similarity.hyperplaneSketch(col(vec), dim, bitsPerBand, seedOffset = b * 7919)
            .cast("string"))): _*)).as("bucket"))
    val cand = banded.select(col("bucket"), col(id).as("id_a"))
      .join(banded.select(col("bucket"), col(id).as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(embeddings.select(col(id).as("id_a"), col(vec).as("v_a")), Seq("id_a"))
      .join(embeddings.select(col(id).as("id_b"), col(vec).as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Within-document repetition metrics (the Gopher repetition rules,
    * Rae 2021 §A1.1: documents dominated by a few repeated n-grams are
    * low-quality): per document, the fraction of n-gram mass taken by
    * the single most frequent n-gram (`top_gram_frac`) and by all
    * n-grams occurring more than once (`dup_gram_frac`).
    *
    * Relational — explode n-grams, count per (doc, gram), aggregate
    * per doc — so the per-doc work is two keyed shuffles regardless of
    * document length (an array-local formulation would be O(len²) per
    * document in codegen). */
  def repetitionStats(docs: DataFrame, n: Int = 2,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val grams = gramRowsAll(docs, n, id, text)
      .withColumnRenamed("s", "__g")
      .filter(col("__g") =!= "")
    val counts = grams.groupBy(col(id), col("__g")).agg(count(lit(1)).as("__c"))
    counts.groupBy(col(id))
      .agg(sum("__c").as("n_grams"),
           max("__c").as("__top"),
           coalesce(sum(when(col("__c") > 1, col("__c"))), lit(0L)).as("__dup"))
      .select(col(id), col("n_grams"),
        (col("__top").cast("double") / col("n_grams")).as("top_gram_frac"),
        (col("__dup").cast("double") / col("n_grams")).as("dup_gram_frac"))
  }

  /** Benchmark decontamination overlap (the GPT-3/Gopher n-gram
    * collision check: a training document sharing long n-grams with an
    * evaluation set is contaminated): per document, how many of its
    * distinct n-grams appear anywhere in `benchmark`. Grams are
    * md5-compressed before the join so the shuffle carries fixed-width
    * keys, not raw n-gram text; the benchmark side is distinct-reduced
    * (evaluation sets are corpus-small) and the join is a plain keyed
    * equi-join — at corpus scale this is one shuffle of the document
    * gram relation. Returns (id, n_grams, n_overlap, overlap_frac)
    * for documents with at least one collision. */
  def contaminationOverlap(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      id: String = "doc_id", text: String = "text",
      benchId: String = "doc_id", benchText: String = "text"): DataFrame = {
    val docGrams = shingleRows(docs, n, id, text)
      .filter(col("s") =!= "")
      .select(col(id), md5(col("s")).as("__h"))
    val benchGrams = shingleRows(benchmark, n, benchId, benchText)
      .filter(col("s") =!= "")
      .select(md5(col("s")).as("__h")).distinct()
    val perDoc = docGrams.groupBy(col(id)).agg(count(lit(1)).as("n_grams"))
    docGrams.join(benchGrams, Seq("__h"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_overlap"))
      .join(perDoc, Seq(id))
      .select(col(id), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams")).as("overlap_frac"))
  }

  /** Cross-document REPEATED-SPAN removal — the exact-substring dedup
    * stage (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") at token-gram grain: any `n`-token span that
    * appears verbatim in ≥ `minDocs` distinct documents is treated as
    * boilerplate and EVERY occurrence is masked (the Dolma-style
    * mask-all policy — keep-one-copy would need a global winner per
    * span plus overlap arbitration; run this AFTER [[exactDedup]], or
    * exact-duplicate documents legitimately erase each other). Spans
    * are full windows over the `tokens()` normalization, so the
    * rebuilt text is the cleaned token stream (lowercased, punctuation
    * collapsed); documents shorter than `n` tokens have no window and
    * fully survive; documents losing every token survive with empty
    * text (the [[paragraphDedup]] convention — the quality floor owns
    * the drop).
    *
    * Scale shape: grams are the relational posexplode + lead idiom
    * (one row per token, md5-compressed fixed-width keys); the
    * duplicated-span decision is a hash-keyed AGGREGATION
    * (count-distinct-docs, map-side combined — a viral boilerplate
    * span is one aggregate row, never a single-task sort) and the
    * mask-back a semi join (no fan-out). Coverage is a per-document
    * running max over span starts (`pos ≤ last_start + n − 1`), so
    * overlapping spans merge without interval arithmetic; every
    * window here partitions by DOC id — bounded by document length,
    * never by content. */
  def removeRepeatedSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(n >= 1, "span width must be positive")
    // ARRAY-LEVEL rewrite (round 18, VERDICT r17 #4 — the winnow
    // treatment, guide §2.4): grams come from the [[shingleArray]]
    // regex projection (zero shuffle; gram position = array index, the
    // old posexplode positions), the corpus-wide duplicated-span
    // decision stays a hash-keyed aggregation (inherent — it compares
    // ACROSS documents), start positions fold back per doc as ONE
    // keyed collect_list aggregation, and the coverage rule runs
    // array-locally through the [[graft.functions.TextKernels]]
    // two-pointer merge (StaticInvoke — codegen, no UDF closure).
    // Gone from the plan: both doc-keyed Exchange+Sort window passes
    // over the token volume, the kept-token groupBy rebuild, and the
    // token-count aggregation (now `size(tokens)`); only full windows
    // gram (docs shorter than n yield none — NOT the shingleArray
    // whole-stream marker), so the dup decision is unchanged.
    // RepeatedSpanRewriteSpec pins equivalence with the round-17
    // formulation (positions are load-bearing).
    val base = docs.select(col(id), tokens(col(text)).as("__toks"))
    val gramArr = graft.functions.TextFunctions.bindOne(col("__toks")) { t =>
      when(size(t) >= n,
        regexp_extract_all(concat_ws(" ", t),
          lit("(?<=^| )(?=(\\S+" + " \\S+" * (n - 1) + "))"), lit(1)))
        .otherwise(array().cast("array<string>"))
    }
    val grams = base.select(col(id), posexplode(gramArr).as(Seq("pos", "__g")))
      .select(col(id), col("pos"), md5(col("__g")).as("__h"))
    val dupHashes = grams
      .groupBy("__h").agg(countDistinct(col(id)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__h")
    val starts = grams
      .join(dupHashes, Seq("__h"), "left_semi")
      .groupBy(col(id))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    base.join(starts, Seq(id), "left")
      // null text has null tokens: count it as 0 tokens, like r17
      .withColumn("__tot", coalesce(size(col("__toks")), lit(0)).cast("long"))
      .withColumn("__cov",
        coalesce(graft.functions.TextFunctions.coveredCountOf(
          size(col("__toks")), col("__starts"), n), lit(0)).cast("long"))
      .select(col(id),
        when(col("__starts").isNull, concat_ws(" ", col("__toks")))
          .otherwise(graft.functions.TextFunctions.maskSpansOf(
            col("__toks"), col("__starts"), n)).as("text_clean"),
        (col("__tot") - col("__cov")).as("n_tokens"),
        col("__cov").as("n_removed"))
  }

  /** Cumulative hex thresholds for [[assignSplits]]: fraction `c`
    * maps to the 12-hex-digit prefix `floor(c · 16¹²)` — 48 bits,
    * exact in a Long, and lexicographic hex compare = value compare.
    * Shared by operator and oracle so literals match by
    * construction. */
  def splitThresholds(fractions: Seq[Double]): Seq[String] = {
    val cum = fractions.scanLeft(0.0)(_ + _).tail
    cum.map { c =>
      // a cumulative fraction of (effectively) 1 must admit EVERY
      // hash, including the all-f prefix — "g" sorts above every hex
      // digit, so `h < "g"` is identically true and no document can
      // leak to the default label when fractions sum to 1
      if (c >= 1.0 - 1e-12) "g"
      else f"${(c * math.pow(16, 12)).toLong}%012x"
    }
  }

  /** Deterministic TRAIN/VAL/TEST split assignment — holdout carving
    * as pure hash algebra: document `id` lands in the first split
    * whose cumulative-fraction hex threshold exceeds the first 12 hex
    * digits of `md5(seed#id)` (the [[sampleByRate]] Bernoulli made
    * multi-way). Reproducible across runs, engines, and cluster
    * sizes; ZERO shuffle — one codegen CASE projection, so it is
    * stateless and runs unchanged on a STREAMING DataFrame (the
    * [[sampleByRate]] stream-safety argument). Fractions not summing
    * to 1 send the remainder to `defaultLabel`. */
  def assignSplits(docs: DataFrame, splits: Seq[(String, Double)],
      seed: Int = 0, id: String = "doc_id",
      defaultLabel: String = "holdout"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0.0) &&
      splits.map(_._2).sum <= 1.0 + 1e-12,
      "split fractions must be non-negative and sum to at most 1")
    val h = substring(md5(concat_ws("#", lit(seed), col(id))), 1, 12)
    val thrs = splitThresholds(splits.map(_._2))
    val label = splits.zip(thrs).foldRight(lit(defaultLabel): Column) {
      case (((name, _), thr), rest) => when(h < lit(thr), lit(name)).otherwise(rest)
    }
    docs.withColumn("split", label)
  }

  /** Per-document TF-IDF top-`k` terms — the corpus-analysis staple
    * (keyword extraction, domain drift inspection, index features).
    * Scores are `tf · ln(N / df)` over the `tokens()` normalization;
    * ranking orders by the ROUNDED score (1e-9 epsilon then 6 dp)
    * with a token tie-break, so ranks are deterministic and replay
    * across engines (the cross-engine rank hazard).
    *
    * Scale shape: tf and df are both keyed AGGREGATIONS with map-side
    * combine (df counts the distinct (doc, token) relation, so a
    * stopword present in every document is one aggregate row, and the
    * df join back cannot fan out — the tf side holds ≤ one row per
    * (doc, token)). The only window partitions by DOC id over ≤ that
    * document's distinct tokens. `N` is one count job on the doc
    * relation (parquet metadata at rest). */
  def tfIdfTopK(docs: DataFrame, k: Int = 5,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val tok = docs.select(col(id), explode(tokens(col(text))).as("tk"))
    val tf = tok.groupBy(col(id), col("tk")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("tk").agg(count(lit(1)).as("df"))
    val n = docs.count()
    val scored = tf.join(dfRel, Seq("tk"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")) + 1e-9, 6))
    val w = Window.partitionBy(col(id))
      .orderBy(col("tfidf").desc, col("tk").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(id), col("tk"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Winnowed document fingerprints — the MOSS local fingerprinting
    * algorithm (Schleimer–Wilkerson–Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003). Where
    * [[graft.functions.TextFunctions.fingerprint]] keys a WHOLE
    * document and MinHash sketches whole-document set similarity,
    * winnowing selects a position-anchored SUBSET of k-gram hashes
    * with a local guarantee: any shared token run of at least
    * `window + k - 1` tokens between two documents contributes at
    * least one selected hash to BOTH fingerprint sets — the
    * copied-passage / contained-overlap signal whole-doc sketches
    * dilute away.
    *
    * Selection rule (the paper's): in every sliding window of
    * `window` consecutive k-gram hashes keep the minimum hash, ties
    * broken to the RIGHTMOST position. Identical windows select the
    * same gram at the same relative offset in both documents, and
    * expected density is 2/(window+1) (PropertySpec measures both).
    *
    * Relational shape: one posexplode, then doc-grain lead/min
    * windows (partitioned by `id` — bounded by document length,
    * never by corpus-wide key mass; the auditor's content-keyed-
    * window smell does not apply). Each k-gram hash is computed
    * independently — the paper's rolling-hash recurrence is a
    * single-pass optimisation for sequential scanners that the
    * codegen'd md5/xxhash64 over materialised grams replaces
    * outright. Documents shorter than `k` tokens contribute their
    * whole token stream as one gram; shorter than `window` grams,
    * one whole-document window. Zero-token documents have no grams
    * and are absent from the result.
    *
    * Returns distinct (`id`, pos, h) selected fingerprints; `pos` is
    * the 0-based gram start, `h` hex-md5 (md5Hashes) or xxhash64. */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, window: Int = 4,
      md5Hashes: Boolean = false, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be positive")
    // ZERO-SHUFFLE winnowing (round 17): grams come from the
    // [[shingleArray]] projection (one regex pass per doc, positions =
    // array indices 0..ng-1 — exactly the old consecutive gram
    // positions), and the per-window minimum is an `array_min` over
    // the (hash, -pos) struct slice — same struct ordering as the old
    // doc-keyed sliding `min(struct(h, -pos))` window, so the same
    // (smallest hash, rightmost-on-ties) gram wins every window. The
    // old pipeline paid posexplode → Exchange(id) → Sort(id, pos) →
    // lead-Window → count-Window → min-Window over the token volume;
    // this is one projection and per-doc distinct selections come from
    // `array_distinct`, which equals the old row-level distinct
    // because the id is in the key either way. Documents with no
    // tokens produce the [""]-marker gram array and are dropped, the
    // posexplode-of-empty behaviour.
    val hOf: Column => Column = g => if (md5Hashes) md5(g) else xxhash64(g)
    docs.select(col(id), shingleArray(col(text), k).as("__g"))
      .filter(element_at(col("__g"), 1) =!= "")
      .select(col(id), explode(array_distinct(
        graft.functions.TextFunctions.bindOne(
          transform(col("__g"), (g, i) => struct(hOf(g).as("h"), (-i).as("np")))) { pairs =>
          transform(
            sequence(lit(0), greatest(size(pairs) - window, lit(0))),
            j => array_min(slice(pairs, j + 1, lit(window))))
        })).as("sel"))
      .select(col(id), (-col("sel.np")).cast("int").as("pos"), col("sel.h").as("h"))
  }

  /** MOSS-style cross-document overlap over shared winnowed
    * fingerprints: every pair sharing at least `minShared` distinct
    * selected hashes, with the shared count, each side's fingerprint
    * mass, and the containment-style ratio shared / min(|A|, |B|) —
    * a passage copied into a much larger document still scores ~1,
    * the asymmetry whole-doc Jaccard dilutes.
    *
    * Scale shape: fingerprint df is capped ([[capShingleDf]] on the
    * hash) BEFORE the hash-keyed self-join — one boilerplate k-gram
    * selected in 10⁶ documents would otherwise emit df² pair rows,
    * and a hash every document shares distinguishes nothing (the
    * MinHash dfCap argument verbatim). Pair counts are keyed
    * aggregations; per-doc sizes come from the UNCAPPED relation so
    * the denominator is the document's true fingerprint mass. The
    * fingerprint relation is persisted (it feeds sizes + both join
    * sides — aliased projections defeat exchange reuse, the q36
    * lesson) as a [[graft.model.RelCache]] hold, the
    * [[minhashLshPairs]] lifecycle. */
  def winnowOverlap(docs: DataFrame, k: Int = 4, window: Int = 4,
      minShared: Long = 2, dfCap: Long = Long.MaxValue,
      md5Hashes: Boolean = false, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val fpH = winnowFingerprints(docs, k, window, md5Hashes, id, text)
      .select(col(id), col("h")).distinct()
    graft.model.RelCache.hold("textdedup.winnowOverlap", fpH)
    val sizes = fpH.groupBy(col(id)).agg(count(lit(1)).as("nfp"))
    val capped = capShingleDf(fpH, dfCap, "h")
    capped.select(col(id).as("id_a"), col("h"))
      .join(capped.select(col(id).as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col(id).as("id_a"), col("nfp").as("nfp_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("nfp").as("nfp_b")), Seq("id_b"))
      .withColumn("overlap",
        round(col("shared") / least(col("nfp_a"), col("nfp_b")) + 1e-9, 6))
      .select(col("id_a"), col("id_b"), col("shared"),
        col("nfp_a"), col("nfp_b"), col("overlap"))
  }

  /** The at-rest winnowed-fingerprint INDEX: the distinct (id, h)
    * selected-hash relation of a reference snapshot plus its doc-grain
    * size relation (id, nfp) — everything the incremental containment
    * join ([[containmentAgainstIndex]]) needs from the reference side,
    * derived ONCE per snapshot. Store the fingerprint relation
    * bucketed by `h` (the hash-keyed join then co-locates with zero
    * reference-side shuffle per crawl — the [[nearDupIndex]] storage
    * contract) and the size relation as a plain doc-grain table; the
    * sizes are precomputed HERE precisely so a crawl never pays a
    * full index scan to rebuild denominators. Positions are dropped:
    * the overlap/containment measures count shared distinct hashes
    * only. Returns (fingerprintRelation, sizeRelation). */
  def winnowIndex(reference: DataFrame, k: Int = 4, window: Int = 4,
      md5Hashes: Boolean = false, id: String = "doc_id",
      text: String = "text"): (DataFrame, DataFrame) = {
    val fp = winnowFingerprints(reference, k, window, md5Hashes, id, text)
      .select(col(id), col("h")).distinct()
    graft.model.RelCache.hold("textdedup.winnowIndex", fp)
    (fp, fp.groupBy(col(id)).agg(count(lit(1)).as("nfp")))
  }

  /** Winnow-index UPSERT — [[nearDupIndexUpsert]]'s verb on the
    * containment family: the next-generation index after a crawl is
    * the generation-N fingerprint/size relations plus the rows of the
    * crawl docs that SURVIVED the check against generation N
    * ([[containmentAgainstIndex]]). The crawl loop is check → accept
    * → upsert → the next crawl checks the grown index, so copied
    * passages of PREVIOUSLY-ACCEPTED docs are caught, not just of
    * the original snapshot. The accepted batch pays one winnowing
    * pass (its own size, never the index's); both unions are
    * APPEND-ONLY — at rest, new files into the h-bucketed fingerprint
    * table and the doc-grain size table, no existing row rewritten.
    * (k, window), hash family AND dfCap must match the index being
    * grown — the [[nearDupIndexUpsert]] contract verbatim. */
  def winnowIndexUpsert(refFp: DataFrame, refSizes: DataFrame,
      accepted: DataFrame, k: Int = 4, window: Int = 4,
      md5Hashes: Boolean = false, id: String = "doc_id",
      text: String = "text"): (DataFrame, DataFrame) = {
    val fpAcc = winnowFingerprints(accepted, k, window, md5Hashes, id, text)
      .select(col(id), col("h")).distinct()
    graft.model.RelCache.hold("textdedup.winnowIndexUpsert", fpAcc)
    (refFp.unionByName(fpAcc),
      refSizes.unionByName(fpAcc.groupBy(col(id)).agg(count(lit(1)).as("nfp"))))
  }

  /** Winnow-index DELETION — the takedown verb on the containment
    * family ([[nearDupIndexDelete]]'s contract): a removal batch
    * expunges its fingerprint and size rows, so future crawls
    * containing passages of removed documents are admitted again.
    * Two keyed anti-joins; anti-join deletion ≡ rebuild-without
    * (both relations are per-doc derivations — q167 gates the
    * identity); under a finite build-time dfCap the identity is
    * approximate until the next compaction re-caps, exactly as in
    * [[nearDupIndexDelete]]. */
  def winnowIndexDelete(refFp: DataFrame, refSizes: DataFrame,
      removeIds: DataFrame, id: String = "doc_id"): (DataFrame, DataFrame) = {
    val rm = removeIds.select(col(id)).distinct()
    (refFp.join(rm, Seq(id), "left_anti"),
      refSizes.join(rm, Seq(id), "left_anti"))
  }

  /** Winnow-index COMPACTION — [[nearDupIndexCompact]]'s verb on the
    * containment family, the re-cap the delete docs defer to: apply
    * `dfCap` over the POST-DELETE fingerprint relation and rebuild
    * the doc-grain size table. Returns (cappedFingerprints, sizes) ≡
    * the [[winnowIndex]]+cap a fresh build on the surviving documents
    * would produce (q169 gates the identity). Sizes are rebuilt from
    * the UNCAPPED input relation — the containment denominator is the
    * document's true fingerprint mass, the [[winnowOverlap]] contract
    * — so the serve join runs against the capped relation while
    * ratios stay exact.
    *
    * Exactness and scale shape: the [[nearDupIndexCompact]] contract
    * verbatim — exact on an uncapped stored relation (the build
    * default), downward-only on a capped one; one hash-keyed window
    * pass over the index relation (its at-rest bucket key) plus a
    * doc-grain count, never a document-text re-winnowing. At rest:
    * rewrite the h-bucketed fingerprint table and the size table,
    * drain tombstones. */
  def winnowIndexCompact(refFp: DataFrame, dfCap: Long = Long.MaxValue,
      id: String = "doc_id"): (DataFrame, DataFrame) = {
    graft.model.RelCache.hold("textdedup.winnowIndexCompact", refFp)
    (capShingleDf(refFp, dfCap, "h"),
      refFp.groupBy(col(id)).agg(count(lit(1)).as("nfp")))
  }

  /** Incremental CONTAINMENT dedup of a new crawl against a frozen
    * reference corpus' winnowed-fingerprint index — the MOSS/
    * copied-passage analogue of [[nearDupAgainstIndex]]: an incoming
    * document is dropped when it shares at least `minShared` distinct
    * selected hashes with any reference document AND the containment
    * ratio shared / min(|inc|, |ref|) meets `minContainment` (a
    * passage-sized document copied into — or carved out of — a much
    * larger reference document still scores ~1, the asymmetry
    * whole-document Jaccard dilutes; [[winnowOverlap]]'s measure,
    * verbatim, across two corpora). Keeps every other incoming doc.
    *
    * Scale shape: the reference side is the PRECOMPUTED
    * [[winnowIndex]] pair — fingerprints bucketed by hash at rest
    * (zero reference-side shuffle for the hash-keyed candidate join)
    * and doc-grain sizes (no per-crawl index scan for denominators).
    * The incoming side pays one winnowing pass (doc-grain windows
    * only); pair counts are keyed aggregations; the final drop is one
    * left_anti on incoming ids. `dfCap` bounds viral-hash fan-out on
    * the INCOMING side exactly as [[winnowOverlap]] does (the
    * reference side caps at index-build time if at all — a build-time
    * decision stored with the index); incoming sizes come from the
    * uncapped relation so denominators stay true fingerprint mass.
    *
    * Lifecycle: the incoming fingerprint relation is a
    * [[graft.model.RelCache]] hold (it feeds the candidate join and
    * the size aggregation), the [[minhashLshPairs]] lifecycle. */
  def containmentAgainstIndex(incoming: DataFrame, refFp: DataFrame,
      refSizes: DataFrame, k: Int = 4, window: Int = 4,
      minShared: Long = 2, minContainment: Double = 0.8,
      dfCap: Long = Long.MaxValue, md5Hashes: Boolean = false,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val incFp = winnowFingerprints(incoming, k, window, md5Hashes, id, text)
      .select(col(id), col("h")).distinct()
    graft.model.RelCache.hold("textdedup.containmentAgainstIndex", incFp)
    val szInc = incFp.groupBy(col(id)).agg(count(lit(1)).as("nfp_inc"))
    val dropped = capShingleDf(incFp, dfCap, "h")
      .select(col(id).as("inc_id"), col("h"))
      .join(refFp.select(col(id).as("ref_id"), col("h")), Seq("h"))
      .groupBy("inc_id", "ref_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(szInc.withColumnRenamed(id, "inc_id"), Seq("inc_id"))
      .join(refSizes.select(col(id).as("ref_id"), col("nfp").as("nfp_ref")),
        Seq("ref_id"))
      // the 6-dp + 1e-9 grid is [[winnowOverlap]]'s cross-engine
      // rounding convention — the threshold must bite identically here
      .filter(round(col("shared") / least(col("nfp_inc"), col("nfp_ref")) +
        lit(1e-9), 6) >= minContainment)
      .select(col("inc_id").as(id)).distinct()
    incoming.join(dropped, Seq(id), "left_anti")
  }

  /** Non-distinct relational gram rows `(id, s)` — the COUNTING shape
    * [[repetitionStats]] needs ([[shingleRows]] distinct-reduces).
    * Same gram semantics: full lead windows, plus the all-tokens
    * shingle at pos 0 for documents shorter than the width. */
  private def gramRowsAll(docs: DataFrame, n: Int, id: String,
      text: String): DataFrame =
    // zero-shuffle gram derivation (round 17): same [[shingleArray]]
    // projection as [[shingleRows]], duplicates kept (the counting
    // shape) — replaces the posexplode + exchange + sort + lead-window
    // pipeline; the caller's own "" filter keeps empty docs out
    docs.select(col(id), explode(shingleArray(col(text), n)).as("s"))
}
