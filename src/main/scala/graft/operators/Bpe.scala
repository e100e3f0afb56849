package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding VOCABULARY TRAINING as relational algebra —
  * the real merge loop (Sennrich et al. 2016: count adjacent symbol
  * pairs weighted by word frequency, merge the most frequent pair
  * left-to-right greedily, repeat), not a proxy. A trained subword
  * vocabulary is the front door of every training-data pipeline; the
  * engine's `bpeishTokenCount` estimates token counts, this trains
  * the actual merge table those counts would come from.
  *
  * The interesting representational problem is the MERGE APPLY step:
  * classic implementations fold left-to-right over each word's symbol
  * list (greedy non-overlapping), which looks inherently sequential.
  * It is not: matches of pair (a, b) at positions i and i+1 of the
  * same word can only overlap when a == b (match at i needs
  * sym[i+1] = b, match at i+1 needs sym[i+1] = a), and within a RUN
  * of consecutive match positions the greedy scan keeps exactly the
  * even offsets. So greedy-apply = mark matches on the ORIGINAL list
  * → gaps-and-islands over match positions per word → keep matches
  * at even offset from their island's start → drop the following
  * symbol of each kept match and rewrite the match symbol to the
  * concatenation. Every step is a window or join keyed on `word` —
  * no sequential fold, no UDF, and the DuckDB oracle replays each
  * round with the same algebra.
  *
  * Scale shape: the corpus collapses to the word-frequency relation
  * in one token-keyed aggregation (map-side combined); everything
  * after is VOCABULARY-grain (words × symbols rows — bounded by the
  * language, not the corpus). Per round: one pair-count aggregation,
  * one 1-row argmax collect (bounded driver anchor, the Lloyd
  * pattern), word-keyed windows/joins for the apply, and an eager
  * localCheckpoint to truncate lineage across rounds.
  */
object Bpe {

  /** (word, freq) from the engine tokenizer — the corpus-facing pass. */
  def wordFreqs(docs: DataFrame, text: String = "text"): DataFrame =
    docs.select(explode(tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol relation: characters plus the terminal `</w>`
    * marker, as (word, freq, pos, sym) with dense 0-based pos. The
    * char split is substr-based (not split-on-empty) so the oracle's
    * `substr` replay is engine-identical. */
  private[graft] def initialSymbols(wf: DataFrame): DataFrame =
    wf.select(col("word"), col("freq"),
      posexplode(concat(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))),
        array(lit("</w>")))).as(Seq("pos", "sym")))

  /** Train `nMerges` BPE merges over a corpus. Returns the merge
    * table (round, lhs, rhs, pair_count), round 1-based in training
    * order; ties on count break lexicographically (lhs, rhs) so the
    * result is deterministic and engine-replayable. Stops early if
    * no pair remains (every word fully merged). */
  def bpeMerges(docs: DataFrame, nMerges: Int,
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var s = initialSymbols(wordFreqs(docs, text)).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val w = Window.partitionBy("word").orderBy("pos")
      val withNext = s.withColumn("nxt", lead(col("sym"), 1).over(w))
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("lhs"), col("nxt").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round, a, b, c))
        // greedy-apply via the island parity rule (see object doc)
        val keep = withNext
          .filter(col("sym") === a && col("nxt") === b)
          .withColumn("mrank", row_number().over(w))
          .withColumn("island", col("pos") - col("mrank"))
          .withColumn("imin",
            min("pos").over(Window.partitionBy("word", "island")))
          .filter(((col("pos") - col("imin")) % 2) === 0)
          .select(col("word"), col("pos"))
        val dropped = s.join(
          keep.select(col("word"), (col("pos") + 1).as("pos")),
          Seq("word", "pos"), "left_anti")
        val prev = s
        s = dropped
          .join(keep.withColumn("hit", lit(true)), Seq("word", "pos"), "left")
          .withColumn("sym", when(col("hit"), lit(a + b)).otherwise(col("sym")))
          .withColumn("pos", row_number().over(
            Window.partitionBy("word").orderBy("pos")) - 1)
          .select("word", "freq", "pos", "sym")
          .localCheckpoint(true)
        // drop the superseded round's checkpoint blocks NOW — the
        // failure mode SCALING.md's orphaned-block note measured, fixed
        // locally instead of waiting for the global cold-sample sweep
        prev.unpersist(blocking = false)
        round += 1
      }
    }
    // the final state is dead once the merge table exists
    s.unpersist(blocking = false)
    merges.toSeq.toDF("round", "lhs", "rhs", "pair_count")
  }

  /** BPE training at REAL vocabulary scale — the Lloyd-pattern form of
    * [[bpeMerges]] (fit driver-side over a bounded relation, replay
    * relationally for the gate). The relational loop re-aggregates ALL
    * adjacent-pair counts and rewrites the full symbol relation every
    * round: fine at 12 gated merges, but a production 32–64k-merge
    * vocabulary means ~10⁵ sequential Spark jobs. Here the
    * corpus-facing work is UNCHANGED — one tokenize + word-frequency
    * aggregation ([[wordFreqs]], map-side combined; the only pass
    * whose cost scales with the corpus) — and the merge loop then runs
    * over the COLLECTED (word, freq) relation, which is
    * language-bounded, not corpus-bounded (the same argument as the
    * Lloyd centroid / classifier / LM fits: the fixture has ~30k
    * types; English web text ~10⁷ — driver-sized at any corpus scale).
    * Pair counts are maintained INCREMENTALLY: a merge touches only
    * the words that contain its pair (tracked in an occurrence index),
    * so a round costs O(affected words), not O(vocabulary).
    *
    * Row-identical to [[bpeMerges]]: same pair counting (every
    * adjacent position, frequency-weighted), same deterministic
    * argmax (count desc, then (lhs, rhs) asc), same greedy
    * left-to-right non-overlapping apply (the fold the island-parity
    * window rule equals — PropertySpec gates all three forms against
    * the sequential reference). ScaleProbe `bpe1000` trains 1,000
    * merges in bounded wall. */
  def bpeMergesFast(docs: DataFrame, nMerges: Int,
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = wordFreqs(docs, text).as[(String, Long)].collect()
    trainMerges(wf, nMerges).toSeq.toDF("round", "lhs", "rhs", "pair_count")
  }

  /** The in-memory incremental merge loop shared by [[bpeMergesFast]]
    * (and testable directly): greedy fold + incremental pair-count
    * maintenance. Returns (round, lhs, rhs, pair_count), 1-based. */
  private[graft] def trainMerges(wf: Array[(String, Long)],
      nMerges: Int): Array[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[mutable.ArrayBuffer[String]] = wf.map { case (w, _) =>
      val b = mutable.ArrayBuffer.empty[String]
      w.foreach(c => b += c.toString); b += "</w>"; b
    }
    val freq: Array[Long] = wf.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // occurrence index: pair -> word ids that contained it at SOME
    // point (lazily stale — membership re-verified when consumed)
    val occurs = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def contribute(i: Int, sign: Long, register: Boolean): Unit = {
      val s = syms(i); val f = freq(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * f
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (register) occurs.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    var i = 0
    while (i < syms.length) { contribute(i, 1L, register = true); i += 1 }
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      if (counts.isEmpty) done = true
      else {
        // deterministic argmax: count desc, (lhs, rhs) asc — the
        // relational ordering
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (e._1._1 < best._1._1 ||
              (e._1._1 == best._1._1 && e._1._2 < best._1._2)))) best = e
        }
        val ((a, b), c) = best
        out += ((round, a, b, c))
        val merged = a + b
        val touched = occurs.getOrElse((a, b), mutable.HashSet.empty)
        touched.foreach { w =>
          val s = syms(w)
          // stale-index guard: verify the pair is still present
          var j = 0; var present = false
          while (j < s.length - 1 && !present) {
            if (s(j) == a && s(j + 1) == b) present = true; j += 1
          }
          if (present) {
            contribute(w, -1L, register = false)
            // greedy left-to-right non-overlapping fold (refApply):
            // a merged symbol does not participate in later matches
            // of this same pass
            var r = 0; var wr = 0
            while (r < s.length) {
              if (r < s.length - 1 && s(r) == a && s(r + 1) == b) {
                s(wr) = merged; r += 2
              } else { s(wr) = s(r); r += 1 }
              wr += 1
            }
            s.takeInPlace(wr)
            contribute(w, 1L, register = true)
          }
        }
        occurs.remove((a, b))
        round += 1
      }
    }
    out.toArray
  }

  /** WordPiece-style VOCABULARY: the top `vocabSize` substrings of
    * length ≤ `maxPieceLen` ranked by corpus-frequency-weighted
    * occurrence count (count desc, piece asc — an integer argmax, so
    * deterministic across engines), plus every single character seen
    * in the fit sample. The BERT-family alternative to the BPE merge
    * table: the vocabulary is a SET of pieces and inference is greedy
    * longest-match ([[wordPieceSegment]]) rather than ordered merge
    * replay. (The full WordPiece training loop is BPE-shaped —
    * likelihood-ranked merges — which [[bpeMerges]] already covers;
    * the substring-frequency fit is the deterministic, replayable
    * vocabulary this inference family needs.)
    *
    * Scale shape: corpus → word-frequency relation in one token-keyed
    * aggregation; the substring fan-out is vocabulary-grain ×
    * maxPieceLen² (bounded by the language); top-V is a TakeOrdered,
    * never a full sort at corpus grain. Returns a (piece) relation,
    * ≤ vocabSize + |alphabet| rows. */
  def wordPieceVocab(sample: DataFrame, maxPieceLen: Int = 4,
      vocabSize: Int = 200, text: String = "text"): DataFrame = {
    require(maxPieceLen >= 1 && vocabSize >= 1)
    val wf = sample.select(explode(tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val wli = wf
      .withColumn("l", explode(sequence(lit(1),
        least(lit(maxPieceLen), length(col("word"))))))
      .withColumn("i", explode(sequence(lit(1),
        length(col("word")) - col("l") + 1)))
      .select(expr("substring(word, i, l)").as("piece"), col("freq"),
        col("l"))
    graft.model.RelCache.hold("bpe.wordPieceVocab", wli)
    val topv = wli.groupBy("piece").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(vocabSize).select("piece")
    val chars = wli.filter(col("l") === 1).select("piece").distinct()
    topv.union(chars).distinct()
  }

  /** Greedy longest-match-first segmentation under a WordPiece-style
    * piece SET — the BERT tokenizer's inference rule: at each offset
    * take the longest vocab piece (≤ `maxPieceLen`) matching the
    * remaining suffix; a character absent from the vocabulary falls
    * back to its own 1-char piece (the byte-fallback convention), so
    * segmentation is TOTAL and out-of-alphabet text degrades instead
    * of failing. Piece set rides along broadcast (vocabulary-grain,
    * the [[segmentFast]] shape); one partition-local pass per word.
    * Returns (word, pos, piece). */
  def wordPieceSegment(words: DataFrame, vocab: Seq[String],
      maxPieceLen: Int = 4): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    words.select(col("word")).as[String].mapPartitions { it =>
      val v = bc.value
      it.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var off = 0
        while (off < w.length) {
          var l = math.min(maxPieceLen, w.length - off)
          while (l > 1 && !v.contains(w.substring(off, off + l))) l -= 1
          // l == 1 emits whether or not the char is in the vocabulary
          out += w.substring(off, off + l)
          off += l
        }
        out.iterator.zipWithIndex.map { case (p, pos) => (w, pos, p) }
      }
    }.toDF("word", "pos", "piece")
  }

  /** Distributed one-pass ENCODE with a trained merge table — the
    * production form of the relational segmentation (which replays each
    * merge as a separate round of Spark jobs: fine for the 12-merge gate,
    * ~10⁵ sequential jobs at a real vocabulary). Each word is encoded
    * independently in one partition-local pass: merges apply in
    * TRAINING ORDER via the same greedy fold as the relational form
    * (PropertySpec gates both against the sequential reference), with
    * an adjacent-pair set per word so the nMerges-long table costs one
    * O(1) membership check per merge, not a scan. The merge table
    * rides along as a broadcast-sized plan constant (vocabulary-grain,
    * like the baked Lloyd centroids). Returns (word, pos, sym). */
  def segmentFast(wf: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val words = wf.select(col("word")).as[String]
    words.mapPartitions { it =>
      val table = bc.value
      it.flatMap { w =>
        val s = scala.collection.mutable.ArrayBuffer.empty[String]
        w.foreach(c => s += c.toString); s += "</w>"
        val pairs = scala.collection.mutable.HashSet.empty[(String, String)]
        var j = 0
        while (j < s.length - 1) { pairs += ((s(j), s(j + 1))); j += 1 }
        table.foreach { case (a, b) =>
          if (pairs.contains((a, b))) {
            val merged = a + b
            var r = 0; var wr = 0
            while (r < s.length) {
              if (r < s.length - 1 && s(r) == a && s(r + 1) == b) {
                s(wr) = merged; r += 2
              } else { s(wr) = s(r); r += 1 }
              wr += 1
            }
            s.takeInPlace(wr)
            // rebuild the pair set for the rewritten word (short lists;
            // the rebuild is cheaper than tracking deltas exactly)
            pairs.clear()
            j = 0
            while (j < s.length - 1) { pairs += ((s(j), s(j + 1))); j += 1 }
          }
        }
        s.iterator.zipWithIndex.map { case (sym, pos) => (w, pos, sym) }
      }
    }.toDF("word", "pos", "sym")
  }
}
