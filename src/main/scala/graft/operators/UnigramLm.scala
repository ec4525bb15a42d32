package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING (SURVEY.md §2
  * B121) — the other half of the tokenizer story next to BPE's merge
  * induction ([[Bpe]]): Kudo 2018 ("Subword Regularization", §3.2) trains
  * a subword vocabulary by EM over a bounded candidate set — seed a large
  * candidate vocabulary from corpus substrings, iterate expectation
  * (distribute each occurrence's mass over the candidates that could
  * explain it, proportionally to current piece weights) and maximization
  * (piece weight ← its collected mass), then keep the top-V survivors.
  *
  * EXACT-INTEGER discipline (the B91 lesson: log-likelihoods cannot
  * hash-compare cross-engine): the paper's lattice posteriors are
  * replaced by per-(word, position) weight shares in ppm —
  * `share = w(piece)·1e6 DIV Σ w(q)` over the candidates starting at the
  * same position of the same word type — and expected counts are
  * `Σ f(word)·share`, RENORMALIZED back to occurrence-mass scale after
  * every round (`w ← Σ f·share DIV 1e6`, single characters clamped to
  * ≥ 1 so every position keeps a usable piece and the Viterbi edge cost
  * never divides by zero). The renormalization is what keeps the
  * arithmetic int64-safe round over round (r14 ADVICE): without it
  * round-2 weights are already ppm-scaled and the share product
  * `w·1e6` overflows once a piece's occurrence mass passes ~9.2e6.
  * With it, `w ≤ mass(piece)` holds at EVERY round, so the per-round
  * product is bounded by 1e6·mass — the same ceiling as round 1. The
  * residual ceiling is total corpus occurrence mass ~9.2e12 per piece
  * (≈ trillions of occurrences of ONE piece), at which point shard the
  * corpus and average — stated, not silent. The EM structure (soft
  * counts ∝ current weights, renormalized per position, re-estimated
  * per round) is the paper's; the arithmetic is the catalog's
  * replayable integer form.
  *
  * Scale posture (100 TB): the corpus is touched ONCE (the word-frequency
  * aggregate — the [[Bpe]] posture); the occurrence table is
  * VOCABULARY-sized (word types × ≤ maxWordLen × maxPieceLen rows), every
  * EM round is one broadcast-sized weights join + two aggregates over it,
  * and nothing per-round touches the corpus again. `maxWordLen` refuses
  * degenerate "words" (URLs, base64 blobs) whose substring fan-out would
  * dominate the table — mirrored in the oracle's WHERE.
  */
object UnigramLm {

  /** Most pieces a trained model may hold: the weight map is collected to
    * the driver and broadcast every EM round and to [[viterbiSegment]].
    * 2^20 is SentencePiece's default seed-vocabulary size (1M); a
    * candidate set past it means minCount is too low for the corpus. */
  val MaxModelPieces: Int = 1 << 20

  /** The collected (piece, w) rows as the driver-side weight map, refused
    * past [[MaxModelPieces]]. */
  private def modelMap(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] = {
    require(rows.length <= MaxModelPieces,
      s"UnigramLm model has ${rows.length} pieces, over the broadcast cap of " +
        s"$MaxModelPieces")
    rows.iterator.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** (word, f) — word types with frequencies, the one corpus pass.
    * Words longer than `maxWordLen` are excluded (fan-out refusal). */
  def wordFreq(docs: DataFrame, maxWordLen: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1 && length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))

  /** Code-point-faithful (pos, piece) substrings of one word — exactly
    * `substring(word, p+1, l)` over code points (the zh fixture exercises
    * multibyte), emitted pos-ascending then length-ascending like the
    * relational `occurrences` explode UnigramLmSpec keeps as its
    * cross-check. */
  private[operators] def cpPieces(word: String, maxPieceLen: Int)
      : IndexedSeq[(Int, String)] = {
    if (word == null) return IndexedSeq.empty
    val cp = word.codePointCount(0, word.length)
    // offs(i) = UTF-16 index of code point i; offs(cp) = word.length
    val offs = new Array[Int](cp + 1)
    var i = 0
    while (i < cp) { offs(i + 1) = word.offsetByCodePoints(offs(i), 1); i += 1 }
    for {
      pos <- 0 until cp
      len <- 1 to math.min(maxPieceLen, cp - pos)
    } yield (pos, word.substring(offs(pos), offs(pos + len)))
  }

  /** Train `emRounds` rounds; returns the final weights (piece, w) over
    * the candidate vocabulary — pieces whose total occurrence mass
    * tf = Σ f is ≥ minCount, plus ALL single characters (coverage: a
    * tokenizer must be able to segment anything it saw). Initial weight =
    * tf (the paper's frequency-seeded start). */
  /** r18 shape (the Pq.train precedent — driver-held model between
    * rounds, ONE distributed pass per round): the piece-weight table `w`
    * is O(model) — the candidate vocabulary (substrings with mass ≥
    * minCount, plus single chars), the exact table SentencePiece holds in
    * memory — so each EM round collects it to the driver (refused past
    * [[MaxModelPieces]]), broadcasts it, and runs as ONE
    * typed flatMap over the persisted WORD-TYPE table (per word: code-
    * point pieces via [[cpPieces]], per position the in-vocab candidates,
    * `share = w·1e6 DIV Σw` and `f·share` emissions — term-for-term the
    * relational cocc ⋈ denom ⋈ share chain, all int64) + one aggregate.
    * The r17 form executed 2 joins + 2 shuffled aggregates per round over
    * the occurrence fan-out (ProfQ: ~50 jobs of KB-sized stages for
    * q_text_tokens_viterbi); positions with Σw = 0 cannot occur (single
    * chars clamp ≥ 1 and cover every position) but are skipped exactly
    * like the relational NULL-share sum. The relational `occurrences`
    * explode lives in UnigramLmSpec as its cross-check baseline. */
  def train(docs: DataFrame, maxPieceLen: Int, minCount: Long,
            emRounds: Int, maxWordLen: Int = 30): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen ($maxPieceLen) must be >= 1")
    require(emRounds >= 1, s"emRounds ($emRounds) must be >= 1")
    require(maxWordLen >= 1, s"maxWordLen ($maxWordLen) must be >= 1")
    val s = docs.sparkSession
    import s.implicits._
    val words = wordFreq(docs, maxWordLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val typedWords = words.select(col("word"), col("f")).as[(String, Long)]
      val tf = typedWords
        .flatMap { case (word, f) => cpPieces(word, maxPieceLen).map(p => (p._2, f)) }
        .toDF("piece", "f")
        .groupBy(col("piece")).agg(sum(col("f")).as("tf"))
      val w0 = tf.filter(col("tf") >= minCount || length(col("piece")) === 1)
        .select(col("piece"), col("tf").as("w"))
      // O(model) driver collect between rounds (the Pq codebook shape),
      // shipped to the executors as a broadcast
      var wMap = modelMap(w0.collect())
      var out: DataFrame = null
      for (r <- 1 to emRounds) {
        val bc = s.sparkContext.broadcast(wMap)
        val next = typedWords
          .flatMap { case (word, f) =>
            val m = bc.value
            val ps = cpPieces(word, maxPieceLen)
            // group by position; candidate = piece present in the model
            val byPos = ps.groupBy(_._1)
            byPos.iterator.flatMap { case (_, cands) =>
              val found = cands.flatMap { case (_, p) => m.get(p).map(p -> _) }
              val dw = found.foldLeft(0L)(_ + _._2)
              if (dw <= 0L) Iterator.empty
              else found.iterator.map { case (p, wv) =>
                (p, f * (wv * 1000000L / dw))
              }
            }
          }
          .toDF("piece", "fs")
          .groupBy(col("piece")).agg(sum(col("fs")).as("wr"))
          // renormalize to mass scale (see scaladoc); single chars clamp
          // to >= 1 — coverage AND a nonzero denominator at every position
          .select(col("piece"),
            greatest(expr("wr DIV 1000000"),
              when(length(col("piece")) === 1, lit(1L)).otherwise(lit(0L)))
              .as("w"))
        // intermediate rounds feed the next round's driver model; the
        // final round is returned materialized WITHOUT a second execution
        if (r < emRounds) { wMap = modelMap(next.collect()); bc.destroy() }
        else { out = Materialize.cutFinal(next); bc.destroy() }
      }
      out
    } finally words.unpersist(blocking = false)
  }

  /** EXACT Viterbi segmentation with the trained weights (SURVEY.md §2
    * B125) — the APPLY half of the unigram tokenizer ([[train]] learns,
    * this segments), and the exact decode the paper's inference uses
    * (vs. the greedy longest-match shortcut WordPiece-style tokenizers
    * take): per word type, the segmentation minimizing the additive
    * integer cost Σ (1 + costScale DIV w(piece)), token count as the
    * tie-break — both folded into ONE int64 key `combined =
    * cost·64 + n_tokens` (token counts < 64 ≤ maxWordLen bound, so the
    * encoding is additive and min-combined IS the lexicographic
    * (cost, n_tokens) minimum; the B91 discipline again: integer costs
    * where true log-probs would never hash-compare).
    *
    * The DP is relational MIN-PLUS DOUBLING, not a per-word loop: edge
    * (p → p+|piece|) for every vocab piece at position p, then
    * ceil(log2(maxWordLen)) rounds of R ∪ min(R∘R) — each round one
    * self-join on the middle position, state bounded by word types ×
    * maxWordLen² pairs (the maxWordLen cap is what bounds it — stated
    * refusal, mirrored in the oracle). Single-char coverage guarantees
    * dist(0, len) exists for every word.
    *
    * @return (word, f, n_tokens, cost) — per word TYPE; callers join back
    *         to docs for per-document totals */
  def viterbiSegment(docs: DataFrame, maxPieceLen: Int, minCount: Long,
                     emRounds: Int, costScale: Long,
                     maxWordLen: Int = 30): DataFrame = {
    require(costScale >= 1, s"costScale ($costScale) must be >= 1")
    require(maxWordLen < 64,
      s"maxWordLen ($maxWordLen) must stay < 64 for the combined encoding")
    val s = docs.sparkSession
    import s.implicits._
    // the trained weights are O(model) — collect once (the Pq dtState
    // precedent; capped and broadcast like train's rounds) and run the
    // WHOLE per-word DP locally: edge (p → p+|pc|) costs
    // (1 + costScale DIV w)·64 + 1 for every in-vocab piece with w ≥ 1
    // starting at p, and the forward min over positions computes
    // exactly the min-plus-doubling closure's dist(0, len) — shortest
    // path with positive int64 edge costs, same integers, no float. The
    // r17 relational DP ran ceil(log2(maxLen)) doubling rounds of
    // self-join + union + min-aggregate (a shuffle trio per round) over
    // persisted state; this is ONE typed projection over word types.
    // w >= 1 only: integer share truncation can drive a low-mass
    // multi-char piece's weight to exactly 0 and `costScale DIV 0` would
    // throw (r14 ADVICE). Single chars are clamped >= 1 by train(), so
    // every position keeps an edge — segmentation never fails. Mirrored
    // in the oracle's edges CTE.
    val wMap = s.sparkContext.broadcast(
      modelMap(train(docs, maxPieceLen, minCount, emRounds, maxWordLen).collect())
        .filter(_._2 >= 1L))
    val words = wordFreq(docs, maxWordLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fail-loud on an empty corpus — the r17 form's maxLen probe did
      val maxLenRow = words.agg(max(length(col("word")))).collect()(0)
      require(!maxLenRow.isNullAt(0),
        "viterbiSegment on an empty corpus (no words within maxWordLen)")
      val out = Materialize.cutFinal(
        words.select(col("word"), col("f")).as[(String, Long)]
          .flatMap { case (word, f) =>
            val m = wMap.value
            val cp = word.codePointCount(0, word.length)
            val offs = new Array[Int](cp + 1)
            var i = 0
            while (i < cp) {
              offs(i + 1) = word.offsetByCodePoints(offs(i), 1); i += 1
            }
            // dist(p) = min combined cost 0 → p; Long.MaxValue = unreachable
            val dist = Array.fill(cp + 1)(Long.MaxValue)
            dist(0) = 0L
            var p = 0
            while (p < cp) {
              if (dist(p) != Long.MaxValue) {
                var len = 1
                val maxL = math.min(maxPieceLen, cp - p)
                while (len <= maxL) {
                  m.get(word.substring(offs(p), offs(p + len))) match {
                    case Some(wv) =>
                      val c = (1L + costScale / wv) * 64L + 1L
                      val q = p + len
                      if (dist(p) + c < dist(q)) dist(q) = dist(p) + c
                    case None => ()
                  }
                  len += 1
                }
              }
              p += 1
            }
            val combined = dist(cp)
            // unreachable end (cannot happen under single-char coverage,
            // but the relational join simply emitted no row) → no row
            if (combined == Long.MaxValue) None
            else Some((word, f, combined % 64L, combined / 64L))
          }
          .toDF("word", "f", "n_tokens", "cost"))
      wMap.unpersist(blocking = false) // not destroy: see train's last round
      out
    } finally words.unpersist(blocking = false)
  }

  /** The pruned vocabulary: top `vocabTarget` pieces by (w DESC, piece
    * ASC) + every single character regardless of rank (Kudo §3.2 keeps
    * chars unconditionally so segmentation never fails). Returns
    * (rank, piece, w) with rank over the kept set in the same order. */
  def vocab(trained: DataFrame, vocabTarget: Int): DataFrame = {
    require(vocabTarget >= 1, s"vocabTarget ($vocabTarget) must be >= 1")
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("w").desc, col("piece"))
    // single-partition window is over the MODEL (|vocab| rows), not the
    // corpus — the same bounded-state argument as Bpe's 1-row argmax
    val ranked = trained.withColumn("r0", row_number().over(win))
    ranked.filter(col("r0") <= vocabTarget || length(col("piece")) === 1)
      .withColumn("rank", row_number().over(win))
      .select(col("rank"), col("piece"), col("w"))
  }
}
