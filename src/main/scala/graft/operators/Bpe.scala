package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding merge induction (SURVEY.md §2 B84) — the tokenizer-
  * TRAINING half of the token-counting story (q_text_tokens_bpe counts with
  * a fixed rule; this LEARNS the merge table), the standard subword
  * algorithm of Sennrich et al. 2016 ("Neural Machine Translation of Rare
  * Words with Subword Units").
  *
  * The textbook loop, with the merge table held on the driver:
  *  - the corpus collapses to the WORD-FREQUENCY table first (distinct
  *    words with counts — how production BPE trainers run: statistics are
  *    per word type, weighted by frequency, never per corpus occurrence);
  *  - a word's symbol sequence starts as its characters + a `</w>`
  *    terminator (merges never cross word boundaries);
  *  - each round: count ALL adjacent symbol pairs (overlapping occurrences
  *    included — the get_stats convention), weighted by word frequency;
  *    collect the argmax to the driver with the deterministic (count DESC,
  *    pair ASC) tie-break, where it joins the merge table; APPLY it to
  *    every word with [[mergeWord]].
  *
  * [[mergeWord]] is the per-word kernel: one greedy left-to-right scan,
  * `a·b` emitted where `s(i) = a` and `s(i+1) = b` (step 2), `s(i)`
  * otherwise (step 1). Inside a run of identical symbols the matches of
  * (a, a) overlap chain-wise and the scan takes every OTHER one — the
  * gaps-and-islands rule the DuckDB oracle replays relationally, so both
  * engines reach the same table bit-for-bit. A batch of pairwise-disjoint
  * pairs ([[mergesBatched]]) is applied one pair after another on the
  * word, which equals the simultaneous rewrite.
  *
  * Per round the vocabulary table is rewritten by ONE typed map
  * ([[mergePass]]) materialized with [[Materialize.cut]] — fresh-leaf
  * lineage, the session's durability mode, an explicit release of the
  * previous round's blocks — and counted by [[pairCounts]]
  * aggregate with its one-row (or batchCap+1-row) collect. The relational
  * form of the rewrite (posexplode, two windows, two self-joins and a
  * collect_list regroup: about 8 jobs of KB-sized stages per round) lives
  * in the test sources as the kernel's cross-check.
  *
  * Scale posture (100 TB): the corpus is touched ONCE (the word-frequency
  * aggregate — partial+final counts); every round after that runs on the
  * VOCABULARY (word types × ~word-length symbol rows — millions of rows for
  * a web corpus, not billions), the per-round argmax collect is ONE row,
  * and the rewrite is a map over that table with no shuffle. This is why
  * real BPE trainers are feasible at all.
  */
object Bpe {

  /** Most merges [[applyMerges]] ships to the executors in one broadcast.
    * Production tokenizers learn 32k–256k merges; a table past 2^20 is an
    * input bug, and refusing it beats an executor OOM. */
  val MaxLearnedMerges: Int = 1 << 20

  /** (word, f, s: array<string>) — initial symbol table from the corpus.
    * Empty tokens are excluded: Spark's `sequence(1, 0)` DESCENDS instead
    * of returning empty, so a zero-length word would diverge from the
    * oracle's `range(0)` = [] (and a zero-length "word" is a tokenizer
    * input bug anyway). */
  def symbolTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .select(col("word"), col("f"),
        concat(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit("</w>"))).as("s"))

  /** Weighted adjacent-pair counts over the symbol table. Fully-merged
    * words (single-symbol sequences) have no pairs and are filtered FIRST:
    * Spark's `sequence(0, -1)` DESCENDS instead of returning empty (the
    * [[symbolTable]] caveat again), so without the guard a word that
    * collapses to one symbol after enough merges crashes the count with an
    * out-of-bounds `s[1]` — reachable on small vocabularies at high merge
    * counts (the batched entry's regime). The oracle's `rr.i <= len-2`
    * bound skips these rows the same way. */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.filter(size(col("s")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i+1] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("f")).as("cnt"))

  /** The greedy left-to-right merge of (a, b) over one word's symbols:
    * scanning i forward, `a·b` where `s(i) = a && s(i+1) = b` (then i += 2),
    * `s(i)` otherwise (i += 1). Returns `s` itself when nothing matches. */
  private[operators] def mergeWord(s: Array[String], a: String,
                                   b: String): Array[String] = {
    val n = s.length
    var i = 0
    while (i < n - 1 && !(s(i) == a && s(i + 1) == b)) i += 1
    if (i >= n - 1) s
    else {
      val ab = a + b
      val out = new Array[String](n - 1)
      System.arraycopy(s, 0, out, 0, i)
      var j = i
      while (i < n) {
        if (i < n - 1 && s(i) == a && s(i + 1) == b) { out(j) = ab; i += 2 }
        else { out(j) = s(i); i += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, j)
    }
  }

  /** One vocabulary pass: every word's symbols rewritten by `batch`, pair
    * after pair, with [[mergeWord]]. For a pairwise-disjoint batch (the
    * [[mergesBatched]] precondition) this equals the simultaneous rewrite.
    * Lazy; the training loop materializes it with [[Materialize.cut]]. */
  private[operators] def mergePass(syms: DataFrame,
                                   batch: Seq[(String, String)]): DataFrame = {
    val pairs = batch.toArray
    foldPass(syms, () => pairs)
  }

  /** Every word's symbols folded through `pairs()` in order with
    * [[mergeWord]] — one typed map, no shuffle. `pairs` is called on the
    * executors, so it can read a broadcast. */
  private def foldPass(syms: DataFrame,
                       pairs: () => Array[(String, String)]): DataFrame = {
    val spark = syms.sparkSession
    import spark.implicits._
    syms.select(col("word"), col("f"), col("s")).as[(String, Long, Array[String])]
      .map { case (w, f, s) =>
        (w, f, pairs().foldLeft(s) { case (t, (a, b)) => mergeWord(t, a, b) })
      }
      .toDF("word", "f", "s")
  }

  /** Train `rounds` merges; returns (round, sym_a, sym_b, cnt) — the merge
    * table, in induction order. Each round's argmax is a ONE-row collect
    * (the O(model) driver state); ties break (cnt DESC, a ASC, b ASC). */
  def merges(docs: DataFrame, rounds: Int): DataFrame = {
    val (tbl, _, vocab) = induce(docs, rounds, batchCap = 1, applyLast = false)
    vocab.release() // the merge table is driver-side; the vocab goes now
    tbl
  }

  /** [[merges]] plus the FINAL symbol table (word, f, s) — the trained
    * tokenizer already applied to its own training vocabulary, which is
    * what the tokenize-with-learned-merges path consumes (r11 verdict #4).
    * Re-segmenting a fresh symbol table with the returned merge list via
    * [[applyMerges]] produces the identical table (BpeSpec pins the
    * equality) — returning the training-side state just avoids paying the
    * application twice. The symbol table comes back as a
    * [[Materialize.Cut]]: checkpoint-backed (executor blocks in default
    * mode, checkpoint files in reliable mode), and the caller calls its
    * `release()` once it has read the table. Callers that only want the
    * merge table use [[merges]]. */
  def mergesWithVocab(docs: DataFrame, rounds: Int): (DataFrame, Materialize.Cut) = {
    val (tbl, _, vocab) = induce(docs, rounds, batchCap = 1, applyLast = true)
    (tbl, vocab)
  }

  /** Corpus token totals per training round — the COMPRESSION CURVE each
    * merge buys, the acceptance metric a tokenizer trainer actually
    * watches (round 0 = the chars + `</w>` baseline; Sennrich 2016 §3).
    * Same training loop as [[mergesWithVocab]], plus ONE 1-row aggregate
    * per round on the vocabulary table (total = Σ f · |s| — the exact
    * token count of the corpus re-segmented with the merges so far).
    * Returns (round, total_tokens) for rounds 0..`rounds`. */
  def compressionCurve(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val totals = ArrayBuffer[Long]()
    val (_, _, vocab) = induce(docs, rounds, batchCap = 1, applyLast = true,
      observe = s => totals += s.agg(sum(col("f") * size(col("s")))).head().getLong(0))
    vocab.release()
    totals.zipWithIndex.map { case (t, r) => (r, t) }.toSeq.toDF("round", "total_tokens")
  }

  /** Apply a LEARNED merge table (induction order) to a symbol table — the
    * tokenizer's APPLY side (Sennrich 2016): a corpus is re-segmented with
    * the frozen merge list, no pair statistics involved. The table is
    * broadcast (refused past [[MaxLearnedMerges]]) and every word folds
    * through it IN ORDER with [[mergeWord]], exactly as sequential training
    * applied it — not the "lowest-ranked pair first" loop of GPT-2-style
    * tokenizers, which can fire a merge after a later one re-creates its
    * left symbol (BpeSpec keeps the counterexample). Returned materialized
    * ([[Materialize.cutFinal]]); on the training corpus it equals the
    * training-side state [[mergesWithVocab]] returns. */
  def applyMerges(syms: DataFrame, learned: Seq[(String, String)]): DataFrame = {
    require(learned.length <= MaxLearnedMerges,
      s"learned merge table has ${learned.length} merges, over the broadcast " +
        s"cap of $MaxLearnedMerges")
    val bc = syms.sparkSession.sparkContext.broadcast(learned.toArray)
    val out = Materialize.cutFinal(foldPass(syms, () => bc.value))
    // unpersist, not destroy: with the cutFinal A/B knob on, `out` is still
    // lazy and re-reads the broadcast (re-sent on demand)
    bc.unpersist(blocking = false)
    out
  }

  /** BATCHED merge induction (r14 verdict #2) — the scalable form of
    * [[merges]] and EXACTLY equal to it (BpeSpec pins the theorem on both
    * a planted corpus and the fixture): production tokenizer training is
    * 32k merges, and [[mergesWithVocab]]'s one-argmax-collect-plus-one-
    * table-rewrite PER MERGE makes that 32k Spark jobs — the driver loop
    * is the bottleneck, not the data. Here each ROUND merges the longest
    * ranked prefix of the pair-count snapshot that is provably
    * order-equivalent to sequential induction, so the job count is bound
    * by ROUNDS (merges/batch), not merges.
    *
    * The exact-safe prefix rule, with the proof sketch (each accepted
    * pair must still be the sequential argmax at its turn):
    *  1. PAIRWISE DISJOINT, including concatenations: accepting P_j
    *     requires {a_j, b_j} ∩ ∪_{i<j}{a_i, b_i, a_i·b_i} = ∅. Merging
    *     P_i then leaves every later P_j's occurrence count untouched (no
    *     site of P_j contains a merged symbol), and sites of different
    *     pairs cannot overlap, so the batch rewrite equals the sequential
    *     one.
    *  2. PREFIX, stopping at the FIRST conflict (never skip-and-continue):
    *     a new pair created by merging P_i = (a,b) has the form (x, ab) or
    *     (ab, y), and its count is bounded by the snapshot count of the
    *     CONFLICTING pair (x, a) / (b, y) it descends from. A conflicting
    *     pair is outside the prefix, hence ranked below every accepted
    *     pair — so no created pair can outrank a later batch member…
    *  3. …except on a COUNT TIE at the boundary (a conflicting pair ranked
    *     just below the prefix with an EQUAL count could spawn a created
    *     pair that wins the lexicographic tie-break at P_j's turn): the
    *     batch is trimmed until its last count is STRICTLY greater than
    *     the (m+1)-th ranked count. Floor at 1 — a single merge is
    *     sequential by definition.
    *
    * Per round: one pair-count aggregate, ONE bounded collect (the top
    * batchCap+1 ranked rows — O(model), the [[merges]] argmax collect
    * widened), one [[mergePass]] vocabulary pass. Recorded counts
    * are snapshot counts, which rule 1 proves equal the sequential
    * at-turn counts. Returns (round = INDUCTION ORDER, sym_a, sym_b, cnt)
    * — identical schema and contents to [[merges]]. */
  def mergesBatched(docs: DataFrame, totalMerges: Int,
                    batchCap: Int = 64): DataFrame =
    mergesBatchedWithRounds(docs, totalMerges, batchCap)._1

  /** [[mergesBatched]] plus the number of ROUNDS (Spark job groups) it
    * took — the quantity the scale soak pins: rounds ≪ merges is the
    * whole point. */
  def mergesBatchedWithRounds(docs: DataFrame, totalMerges: Int,
                              batchCap: Int): (DataFrame, Int) = {
    require(batchCap >= 1, s"batchCap ($batchCap) must be >= 1")
    val (tbl, rounds, vocab) = induce(docs, totalMerges, batchCap, applyLast = false)
    vocab.release()
    (tbl, rounds)
  }

  /** The one induction loop. Each round collects the top `batchCap + 1`
    * ranked pairs, keeps the exact-safe prefix ([[mergesBatched]]; with
    * `batchCap = 1` it is the single argmax, i.e. sequential training),
    * and rewrites the vocabulary with one [[mergePass]] cut. The last
    * round's rewrite feeds nothing unless `applyLast`. `observe` sees the
    * round-0 table and every rewritten one. Returns the merge table, the
    * round count and the final symbol table with its release handle. */
  private def induce(docs: DataFrame, totalMerges: Int, batchCap: Int,
                     applyLast: Boolean, observe: DataFrame => Unit = _ => ())
      : (DataFrame, Int, Materialize.Cut) = {
    require(totalMerges >= 1, s"merges ($totalMerges) must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val syms0 = symbolTable(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // round 0's table is persist-backed; later rounds are checkpoint-backed
    // and need their Cut.release handle — unpersist() on the re-wrapped
    // frame is a no-op (r15 advice)
    var vocab = Materialize.Cut(syms0, () => { syms0.unpersist(blocking = false); () })
    observe(vocab.df)
    val out = ArrayBuffer[(Int, String, String, Long)]()
    var rounds = 0
    while (out.length < totalMerges) {
      rounds += 1
      val top = pairCounts(vocab.df)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(batchCap + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      require(top.nonEmpty,
        s"round $rounds: no pairs left after ${out.length} merges")
      // rule 1+2: maximal pairwise-disjoint (incl. concats) ranked prefix
      val used = scala.collection.mutable.Set[String]()
      var m = 0
      var stop = false
      while (!stop && m < math.min(batchCap, top.length)) {
        val (a, b, _) = top(m)
        if (used(a) || used(b)) stop = true
        else { used += a; used += b; used += (a + b); m += 1 }
      }
      // rule 3: strict count drop at the boundary, floor at 1
      while (m > 1 && m < top.length && top(m - 1)._3 == top(m)._3) m -= 1
      m = math.min(m, totalMerges - out.length)
      val batch = top.take(m)
      batch.foreach { case (a, b, c) => out += ((out.length + 1, a, b, c)) }
      if (out.length < totalMerges || applyLast) {
        // Materialize.cut, not persist: the fresh leaf keeps every round's
        // plan one node deep and its size estimate from compounding (see
        // [[Materialize]]) at production merge counts
        val next = Materialize.cut(mergePass(vocab.df, batch.map(t => (t._1, t._2)).toSeq))
        vocab.release() // previous round's storage, safe now next is materialized
        vocab = next
        observe(vocab.df)
      }
    }
    (out.toSeq.toDF("round", "sym_a", "sym_b", "cnt"), rounds, vocab)
  }
}
