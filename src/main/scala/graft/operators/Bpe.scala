package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  *    take the argmax with the deterministic (count DESC, pair ASC)
  *    tie-break, where it joins the merge table; APPLY it to every word
  *    with [[mergeWord]].
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
  * Where the rounds run is the one thing that forks ([[induce]]); the loop,
  * the exact-safe prefix ([[safePrefix]]) and the kernel are shared:
  *  - DRIVER-RESIDENT (the word table's symbols fit under
  *    [[DriverSymbolCap]]): the table is collected ONCE, by a bounded
  *    collect, and every round runs on the driver over an incremental pair
  *    index — each pair's weighted count and the posting list of the words
  *    holding it, ranked (count DESC, a ASC, b ASC) — the standard
  *    trainer's incremental statistics (Sennrich et al.'s `learn_bpe.py`).
  *    A merge rewrites only the words on the pair's posting list and
  *    updates the counts of the pairs those words lose and gain; a round
  *    costs no Spark job.
  *  - DISTRIBUTED (above the cap): per round the vocabulary table is
  *    rewritten by ONE typed map ([[mergePass]]) materialized with
  *    [[Materialize.cut]] — fresh-leaf lineage, the session's durability
  *    mode, an explicit release of the previous round's blocks — and
  *    ranked by the [[pairCounts]] aggregate with its one-row (or
  *    batchCap+1-row) collect.
  * The relational form of the rewrite (posexplode, two windows, two
  * self-joins and a collect_list regroup: about 8 jobs of KB-sized stages
  * per round) lives in the test sources as the kernel's cross-check.
  *
  * Scale posture (100 TB): the corpus is touched ONCE (the word-frequency
  * aggregate — partial+final counts); every round after that runs on the
  * VOCABULARY (word types × ~word-length symbols), which grows with the
  * corpus only as its word types do. A curated corpus's vocabulary (a few
  * hundred thousand word types, a few million symbols) fits under
  * [[DriverSymbolCap]], so its training pays one aggregate and one bounded
  * collect and then no per-round job at all: at a production 32k merges a
  * per-round job, not the data, is the cost. A raw web vocabulary (tens of
  * millions of word types) stays distributed: the per-round argmax collect
  * is ONE row (batchCap+1 in the batched form) and the rewrite is a map
  * over the table with no shuffle. This is why real BPE trainers are
  * feasible at all.
  */
object Bpe {

  /** Most merges [[applyMerges]] ships to the executors in one broadcast.
    * Production tokenizers learn 32k–256k merges; a table past 2^20 is an
    * input bug, and refusing it beats an executor OOM. */
  val MaxLearnedMerges: Int = 1 << 20

  /** Most symbols (Σ |s| over the word-type table) trained on the driver.
    * 2^22 symbols is about 300k word types of average length 12 — a
    * curated corpus's vocabulary. Measured at local[4] on 310k random
    * 8–16-letter word types (4.03M symbols): the driver-side state (interned
    * symbols, one posting entry per word and distinct pair) retained 245 MB
    * of heap, and 256 sequential merges took 12.8 s including the corpus
    * aggregate and the collect. A larger table trains distributed. */
  val DriverSymbolCap: Int = 1 << 22

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
    * table, in induction order. Each round takes the single argmax; ties
    * break (cnt DESC, a ASC, b ASC). */
  def merges(docs: DataFrame, rounds: Int): DataFrame = {
    val run = induce(docs, rounds, batchCap = 1, applyLast = false)
    run.vocab.release() // the merge table is driver-side; the vocab goes now
    run.table
  }

  /** [[merges]] plus the FINAL symbol table (word, f, s) — the trained
    * tokenizer already applied to its own training vocabulary, which is
    * what the tokenize-with-learned-merges path consumes (r11 verdict #4).
    * Re-segmenting a fresh symbol table with the returned merge list via
    * [[applyMerges]] produces the identical table (BpeSpec pins the
    * equality) — returning the training-side state just avoids paying the
    * application twice. The symbol table comes back as a
    * [[Materialize.Cut]]: a local relation with a no-op `release` when
    * training ran on the driver ([[Materialize.Cut.onDriver]]), otherwise
    * checkpoint-backed (executor blocks in default mode, checkpoint files
    * in reliable mode). The caller calls its `release()` once it has read
    * the table. Callers that only want the merge table use [[merges]]. */
  def mergesWithVocab(docs: DataFrame, rounds: Int): (DataFrame, Materialize.Cut) = {
    val run = induce(docs, rounds, batchCap = 1, applyLast = true)
    (run.table, run.vocab.cut())
  }

  /** Corpus token totals per training round — the COMPRESSION CURVE each
    * merge buys, the acceptance metric a tokenizer trainer actually
    * watches (round 0 = the chars + `</w>` baseline; Sennrich 2016 §3).
    * Same training loop as [[mergesWithVocab]]; the total after each round
    * is Σ f · |s| — the exact token count of the corpus re-segmented with
    * the merges so far — kept incrementally on the driver, or ONE 1-row
    * aggregate per round on a distributed vocabulary table.
    * Returns (round, total_tokens) for rounds 0..`rounds`. */
  def compressionCurve(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val run = induce(docs, rounds, batchCap = 1, applyLast = true, curve = true)
    run.vocab.release()
    run.totals.zipWithIndex.map { case (t, r) => (r, t) }.toDF("round", "total_tokens")
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
    bc.destroy()
    out
  }

  /** BATCHED merge induction (r14 verdict #2) — the scalable form of
    * [[merges]] and EXACTLY equal to it (BpeSpec pins the theorem on both
    * a planted corpus and the fixture): production tokenizer training is
    * 32k merges, and on a distributed vocabulary one-argmax-collect-plus-
    * one-table-rewrite PER MERGE makes that 32k Spark jobs — the driver
    * loop is the bottleneck, not the data. Here each ROUND merges the
    * longest ranked prefix of the pair-count snapshot that is provably
    * order-equivalent to sequential induction ([[safePrefix]]), so the job
    * count is bound by ROUNDS (merges/batch), not merges.
    *
    * Per distributed round: one pair-count aggregate, ONE bounded collect
    * (the top batchCap+1 ranked rows — O(model), the [[merges]] argmax
    * collect widened), one [[mergePass]] vocabulary pass. Recorded counts
    * are snapshot counts, which rule 1 proves equal the sequential
    * at-turn counts. Returns (round = INDUCTION ORDER, sym_a, sym_b, cnt)
    * — identical schema and contents to [[merges]]. */
  def mergesBatched(docs: DataFrame, totalMerges: Int,
                    batchCap: Int = 64): DataFrame =
    mergesBatchedWithRounds(docs, totalMerges, batchCap)._1

  /** [[mergesBatched]] plus the number of ROUNDS (Spark job groups when
    * distributed) it took — the quantity the scale soak pins: rounds ≪
    * merges is the whole point. */
  def mergesBatchedWithRounds(docs: DataFrame, totalMerges: Int,
                              batchCap: Int): (DataFrame, Int) = {
    require(batchCap >= 1, s"batchCap ($batchCap) must be >= 1")
    val run = induce(docs, totalMerges, batchCap, applyLast = false)
    run.vocab.release()
    (run.table, run.rounds)
  }

  /** The exact-safe prefix of one round's ranking `top` (its `batchCap +
    * 1` highest-ranked pairs): how many of them the round merges. Each
    * accepted pair must still be the sequential argmax at its turn:
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
    *     sequential by definition. */
  private[operators] def safePrefix(top: Array[(String, String, Long)],
                                    batchCap: Int): Int = {
    // rule 1+2: maximal pairwise-disjoint (incl. concats) ranked prefix
    val used = mutable.Set[String]()
    var m = 0
    var stop = false
    while (!stop && m < math.min(batchCap, top.length)) {
      val (a, b, _) = top(m)
      if (used(a) || used(b)) stop = true
      else { used += a; used += b; used += (a + b); m += 1 }
    }
    // rule 3: strict count drop at the boundary, floor at 1
    while (m > 1 && m < top.length && top(m - 1)._3 == top(m)._3) m -= 1
    m
  }

  /** The training state one [[induce]] round reads and rewrites: the
    * vocabulary and what ranks its pairs. */
  private[operators] sealed trait Vocab {
    /** The `k` highest-ranked pairs (a, b, cnt), ordered (cnt DESC, a ASC,
      * b ASC) with strings in UTF-8 byte order — Spark's `orderBy`. */
    def top(k: Int): Array[(String, String, Long)]
    /** Rewrite every word with `batch`, pair after pair. */
    def merge(batch: Array[(String, String)]): Unit
    /** Σ f · |s| — the corpus token count under the merges so far. */
    def tokens(): Long
    /** The current (word, f, s) table and its release handle. */
    def cut(): Materialize.Cut
    /** Free whatever the table holds (its [[cut]] is unusable after). */
    def release(): Unit
  }

  /** Rounds as Spark jobs over a vocabulary table: a [[pairCounts]]
    * aggregate and a top-k collect to rank, a [[mergePass]] cut to
    * rewrite. `syms0` is the persisted round-0 table; every table is
    * freed through its Cut.release handle — unpersist() on a re-wrapped
    * frame is a no-op (r15 advice). */
  private final class SparkVocab(syms0: Materialize.Cut) extends Vocab {
    private var cur = syms0

    def top(k: Int): Array[(String, String, Long)] =
      pairCounts(cur.df)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

    def merge(batch: Array[(String, String)]): Unit = {
      // Materialize.cut, not persist: the fresh leaf keeps every round's
      // plan one node deep and its size estimate from compounding (see
      // [[Materialize]]) at production merge counts
      val next = Materialize.cut(mergePass(cur.df, batch.toSeq))
      cur.release() // previous round's storage, safe now next is materialized
      cur = next
    }

    def tokens(): Long = cur.df.agg(sum(col("f") * size(col("s")))).head().getLong(0)
    def cut(): Materialize.Cut = cur
    def release(): Unit = cur.release()
  }

  /** Rounds on the driver over the collected word table (ids index `words`,
    * `fs` and `syms`), with the incremental pair index: every pair present
    * in some word, its weighted count and the ids of the words holding it,
    * and a ranking of the pairs. A merge rewrites only the words on the
    * pair's posting list; each rewrite moves counts and postings for the
    * pairs the word loses and gains, so the index always equals a fresh
    * [[pairCounts]] over the current table. */
  private final class DriverVocab(spark: SparkSession, words: Array[String],
                                  fs: Array[Long], syms: Array[Array[String]])
      extends Vocab {
    private final class Pair(val a: String, val b: String) {
      val ua: UTF8String = UTF8String.fromString(a)
      val ub: UTF8String = UTF8String.fromString(b)
      var cnt = 0L
      val holders: mutable.Set[Int] = mutable.HashSet[Int]()
    }
    private val index = mutable.HashMap[(String, String), Pair]()
    // pairs with cnt > 0, except the `moved` ones while a rewrite runs
    private val ranking = new java.util.TreeSet[Pair]((x: Pair, y: Pair) => {
      val c = java.lang.Long.compare(y.cnt, x.cnt)
      if (c != 0) c
      else {
        val ca = x.ua.compareTo(y.ua)
        if (ca != 0) ca else x.ub.compareTo(y.ub)
      }
    })
    // pairs whose count the current rewrite changed: out of the ranking
    // (a TreeSet entry's key must not change) until [[settle]]
    private val moved = mutable.HashSet[Pair]()
    private var total = 0L
    syms.indices.foreach { w =>
      val s = syms(w)
      total += fs(w) * s.length
      var i = 0
      while (i < s.length - 1) {
        val p = index.getOrElseUpdate((s(i), s(i + 1)), new Pair(s(i), s(i + 1)))
        p.cnt += fs(w)
        p.holders += w
        i += 1
      }
    }
    index.valuesIterator.foreach(ranking.add)

    /** Word `w` goes from `old` to `neu`: per pair, the change in its
      * occurrences times f moves the count; a pair the word stops (starts)
      * holding drops (gains) the word's posting. */
    private def move(w: Int, old: Array[String], neu: Array[String]): Unit = {
      val occ = mutable.HashMap[(String, String), Array[Int]]()
      def tally(s: Array[String], side: Int): Unit = {
        var i = 0
        while (i < s.length - 1) {
          occ.getOrElseUpdate((s(i), s(i + 1)), new Array[Int](2))(side) += 1
          i += 1
        }
      }
      tally(old, 0)
      tally(neu, 1)
      occ.foreach { case (k, n) =>
        if (n(0) != n(1)) {
          val p = index.getOrElseUpdate(k, new Pair(k._1, k._2))
          if (moved.add(p) && p.cnt > 0) ranking.remove(p)
          p.cnt += (n(1) - n(0)).toLong * fs(w)
          if (n(1) == 0) p.holders -= w else if (n(0) == 0) p.holders += w
        }
      }
      syms(w) = neu
    }

    /** Moved pairs back into the ranking, or out of the index at count 0. */
    private def settle(): Unit = {
      moved.foreach { p => if (p.cnt > 0) ranking.add(p) else index.remove((p.a, p.b)) }
      moved.clear()
    }

    def top(k: Int): Array[(String, String, Long)] = {
      val out = ArrayBuffer[(String, String, Long)]()
      val it = ranking.iterator()
      while (out.length < k && it.hasNext) {
        val p = it.next()
        out += ((p.a, p.b, p.cnt))
      }
      out.toArray
    }

    def merge(batch: Array[(String, String)]): Unit =
      batch.foreach { case (a, b) =>
        index.get((a, b)).foreach { p =>
          p.holders.toArray.foreach { w =>
            val old = syms(w)
            val neu = mergeWord(old, a, b)
            total += fs(w) * (neu.length - old.length)
            move(w, old, neu)
          }
        }
        settle()
      }

    def tokens(): Long = total

    def cut(): Materialize.Cut = {
      import spark.implicits._
      val df = words.indices.map(w => (words(w), fs(w), syms(w))).toDF("word", "f", "s")
      Materialize.Cut(df, () => (), onDriver = true)
    }

    def release(): Unit = ()
  }

  /** The word table on the driver if its symbols fit under `cap`, else
    * None. The collect is bounded: every word has at least two symbols
    * (a character and `</w>`), so a table under the cap has at most cap/2
    * rows and a `limit(cap/2 + 1)` that fills proves it is over. Symbols
    * are interned — the collected arrays hold one String per occurrence. */
  private def collectUnder(syms: DataFrame, cap: Int): Option[DriverVocab] = {
    val rows = syms.select(col("word"), col("f"), col("s"))
      .coalesce(1).limit(cap / 2 + 1).collect()
    if (rows.length > cap / 2 ||
        rows.iterator.map(_.getSeq[String](2).length.toLong).sum > cap) None
    else {
      val intern = mutable.HashMap[String, String]()
      Some(new DriverVocab(syms.sparkSession, rows.map(_.getString(0)),
        rows.map(_.getLong(1)),
        rows.map(_.getSeq[String](2).iterator.map(x => intern.getOrElseUpdate(x, x)).toArray)))
    }
  }

  /** One training run: the merge table, the round count, the corpus token
    * totals (rounds 0.. when asked for) and the final training state. */
  private[operators] final case class Induced(table: DataFrame, rounds: Int,
                                              totals: Seq[Long], vocab: Vocab)

  /** The one induction loop. The word table is collected once if its
    * symbols fit under `cap` ([[DriverVocab]]); otherwise the rounds run
    * as Spark jobs ([[SparkVocab]]). Each round ranks the top `batchCap +
    * 1` pairs, keeps the [[safePrefix]] (with `batchCap = 1` the single
    * argmax, i.e. sequential training) and rewrites the vocabulary. The
    * last round's rewrite feeds nothing unless `applyLast`. With `curve`,
    * the token total of the round-0 table and of every rewritten one is
    * kept. `cap` is [[DriverSymbolCap]] except in tests and the scale
    * soak, which lower it to force the distributed rounds. */
  private[operators] def induce(docs: DataFrame, totalMerges: Int, batchCap: Int,
                                applyLast: Boolean, curve: Boolean = false,
                                cap: Int = DriverSymbolCap): Induced = {
    require(totalMerges >= 1, s"merges ($totalMerges) must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted: the bounded collect computes it in one job, and above
    // the cap the distributed rounds start from it without a second
    // corpus aggregate
    val syms0 = Materialize.persisted(symbolTable(docs))
    val vocab: Vocab = collectUnder(syms0.df, cap) match {
      case Some(v) => syms0.release(); v
      case None => new SparkVocab(syms0)
    }
    val totals = ArrayBuffer[Long]()
    if (curve) totals += vocab.tokens()
    val out = ArrayBuffer[(Int, String, String, Long)]()
    var rounds = 0
    while (out.length < totalMerges) {
      rounds += 1
      val top = vocab.top(batchCap + 1)
      require(top.nonEmpty,
        s"round $rounds: no pairs left after ${out.length} merges")
      val batch = top.take(math.min(safePrefix(top, batchCap), totalMerges - out.length))
      batch.foreach { case (a, b, c) => out += ((out.length + 1, a, b, c)) }
      if (out.length < totalMerges || applyLast) {
        vocab.merge(batch.map(t => (t._1, t._2)))
        if (curve) totals += vocab.tokens()
      }
    }
    Induced(out.toSeq.toDF("round", "sym_a", "sym_b", "cnt"), rounds, totals.toSeq, vocab)
  }
}
