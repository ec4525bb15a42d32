package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Measure, SparkSpecBase}

/** graft.operators.Bpe (SURVEY.md §2 B84): the merge loop must follow the
  * textbook semantics exactly — overlapping pair counting, (cnt DESC, pair
  * ASC) tie-break, and GREEDY left-to-right application with the
  * every-other-match rule inside identical-symbol runs (the one case where
  * matches overlap). All expectations here are hand-derived. */
class BpeSpec extends SparkSpecBase {

  private def docsDf(text: String) = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text")
  }

  test("three rounds on a planted corpus: counts, tie-breaks, and greedy application") {
    // corpus: aaab x2, aab x1 → symbols aaab=[a,a,a,b,</w>], aab=[a,a,b,</w>]
    // round 1: (a,a) counted WITH overlap = 2*2 + 1 = 5 beats (a,b)=3,
    //   (b,</w>)=3; applying merges only the FIRST aa of aaab (greedy):
    //   aaab→[aa,a,b,</w>], aab→[aa,b,</w>]
    // round 2: (b,</w>) = 3 beats (aa,a)=2, (a,b)=2, (aa,b)=1
    // round 3: tie at 2 between (a,b</w>) and (aa,a) → pair-ASC picks
    //   ("a","b</w>")
    val got = Bpe.merges(docsDf("aaab aaab aab"), rounds = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1, "a", "a", 5L),
      (2, "b", "</w>", 3L),
      (3, "a", "b</w>", 2L)))
  }

  test("applyMerge keeps every other match inside an identical-symbol run") {
    // "aaaa" = [a,a,a,a,</w>]: matches at 0,1,2 chain — greedy takes 0 and
    // 2 → [aa,aa,</w>]; "aaa" = [a,a,a,</w>]: matches 0,1 → take 0 →
    // [aa,a,</w>]
    val syms = Bpe.symbolTable(docsDf("aaaa aaa"))
    val out = BpeSpec.applyMerge(syms, "a", "a")
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(out("aaaa") === Seq("aa", "aa", "</w>"))
    assert(out("aaa") === Seq("aa", "a", "</w>"))
    assert(Bpe.mergeWord(Array("a", "a", "a", "a", "</w>"), "a", "a").toSeq ===
      Seq("aa", "aa", "</w>"))
    assert(Bpe.mergeWord(Array("a", "a", "a", "</w>"), "a", "a").toSeq ===
      Seq("aa", "a", "</w>"))
  }

  test("applying the learned merge table reproduces the training-side symbol table") {
    // r11 verdict #4: the tokenizer APPLY path (a fresh symbol table
    // re-segmented with the frozen merge list via applyMerges) must equal
    // the state training itself reached — two different code paths
    // (one cut per training round vs one in-order fold pass) over the same rule.
    val docs = docsDf("aaab aaab aab to to go")
    val (tbl, trained) = Bpe.mergesWithVocab(docs, rounds = 3)
    val learned = tbl.orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val applied = Bpe.applyMerges(Bpe.symbolTable(docs), learned)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[String](2)))).toMap
    val t = trained.df
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[String](2)))).toMap
    assert(applied === t)
    trained.release()
  }

  test("learned-merge tokenization: hand-derived segmentations") {
    // corpus aaab x2, aab -> merges (a,a), (b,</w>), (a,b</w>) (first test);
    // aaab: [a,a,a,b,</w>] -> [aa,a,b,</w>] -> [aa,a,b</w>] -> [aa,ab</w>]
    // aab:  [a,a,b,</w>]   -> [aa,b,</w>]   -> [aa,b</w>]  -> (aa != a: stop)
    val (_, vocab) = Bpe.mergesWithVocab(docsDf("aaab aaab aab"), rounds = 3)
    val m = vocab.df.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(m("aaab") === Seq("aa", "ab</w>"))
    assert(m("aab") === Seq("aa", "b</w>"))
    vocab.release()
  }

  test("compression curve: hand-derived corpus token totals per round") {
    // corpus aaab x2, aab: round 0 = chars+</w> = 2·5 + 4 = 14;
    // after (a,a): 2·4 + 3 = 11; after (b,</w>): 2·3 + 2 = 8;
    // after (a,b</w>): 2·2 + 2 = 6 — each merge's marginal win measured
    val got = Bpe.compressionCurve(docsDf("aaab aaab aab"), rounds = 3)
      .orderBy(col("round")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got === Seq((0, 14L), (1, 11L), (2, 8L), (3, 6L)))
  }

  test("symbol table weights by word frequency and terminates words") {
    val st = Bpe.symbolTable(docsDf("to to to go"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[String](2))).toMap
    assert(st("to") === ((3L, Seq("t", "o", "</w>"))))
    assert(st("go") === ((1L, Seq("g", "o", "</w>"))))
  }

  private def mergeRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("round")).collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("batched ≡ sequential theorem: planted corpora exercising every prefix rule") {
    // r14 verdict #2 — mergesBatched must reproduce merges() EXACTLY.
    // Corpus A exercises rule 1 + coalescing. Doubled words ('abab' x5,
    // 'cdcd' x4, 'efef' x3): the internal pair counts TWICE per
    // occurrence, so (a,b)=10 > (c,d)=8 > (e,f)=6 strictly dominate every
    // other pair ((b,a)/(b,</w>)=5 at best) and are symbol-disjoint —
    // round 1 must take all three. Merge 4 is then (ab,</w>) (tie with
    // (ab,ab) at 5 broken by b ASC, '<'<'a'), which conflicts with
    // everything at its count — a second round of one.
    val a = docsDf(Seq.fill(5)("abab").mkString(" ") + " " +
      Seq.fill(4)("cdcd").mkString(" ") + " " + Seq.fill(3)("efef").mkString(" "))
    val (gotA, roundsA) = Bpe.mergesBatchedWithRounds(a, totalMerges = 4,
      batchCap = 8)
    assert(mergeRows(gotA) === mergeRows(Bpe.merges(a, rounds = 4)),
      "batched diverged from sequential on the disjoint corpus")
    assert(mergeRows(gotA).take(3) === Seq((1, "a", "b", 10L),
      (2, "c", "d", 8L), (3, "e", "f", 6L)), "hand-derived sequence changed")
    assert(roundsA === 2,
      s"3 disjoint merges + 1 should take exactly 2 rounds, took $roundsA")

    // Corpus B exercises rule 2 (stop at first conflict): 'aaab aab' makes
    // round 1's top pairs share symbols — (a,a) then (a,b)/(b,</w>) all
    // touch 'a' or 'b' chains — so batches stay small but the result must
    // still equal sequential.
    val b = docsDf("aaab aaab aab")
    val (gotB, _) = Bpe.mergesBatchedWithRounds(b, totalMerges = 3,
      batchCap = 8)
    assert(mergeRows(gotB) === mergeRows(Bpe.merges(b, rounds = 3)),
      "batched diverged from sequential on the conflict-heavy corpus")
    assert(mergeRows(gotB) === Seq((1, "a", "a", 5L), (2, "b", "</w>", 3L),
      (3, "a", "b</w>", 2L)), "hand-derived sequence changed")

    // Corpus C exercises rule 3 (the boundary tie trim is LOAD-BEARING):
    // 'aib' ranks (a,i), (b,</w>), (i,b) all at count 1 — (b,</w>) is
    // symbol-disjoint from (a,i) so rules 1+2 alone would batch it, but
    // sequential merge 2 is (ai,b) (the pair CREATED by merge 1, winning
    // the count-1 tie on a ASC: 'ai' < 'b'). The trim must shrink the
    // batch to 1; without it the batched table would be wrong.
    val c = docsDf("aib")
    val (gotC, _) = Bpe.mergesBatchedWithRounds(c, totalMerges = 2,
      batchCap = 8)
    assert(mergeRows(gotC) === mergeRows(Bpe.merges(c, rounds = 2)),
      "batched diverged from sequential on the boundary-tie corpus")
    assert(mergeRows(gotC)(1)._2 === "ai",
      "merge 2 should be the created pair (ai,b) — tie trim not exercised")
  }

  test("batched ≡ sequential on the fixture corpus; rounds bound the job count") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val (got, rounds) = Bpe.mergesBatchedWithRounds(docs, totalMerges = 8,
      batchCap = 4)
    assert(mergeRows(got) === mergeRows(Bpe.merges(docs, rounds = 8)),
      "batched diverged from sequential on the fixture corpus")
    assert(rounds < 8,
      s"batching never coalesced on the fixture (rounds=$rounds of 8 " +
        "merges) — the catalog entry's batching is vacuous")
    // job-count guard: the bounds are the counts the driver-resident
    // rounds take on this fixture (the distributed typed rounds took 10
    // and 22, the relational rewrite 23 and 70); a return to a job per
    // round fails here, not only in the bench
    val seqJobs = Measure.during(spark)(Bpe.merges(docs, rounds = 3).collect())._2.jobs
    assert(seqJobs <= 2, s"Bpe.merges(docs, 3) ran $seqJobs jobs, bound 2")
    val batJobs = Measure.during(spark)(
      Bpe.mergesBatched(docs, totalMerges = 8, batchCap = 4).collect())._2.jobs
    assert(batJobs <= 2, s"Bpe.mergesBatched(docs, 8, 4) ran $batJobs jobs, bound 2")
    // and the distributed rounds learn the same, sequential and batched
    assertSamePaths(docs, 8, batchCap = 1, "fixture sequential")
    assertSamePaths(docs, 8, batchCap = 4, "fixture batched")
  }

  /** Everything one training run returns — merge table, round count,
    * token curve, final vocabulary — and whether it ran on the driver. */
  private def trained(docs: DataFrame, merges: Int, batchCap: Int, cap: Int) = {
    val run = Bpe.induce(docs, merges, batchCap, applyLast = true, curve = true, cap = cap)
    val v = run.vocab.cut()
    try ((mergeRows(run.table), run.rounds, run.totals, table(v.df)), v.onDriver)
    finally v.release()
  }

  /** Driver-resident and distributed training of the same corpus agree on
    * every output, and each ran where it was asked to. */
  private def assertSamePaths(docs: DataFrame, merges: Int, batchCap: Int, what: String) = {
    val (drv, onDriver) = trained(docs, merges, batchCap, Bpe.DriverSymbolCap)
    val (dist, distOnDriver) = trained(docs, merges, batchCap, cap = 0)
    assert(onDriver && !distOnDriver, s"$what: the cap did not pick the paths")
    assert(drv === dist, s"$what: driver-resident training diverged from distributed")
    drv
  }

  test("driver-resident ≡ distributed rounds on the planted corpora") {
    val planted = Seq(
      Seq.fill(5)("abab").mkString(" ") + " " + Seq.fill(4)("cdcd").mkString(" ") +
        " " + Seq.fill(3)("efef").mkString(" "),
      "aaab aaab aab", "aib", "aaab aaab aab to to go")
    for (text <- planted; batchCap <- Seq(1, 8)) {
      val merges = if (text == "aib") 2 else 4
      assertSamePaths(docsDf(text), merges, batchCap, s"'$text' batchCap $batchCap")
    }
  }

  test("driver-resident ranking breaks count ties in UTF-8 byte order, as orderBy does") {
    // U+FF21 ('Ａ') is EF BC A1 in UTF-8 and U+1F600 is F0 9F 98 80, so
    // UTF-8 (and Spark's orderBy) puts Ａ first; UTF-16 String.compareTo
    // compares the surrogate D83D with FF21 and puts the emoji first
    val (fw, emoji) = (new String(Character.toChars(0xFF21)),
      new String(Character.toChars(0x1F600)))
    assert(fw.compareTo(emoji) > 0, "the planted pair no longer splits the two orders")
    val docs = docsDf(s"$fw $emoji")
    val s = spark
    import s.implicits._
    val byOrderBy = Seq((fw, "</w>"), (emoji, "</w>")).toDF("a", "b")
      .orderBy(col("a"), col("b")).head().getString(0)
    assert(byOrderBy === fw)
    val drv = assertSamePaths(docs, 1, batchCap = 1, "UTF-8 tie")
    assert(drv._1 === Seq((1, fw, "</w>", 1L)))
  }

  test("property: the incremental pair index equals a full recount on random corpora") {
    // ASCII alphabets, so String order is UTF-8 order; every round the
    // reference recounts all pairs of its own table and takes the argmax
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd".take(2 + seed % 3)
      val words = Seq.fill(80)(
        Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = docsDf(words.mkString(" "))
      var ref = table(Bpe.symbolTable(docs))
      val want = (1 to 12).map { r =>
        val cnt = ref.values.toSeq.flatMap { case (f, sy) =>
          sy.sliding(2).collect { case Seq(a, b) => (a, b) -> f }
        }.groupMapReduce(_._1)(_._2)(_ + _)
        val ((a, b), c) = cnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        ref = ref.map { case (w, (f, sy)) => w -> ((f, Bpe.mergeWord(sy.toArray, a, b).toSeq)) }
        (r, a, b, c)
      }
      val (drv, onDriver) = trained(docs, 12, 1, Bpe.DriverSymbolCap)
      assert(onDriver)
      assert(drv._1 === want, s"seed $seed")
      assert(drv._4 === ref, s"seed $seed final vocabulary")
      assert(drv._3.last === ref.values.map { case (f, sy) => f * sy.length }.sum)
    }
  }

  /** (word → (f, s)) of a symbol table, for whole-table comparisons. */
  private def table(df: DataFrame): Map[String, (Long, Seq[String])] =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[String](2)))).toMap

  test("property: the typed merge pass equals the relational rewrite on random corpora") {
    // 2–3 letter alphabets give long runs of one letter (the a = b islands)
    // and symbols re-created by different merges (a·ab and aa·b are both
    // aab); every round compares the WHOLE (word, f, s) table
    val s = spark
    import s.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc".take(2 + seed % 2)
      val words = Seq.fill(60)(
        Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      var cur = table(Bpe.symbolTable(docsDf(words.mkString(" "))))
      def df = cur.toSeq.map { case (w, (f, sy)) => (w, f, sy) }.toDF("word", "f", "s")
      def pairs = cur.values.toSeq.flatMap(_._2.sliding(2).collect {
        case Seq(a, b) => (a, b)
      }).distinct.sorted
      for (round <- 1 to 6) {
        val ps = pairs
        val batch =
          if (round % 3 != 0) { // single merge, an a = b pair half the time
            val same = ps.filter(p => p._1 == p._2)
            Seq(if (same.nonEmpty && rnd.nextBoolean()) same(rnd.nextInt(same.length))
                else ps(rnd.nextInt(ps.length)))
          } else { // a pairwise-disjoint batch (mergesBatched's rule 1)
            val used = scala.collection.mutable.Set[String]()
            rnd.shuffle(ps).filter { case (a, b) =>
              val ok = !used(a) && !used(b)
              if (ok) used ++= Seq(a, b, a + b)
              ok
            }.take(3)
          }
        val typed = table(Bpe.mergePass(df, batch))
        val relational = table(
          if (batch.size == 1) BpeSpec.applyMerge(df, batch.head._1, batch.head._2)
          else BpeSpec.applyMergeBatch(df, batch))
        assert(typed === relational, s"seed $seed round $round batch $batch")
        cur = typed
      }
    }
  }

  test("applyMerges is sequential, not lowest-rank-pair-first") {
    // table (a,b) (b,c) (a,bc) (abc,d) (ab,c) on "abcd": sequentially,
    // (a,b) → [ab,c,d,</w>]; (b,c), (a,bc), (abc,d) find nothing; (ab,c)
    // → [abc,d,</w>]. A lowest-rank-pair-first loop would then fire
    // (abc,d), which ranks before (ab,c), and return [abcd,</w>]
    val learned = Seq("a" -> "b", "b" -> "c", "a" -> "bc", "abc" -> "d", "ab" -> "c")
    val syms = Bpe.symbolTable(docsDf("abcd"))
    val got = table(Bpe.applyMerges(syms, learned))
    assert(got("abcd")._2 === Seq("abc", "d", "</w>"))
    val ref = learned.foldLeft(syms) { case (t, (a, b)) => BpeSpec.applyMerge(t, a, b) }
    assert(got === table(ref))
  }

  test("applyMerges refuses a learned table past the broadcast cap") {
    val cap = Bpe.MaxLearnedMerges
    val e = intercept[IllegalArgumentException] {
      Bpe.applyMerges(Bpe.symbolTable(docsDf("ab")), Vector.fill(cap + 1)("a" -> "b"))
    }
    assert(e.getMessage.contains(s"cap of $cap") && e.getMessage.contains(s"${cap + 1} merges"),
      e.getMessage)
  }
}

/** The RELATIONAL form of the merge rewrite — the kernel's cross-check.
  * Greedy left-to-right application as gaps-and-islands: for a pair (a, b)
  * with a ≠ b two matches can never overlap (positions i and i+1 both
  * matching forces a = b), so every match is taken; for a = b, matches
  * inside a run of identical symbols overlap chain-wise and greedy takes
  * every OTHER one (group consecutive match positions, keep odd ranks).
  * The DuckDB oracle's sqlBpeRound replays the same rule. */
object BpeSpec {

  /** Apply ONE merge (a0, b0) greedily left-to-right to every word. */
  def applyMerge(syms: DataFrame, a0: String, b0: String): DataFrame = {
    val byI = Window.partitionBy(col("word")).orderBy(col("i"))
    val ex = syms.select(col("word"), col("f"),
      posexplode(col("s")).as(Seq("i", "sym")))
    val matches = ex
      .withColumn("nxt", lead(col("sym"), 1).over(byI))
      .filter(col("sym") === a0 && col("nxt") === b0)
      .withColumn("rn", row_number().over(byI))
      .withColumn("grp", col("i") - col("rn"))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("word"), col("grp")).orderBy(col("i"))))
      .filter(col("rn2") % 2 === 1)
      .select(col("word"), col("i"))
    val starts = matches.withColumn("chosen", lit(true))
    val absorbed = matches.select(col("word"), (col("i") + 1).as("i"),
      lit(true).as("absorbed"))
    ex.join(starts, Seq("word", "i"), "left")
      .join(absorbed, Seq("word", "i"), "left")
      .filter(col("absorbed").isNull)
      .select(col("word"), col("f"), col("i"),
        when(col("chosen"), lit(a0 + b0)).otherwise(col("sym")).as("sym"))
      .groupBy(col("word"), col("f"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sym")))),
        x => x.getField("sym")).as("s"))
  }

  /** Apply a BATCH of pairwise-disjoint merges simultaneously. Under the
    * precondition (no two pairs share a symbol, none contains another's
    * concatenation) match SITES of different pairs never overlap, so the
    * simultaneous rewrite equals applying the batch sequentially in any
    * order. The run grouping is keyed per (word, pair): a same-symbol run
    * only ever contains ONE pair's matches, so the per-pair islands are
    * exactly the single-pair islands. */
  def applyMergeBatch(syms: DataFrame, batch: Seq[(String, String)]): DataFrame = {
    require(batch.nonEmpty, "applyMergeBatch on an empty batch")
    val spark = syms.sparkSession
    import spark.implicits._
    val byI = Window.partitionBy(col("word")).orderBy(col("i"))
    val byPair = Window.partitionBy(col("word"), col("pa"), col("pb"))
      .orderBy(col("i"))
    val ex = syms.select(col("word"), col("f"),
      posexplode(col("s")).as(Seq("i", "sym")))
    val pdf = batch.toDF("pa", "pb")
    val matches = ex
      .withColumn("nxt", lead(col("sym"), 1).over(byI))
      .join(broadcast(pdf), col("sym") === col("pa") && col("nxt") === col("pb"))
      .withColumn("rn", row_number().over(byPair))
      .withColumn("grp", col("i") - col("rn"))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("word"), col("pa"), col("pb"), col("grp"))
          .orderBy(col("i"))))
      .filter(col("rn2") % 2 === 1)
      .select(col("word"), col("i"), concat(col("pa"), col("pb")).as("merged"))
    val absorbed = matches.select(col("word"), (col("i") + 1).as("i"),
      lit(true).as("absorbed"))
    ex.join(matches, Seq("word", "i"), "left")
      .join(absorbed, Seq("word", "i"), "left")
      .filter(col("absorbed").isNull)
      .select(col("word"), col("f"), col("i"),
        coalesce(col("merged"), col("sym")).as("sym"))
      .groupBy(col("word"), col("f"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sym")))),
        x => x.getField("sym")).as("s"))
  }
}
