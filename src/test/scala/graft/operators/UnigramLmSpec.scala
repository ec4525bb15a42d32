package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (B121) — the BpeSpec convention: a
  * planted corpus small enough to hand-derive EVERY number of the EM
  * round, so the integer-ppm share arithmetic (the exact-integer stand-in
  * for Kudo 2018's lattice posteriors) is pinned constant-by-constant.
  *
  * Fixture: docs { "aa ab", "ab" } ×2 with maxPieceLen=2, minCount=3
  * (the ×2 keeps every surviving piece's renormalized weight ≥ 1 so the
  * r14-ADVICE renormalization (`w ← wr DIV 1e6`, chars clamped ≥ 1)
  * still leaves a multi-char piece alive to pin).
  *  - words: aa f=2, ab f=4
  *  - occurrence mass: a=8 (two in "aa"·2 + one in "ab"·4), aa=2, ab=4, b=4
  *  - candidates (tf ≥ 3 OR len=1): a(8), ab(4), b(4) — "aa" EXCLUDED
  *    (the minCount branch is non-vacuous)
  *  - EM round 1:
  *      word "aa" pos0: only candidate a (aa is out) → share(a)=1e6
  *      word "aa" pos1: a → 1e6
  *      word "ab" pos0: a(8), ab(4), dw=12 → share(a)=8e6 DIV 12=666666,
  *        share(ab)=4e6 DIV 12=333333 (DIV truncation pinned)
  *      word "ab" pos1: b → 1e6
  *    raw masses: a = 2·1e6 + 2·1e6 + 4·666666 = 6666664
  *                ab = 4·333333 = 1333332;  b = 4·1e6 = 4000000
  *    renormalized (DIV 1e6, chars ≥ 1): a = 6, ab = 1, b = 4
  */
class UnigramLmSpec extends SparkSpecBase {
  import org.apache.spark.sql.{DataFrame, Row}

  /** All (word, f, pos, piece) substring occurrences with
    * 1 ≤ len(piece) ≤ maxPieceLen, SQL substring semantics (code points)
    * as the DuckDB oracle segments; pos is 0-based. The relational
    * baseline the typed `UnigramLm.cpPieces` replaced on the hot path. */
  private def occurrences(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("word"), col("f"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(word) - 1), p ->
             |  transform(sequence(1, least($maxPieceLen, length(word) - p)), l ->
             |    struct(p AS pos, substring(word, p + 1, l) AS piece))))"""
            .stripMargin)).as("o"))
      .select(col("word"), col("f"), col("o.pos").as("pos"),
        col("o.piece").as("piece"))

  private def plantedDocs = {
    val s = spark
    import s.implicits._
    Seq("aa ab", "ab", "aa ab", "ab").toDF("text")
  }

  test("hand-derived EM round: candidate gate, integer shares, weights") {
    val trained = UnigramLm.train(plantedDocs, maxPieceLen = 2,
      minCount = 3L, emRounds = 1)
    val got = trained.collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("w")).toMap
    assert(got === Map("a" -> 6L, "ab" -> 1L, "b" -> 4L),
      s"EM round diverged from the hand derivation: $got")
    assert(!got.contains("aa"), "minCount gate failed: 'aa' (tf=2) survived")
  }

  test("vocab prune: top-V by (w DESC, piece ASC); chars kept unconditionally") {
    val trained = UnigramLm.train(plantedDocs, maxPieceLen = 2,
      minCount = 3L, emRounds = 1)
    // vocabTarget=1: only 'a' makes the cut — 'b' survives ONLY through
    // the char-coverage branch (non-vacuous), 'ab' is pruned.
    val v = UnigramLm.vocab(trained, vocabTarget = 1).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("piece"),
        r.getAs[Long]("w")))
    assert(v.toSeq === Seq((1, "a", 6L), (2, "b", 4L)),
      s"pruned vocab diverged: ${v.toSeq}")
  }

  test("Viterbi apply: DP equals an exhaustive-enumeration reference at two cost scales") {
    // B125: the min-plus-doubling DP must equal the DEFINITION — the
    // lexicographic (cost, n_tokens) minimum over ALL segmentations of
    // each word into trained-vocab pieces. Exhaustive enumeration is the
    // structurally different second witness (the DuckDB replay is the
    // first). Two scales: 1e7 makes [a,b] (cost 4+6=10) beat [ab]
    // (cost 16) on "ab" — the per-piece cost genuinely steers the
    // segmentation, not just the token count.
    val s = spark
    import s.implicits._
    val docs = plantedDocs
    val trainedW = UnigramLm.train(docs, maxPieceLen = 2, minCount = 3L,
      emRounds = 1).collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("w")).toMap
    def enumerate(word: String, scale: Long): (Long, Long) = {
      // all segmentations; min combined = cost*64 + ntok. Mirrors the
      // operator's w >= 1 edge gate (zero-weight pieces are unusable).
      def best(s0: String): Option[Long] =
        if (s0.isEmpty) Some(0L)
        else (1 to math.min(2, s0.length)).flatMap { l =>
          val piece = s0.substring(0, l)
          trainedW.get(piece).filter(_ >= 1L).flatMap { w =>
            best(s0.substring(l)).map(rest =>
              (1L + scale / w) * 64 + 1 + rest)
          }
        }.minOption
      val c = best(word).get
      (c / 64, c % 64)
    }
    Seq(10000000L, 1L).foreach { scale =>
      val got = UnigramLm.viterbiSegment(docs, maxPieceLen = 2,
          minCount = 3L, emRounds = 1, costScale = scale, maxWordLen = 30)
        .collect()
        .map(r => r.getAs[String]("word") ->
          ((r.getAs[Long]("cost"), r.getAs[Long]("n_tokens")))).toMap
      Seq("aa", "ab").foreach { w =>
        assert(got(w) === enumerate(w, scale),
          s"DP diverges from exhaustive Viterbi for '$w' at scale $scale")
      }
    }
    // the steering claim: at 1e7 the per-piece costs split "ab" into
    // [a, b] (2 tokens) even though [ab] (1 token) exists in the vocab
    val steered = UnigramLm.viterbiSegment(docs, 2, 3L, 1, 10000000L, 30)
      .filter(col("word") === "ab").collect().head
    assert(steered.getAs[Long]("n_tokens") === 2L,
      "cost steering vacuous: the 1-token segmentation won anyway")
  }

  test("EM is mass-bounded and keeps every single character (fixture corpus)") {
    // invariants on the real fixture: (1) per-(word,pos) shares sum to
    // <= 1e6 per position and every round RENORMALIZES back to mass
    // scale (r14 ADVICE), so total round-r weight <= total occurrence
    // mass at EVERY round — the int64 safety argument on the operator,
    // now 1e6x tighter than the pre-renormalization bound; (2) every
    // character of the corpus survives training (coverage).
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val occ = occurrences(UnigramLm.wordFreq(docs, 30), 4)
    val totalMass = occ.agg(sum(col("f"))).collect()(0).getLong(0)
    val trained = UnigramLm.train(docs, maxPieceLen = 4, minCount = 500L,
      emRounds = 2)
    val totalW = trained.agg(sum(col("w"))).collect()(0).getLong(0)
    assert(totalW <= totalMass,
      s"round weight $totalW exceeds occurrence mass $totalMass")
    val chars = occ.filter(length(col("piece")) === 1)
      .select(col("piece")).distinct().collect().map(_.getString(0)).toSet
    val kept = trained.select(col("piece")).collect().map(_.getString(0)).toSet
    assert(chars.subsetOf(kept),
      s"coverage broken: missing chars ${chars -- kept}")
  }

  test("train refuses a model past the broadcast cap") {
    // 24-hex-char words: each has 190 pieces of length >= 6, distinct
    // across words in all but a few hundred cases, so 6000 words give
    // over 2^20 candidate pieces at minCount 1
    val docs = spark.range(6000)
      .select(substring(sha2(col("id").cast("string"), 256), 1, 24).as("text"))
    val cap = UnigramLm.MaxModelPieces
    val e = intercept[IllegalArgumentException] {
      UnigramLm.train(docs, maxPieceLen = 24, minCount = 1L, emRounds = 1)
    }
    assert(e.getMessage.contains(s"cap of $cap") &&
      e.getMessage.matches(".*UnigramLm model has [0-9]+ pieces.*"), e.getMessage)
  }
}
