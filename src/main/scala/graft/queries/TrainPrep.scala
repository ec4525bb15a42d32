package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import QUtil.sqlScoreReplay

/** Training-data preparation operators (SURVEY.md §2 B60/B61): benchmark
  * contamination detection, document chunking, deterministic sequence
  * packing, embedding int8 quantization and rare-token quality scoring —
  * the sequence/corpus-shaping steps that sit between curation (Curation)
  * and dedup/similarity (LlmOps) in a large-scale pipeline.
  *
  * Determinism rules (the DuckDB oracle hash-compares): every fraction is
  * an integer-ppm (`floor(k * 1e6 / n)` over exact ints — both engines
  * IEEE-divide exact integers, and a true quotient ≥ 1/n away from any
  * integer cannot round across `floor`), quantization rounds via
  * `floor(x + 0.5)` (identical in both engines; `round()` half-up ties
  * differ), and chunk/vector payloads travel as md5 digests so the compare
  * proves bytes, not just counts.
  */
object TrainPrep {
  type Q = (SparkSession, String) => DataFrame

  /** Context-length budget for q_seq_pack (tokens per packed sequence).
    * Small so sf0.01 produces several bins per pack group; production sets
    * 4096/8192. */
  private val PackBudget = 512

  /** Docs with doc_id < 25 act as the held-out benchmark set for
    * q_contamination. The split is CONSTANT-SIZED by construction (25 docs
    * at every scale factor), matching the real workload shape: an eval
    * suite (MMLU etc.) is a fixed few-thousand-document set that does not
    * grow with the training corpus, which is exactly what makes the
    * broadcast join below correct at 100 TB. A benchmark set that did
    * scale with the corpus (a percentage split) would exceed the broadcast
    * threshold — production would then switch to a shuffle join with a
    * bloom prefilter on the shingle hash. */
  private val BenchCount = 25

  val defs: Map[String, Q] = Map(
    // B60 contamination: 4-token shingle overlap between the training split
    // and a held-out benchmark split. Distinct (doc, shingle) pairs on the
    // train side LEFT-join the BROADCAST distinct benchmark shingle set (no
    // shuffle of the 100 TB side; bench sets are always broadcast-sized),
    // then one partial+final aggregate per doc. Flags every train doc
    // sharing ≥1 shingle with the benchmark — the pre-training hygiene
    // check every eval suite needs.
    "q_contamination" -> { (s, d) =>
      // Typed-flatMap shingle generator (graft.operators.NearDup) — the
      // codegen-friendly path; a transform-under-explode HOF would run in
      // CodegenFallback ~8x slower on the 100 TB side of this join. The
      // doc_id split happens BEFORE the generator: a filter above a typed
      // flatMap cannot push through DeserializeToObject, so filtering
      // first is what keeps the benchmark branch a constant-sized scan
      // instead of a second full shingle pass.
      val docs = Tables.documents(s, d)
      val bench = graft.operators.NearDup
        .shingles(docs.filter(col("doc_id") < BenchCount), width = 4)
        .select(col("sh")).distinct().withColumn("hit", lit(1L))
      graft.operators.NearDup
        .shingles(docs.filter(col("doc_id") >= BenchCount), width = 4)
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
        .filter(col("n_hit") > 0)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          floor(col("n_hit") * 1000000 / col("n_shingles").cast("double"))
            .cast("long").as("hit_ppm"))
        .orderBy(col("doc_id"))
    },

    // B60 chunking: fixed 64-token windows at stride 48 (16-token overlap)
    // — the sequence-prep step before tokenization. A trailing window
    // whose content is a strict subset of the previous one (start + overlap
    // ≥ n_toks) is skipped: emitting it would silently duplicate up to 16
    // tokens per doc in the training corpus. The chunk text travels as md5
    // so the oracle proves the exact byte content of every window.
    "q_doc_chunks" -> { (s, d) =>
      // Typed flatMap generator (not transform-under-explode — HOFs under
      // Generate run in CodegenFallback); md5 stays a codegen'd built-in.
      // split(" ", -1) keeps trailing empties = Spark SQL / DuckDB split.
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val tk = text.split(" ", -1)
          Iterator.range(0, tk.length, 48)
            .filter(st => st == 0 || tk.length > st + 16)
            .map { st =>
              val ch = tk.slice(st, st + 64)
              (id, st, ch.length, ch.mkString(" "))
            }
        }
        .toDF("doc_id", "start", "n_chunk_toks", "chunk_text")
        .select(col("doc_id"), col("start"), col("n_chunk_toks"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("start"))
    },

    // B60 sequence packing: docs are sharded into 8 pack groups (doc_id %
    // 8) and greedily packed in doc_id order — a doc opens in the bin its
    // preceding cumulative token count falls in. The running sum is the one
    // inherently sequential step of packing; sharding first bounds each
    // window partition, so parallelism = #groups and no global sort exists
    // (the standard shard-then-pack layout; at 100 TB groups = O(cores)).
    "q_seq_pack" -> { (s, d) =>
      val w = Window.partitionBy(col("pack_group")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 8).as("pack_group"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("bin",
          floor((col("cum") - col("n_toks")) / lit(PackBudget.toDouble)).cast("long"))
        .groupBy(col("pack_group"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
        .select(col("pack_group"), col("bin"), col("n_docs"), col("sum_toks"),
          floor(col("sum_toks") * 1000000 / lit(PackBudget.toDouble))
            .cast("long").as("fill_ppm"))
        .orderBy(col("pack_group"), col("bin"))
    },

    // B61 int8 quantization: symmetric per-vector max-abs scaling to
    // [-127, 127] — the storage/serving compression step for embedding
    // columns (4x smaller, dot products in integer SIMD). Pure per-row
    // codegen'd array math, zero shuffle; the quantized vector is digested
    // to md5 and summed exactly, so the oracle pins every int8 value.
    "q_embed_quant" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("scale",
          array_max(transform(col("embedding"), v => abs(v.cast("double")))))
        // an all-zero vector has scale 0 → v/scale is NaN, which Spark
        // would silently floor to 0 while DuckDB errors casting to BIGINT;
        // zero vectors carry no signal and are excluded on BOTH sides
        .filter(col("scale") > 0)
        .withColumn("qv", transform(col("embedding"),
          v => floor(v.cast("double") / col("scale") * 127 + 0.5).cast("long")))
        .select(col("vec_id"), size(col("embedding")).as("n_dims"),
          aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x)).as("sum_abs_q"),
          md5(concat_ws(",", transform(col("qv"), _.cast("string")))).as("q_md5"))
        .orderBy(col("vec_id"))
    },

    // B60 data-mixture resampling: per-language upsampling weights applied
    // as deterministic fractional repetition — every doc gets floor(w)
    // copies plus one more when its 28-bit md5 hash falls under the
    // fractional part (hash-thresholding, not rand(): reproducible across
    // runs, partitions and engines — the property a resumable 100 TB
    // mixture job needs). The repetition is a real sequence-explode (the
    // oracle counts the exploded rows), copies are bounded by ceil(max w),
    // and the weight table is a broadcast literal.
    "q_data_mixture" -> { (s, d) =>
      val weights = s.createDataFrame(Seq(
        ("en", 1, 0), ("de", 2, 500), ("fr", 2, 500), ("es", 3, 250),
        ("zh", 4, 0))).toDF("lang", "wf", "ft")
      Tables.documents(s, d)
        .withColumn("h", graft.operators.NearDup.h28(col("doc_id").cast("string")))
        .join(broadcast(weights), Seq("lang"))
        .withColumn("copies",
          col("wf") + when(col("h") % 1000 < col("ft"), 1).otherwise(0))
        .select(col("lang"), col("doc_id"),
          explode(sequence(lit(1), col("copies"))).as("rep"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_in"), count(lit(1)).as("n_out"))
        .select(col("lang"), col("n_in"), col("n_out"),
          floor(col("n_out") * 1000000 / col("n_in").cast("double"))
            .cast("long").as("ratio_ppm"))
        .orderBy(col("lang"))
    },

    // B61 feature hashing (the hashing trick): fixed 16-dim bag-of-words
    // count vector per doc, dim = 28-bit md5 term hash mod 16 — the
    // vocabulary-free text vectorizer (no dictionary to build, ship or
    // broadcast; dimensionality is a constant, collisions are the accepted
    // trade). ONE partial+final HashAggregate with 16 codegen'd conditional
    // sums — no pivot, no per-dim shuffle; the vector is md5-pinned.
    "q_text_hashvec" -> { (s, d) =>
      val h = graft.operators.NearDup.h28(col("term"))
      val dims = (0 until 16).map(j =>
        sum(when(col("hb") === j, 1L).otherwise(0L)).as(s"v$j"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .withColumn("hb", h % 16)
        .groupBy(col("doc_id"))
        .agg(dims.head, dims.tail: _*)
        .select(col("doc_id"),
          (0 until 16).map(j => col(s"v$j")).reduce(_ + _).as("l1"),
          (0 until 16).map(j => when(col(s"v$j") > 0, 1).otherwise(0))
            .reduce(_ + _).as("nnz"),
          md5(concat_ws(",", (0 until 16).map(j => col(s"v$j").cast("string")): _*))
            .as("vec_md5"))
        .orderBy(col("doc_id"))
    },

    // B61 rare-token quality score: fraction of token occurrences whose
    // corpus-wide frequency is below the mean term frequency. The compare
    // is `cnt <= (total-1) div vocab` — algebraically `cnt * vocab < total`
    // (for integer cnt: cnt*vocab < total ⟺ cnt ≤ floor((total-1)/vocab))
    // but product-free: at 100 TB (total ~1e13 tokens × vocab ~1e8 terms)
    // the product overflows BIGINT, where Spark (non-ANSI) wraps and DuckDB
    // raises; integer division keeps both engines exact at any scale. The
    // term-frequency table is vocabulary-sized (≪ corpus, broadcast); one
    // exploded-token join + one per-doc aggregate. The OOV/rarity heuristic
    // quality filters use.
    "q_text_rarity" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val stats = tf.agg(count(lit(1)).as("vocab"), sum(col("cnt")).as("total"))
      val rare = tf.crossJoin(broadcast(stats))
        .select(col("term"),
          (col("cnt") <= expr("(total - 1) div vocab")).as("rare"))
      tok.join(broadcast(rare), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("rare"), 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_toks"), col("n_rare"),
          floor(col("n_rare") * 1000000 / col("n_toks").cast("double"))
            .cast("long").as("rare_ppm"))
        .orderBy(col("doc_id"))
    },

    // B62 heavy hitters: every 8-token passage appearing in >= 3 distinct
    // documents, with exact doc-frequencies — the frequent-passage miner
    // that feeds boilerplate removal and contamination triage (which
    // passages are shared is the question; q_text_boilerplate answers the
    // per-doc "how much of ME is boilerplate" form). Exactness through a
    // sketch: pass 1 folds every (doc-distinct) shingle into a count-min
    // sketch with NO shuffle; the broadcast sketch then prefilters the
    // shuffle to candidate shingles only (CMS never under-counts, so no
    // heavy passage can be lost); pass 2 exact-counts the candidates. The
    // DuckDB oracle is the naive exact query — the sketch is pure shuffle
    // avoidance, invisible in the answer (graft.operators.HeavyHitters).
    "q_heavy_hitters" -> { (s, d) =>
      graft.operators.HeavyHitters.frequentValues(
          graft.operators.NearDup.shingles(Tables.documents(s, d), width = 8),
          "sh", minSupport = 3)
        .select(col("sh"), col("cnt"))
        .orderBy(col("sh"))
    },

    // B63 deterministic global shuffle → training shards, as an AUDIT
    // query. Training jobs need the corpus randomized and split into
    // shards reproducibly: shard and within-shard position both come from
    // id-keyed md5 draws (the q_sample_weighted convention — any engine,
    // any run, zero coordination), never rand(). In production the
    // payload write is `repartition(n, shard).sortWithinPartitions(draw)
    // .write` — one shuffle, no per-shard collection; THIS query is the
    // audit artifact that proves assignment AND order: per shard, the md5
    // of the draw-ordered doc_id sequence. The order checksum collects
    // one shard's ids into a sorted array — bounded by corpus/n per
    // group; a 100 TB audit would checksum per (shard, block of ~1e6)
    // and md5 the block digests, same idea one level up.
    "q_train_shards" -> { (s, d) =>
      val h = (suffix: String) => graft.operators.NearDup.h28(
        concat(col("doc_id").cast("string"), lit(suffix)))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (h("_shard") % 8).as("shard"), h("_ord").as("draw"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("draw"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), ",")).as("order_md5"))
        .orderBy(col("shard"))
    },

    // B112 market-basket co-occurrence with LIFT — association-rule mining
    // (Agrawal & Srikant's support/lift statistics), q_text_colloc's idea
    // moved from adjacent bigrams to SETS: the top-3 co-items per item
    // among pairs co-purchased in ≥ 2 orders, ranked by (support DESC,
    // lift DESC, id) — the collaborative-filtering / "users also bought"
    // primitive, and in a training-data pipeline the co-occurrence prior
    // behind mixture design. All statistics exact integers; lift = co·N
    // ·1e6 div (n_a·n_b) in 128-bit (DECIMAL(38,0) ≡ HUGEINT). Shape at
    // 100 TB: ONE distinct (order, item) projection; the pair generator
    // is an order-keyed SELF-JOIN bounded by basket size with a
    // maxBasket = 20 refusal (a power-basket of 10⁴ items would emit 10⁸
    // pairs from one key — the blocking-shape skew refusal, mirrored in
    // the oracle HAVING); pair/item counts are partial+final aggregates;
    // the rank is a window over each item's ≤ basket-bounded pair list.
    "q_item_cooccur" -> { (s, d) =>
      // r17: the distinct (order, item) projection and its basket-capped
      // form feed FIVE downstream consumers (okO, n, nd, both pair-join
      // sides) — left lazy, each consumer re-ran the distinct's shuffle
      // (profiled: the 6 MB distinct output re-read 4x per run). Two
      // lineage cuts make each pass happen exactly once — the
      // iterative-operator Materialize convention, same data flow.
      val li = graft.operators.Materialize.cutFinal(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
      val okO = li.groupBy(col("o")).agg(count(lit(1)).as("bs"))
        .filter(col("bs") <= 20).select(col("o"))
      val lig = graft.operators.Materialize.cutFinal(
        li.join(okO, Seq("o"), "left_semi"))
      val n = lig.groupBy(col("p")).agg(count(lit(1)).as("n_ord"))
      val nd = lig.agg(countDistinct(col("o")).as("n_orders"))
      val pairs = lig.select(col("o"), col("p").as("item"))
        .join(lig.select(col("o"), col("p").as("co_item")), Seq("o"))
        .filter(col("item") =!= col("co_item"))
        .groupBy(col("item"), col("co_item")).agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
      val w = Window.partitionBy(col("item"))
        .orderBy(col("co").desc, col("lift_ppm").desc, col("co_item"))
      pairs
        .join(n.select(col("p").as("item"), col("n_ord").as("na")), "item")
        .join(n.select(col("p").as("co_item"), col("n_ord").as("nb")), "co_item")
        .crossJoin(broadcast(nd))
        .withColumn("lift_ppm", expr(
          "CAST(CAST(co AS DECIMAL(38,0)) * n_orders * 1000000 " +
            "DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("item"), col("rank"), col("co_item"), col("co"),
          col("lift_ppm"))
        .orderBy(col("item"), col("rank"))
    },

    // B66 collocation mining: adjacent-bigram lift (the integer-ratio form
    // of PMI — PMI = log(lift), and ranking by lift ranks by PMI) over the
    // whole corpus, the statistic behind tokenizer merge candidates and
    // multi-word-expression detection. lift = c_ab·N / (c_a·c_b) as exact
    // integer ppm. All-occurrence bigrams come from a typed flatMap in the
    // scan stage (NearDup.shingles is DISTINCT-per-doc — wrong statistic
    // here: collocation needs multiplicity); bigram and unigram counts are
    // each ONE partial+final aggregate; the unigram table is
    // vocabulary-sized (≪ corpus — broadcast; at a web-scale vocab these
    // become shuffle joins on the term key, still linear). The integer
    // product c_ab·1e6·N fits BIGINT through ~1e5-token-frequency × 1e9
    // corpora; at 1e13-token scale move the ratio to log-space micro-nats
    // (the q_text_lm_score convention) — same rank order, overflow-free.
    "q_text_colloc" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (_, text) =>
          val tk = text.split(" ", -1)
          Iterator.range(0, tk.length - 1).map(i => (tk(i), tk(i + 1)))
        }.toDF("w1", "w2")
      val uni = docs.select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("n_toks"))
      pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("term").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("term").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
          expr("(c_ab * 1000000 * n_toks) div (c_a * c_b)").as("lift_ppm"))
        .orderBy(col("w1"), col("w2"))
    },

    // B64 corpus snapshot diff: the changelog between two curated
    // snapshots (did the curation change touch what I expected — the
    // review artifact for every recipe change). Two deterministic
    // "snapshots" are derived from the fixture (v1 drops doc_id%7=0,
    // v2 drops doc_id%5=0 and revises the text of doc_id%11=0), then a
    // single full-outer join on the key compares content shas and emits
    // added/removed/changed rows only — the changelog, never the corpus.
    // At 100 TB both sides are corpus-sized and the shuffled join on the
    // snapshot key IS the right plan; snapshots bucketed by doc_id make
    // it a zero-exchange sort-merge join (the q_bucket_join layout).
    "q_corpus_diff" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val v1 = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("sha_old"))
      val v2 = base.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")), 256).as("sha_new"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("sha_old").isNull, "added")
            .when(col("sha_new").isNull, "removed")
            .when(col("sha_old") =!= col("sha_new"), "changed")
            .otherwise("unchanged").as("status"))
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    },

    // B71 model apply (graft.operators.LinearScorer): the fasttext-style
    // quality-classifier pass every curation pipeline runs corpus-wide —
    // model = a (term → weight) table (here deterministically derived:
    // vocabulary = corpus frequency ≥ 3, weight = signed md5 micro-logit,
    // so the oracle can restate it; a trained model is a drop-in), score =
    // exact int64 sum of matched token weights, OOV = 0 via the left join,
    // keep = score ≥ 0. The model table is vocabulary-sized and BROADCAST,
    // so scoring is map-side; the per-doc sum is the one token-path shuffle
    // (doc_id only — source/lang rejoin AFTER the reduction, so the heavy
    // path never carries the dimension strings). Output: the per-(source,
    // lang) release audit — doc counts, keep rate ppm, total logit mass.
    "q_model_apply" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer.score(docs, m, thresholdMicro = 0L)
      docs.select(col("doc_id"), col("source"), col("lang"))
        .join(scored, Seq("doc_id"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("logit_micro")).as("logit_sum"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_kept"),
          col("logit_sum"),
          floor(col("n_kept") * 1000000 / col("n_docs").cast("double"))
            .cast("long").as("keep_ppm"))
        .orderBy(col("source"), col("lang"))
    },

    // B73 per-source score calibration: one global keep threshold means
    // different things in different sources (their score distributions
    // differ), so budgeted curation sets PER-SOURCE cutoffs — here "keep
    // the top quarter of each source" as the exact discrete P75 of the
    // B71 logit within each source. The quantile is the cumulative-
    // histogram order statistic (integer ceil rank over the per-source
    // (logit, count) table — the q_events_anomaly convention), equal by
    // construction to quantile_disc, and the |sources|-row cutoff table
    // broadcasts back onto the scored corpus for the kept-count audit.
    // The exact histogram costs one sort-shuffle of the per-source logit
    // histogram (logits are near-unique, so it is corpus-sized); at
    // 100 TB swap that window for the B72 mergeable quantile sketch per
    // source — the downstream broadcast join-back is unchanged.
    "q_score_calibrate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer.score(docs, m, thresholdMicro = 0L)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val h = scored.groupBy(col("source"), col("logit_micro"))
        .agg(count(lit(1)).as("c"))
      val cw = Window.partitionBy(col("source")).orderBy(col("logit_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum(col("c")).over(cw))
      val tot = h.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cut = cum.join(tot, "source")
        .groupBy(col("source"))
        .agg(min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("logit_micro")))
          .as("p75_micro"))
      scored.join(broadcast(cut), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          first(col("p75_micro")).as("p75_micro"),
          sum(when(col("logit_micro") >= col("p75_micro"), 1L).otherwise(0L))
            .as("n_kept"))
        .select(col("source"), col("n_docs"), col("p75_micro"), col("n_kept"),
          floor(col("n_kept") * 1000000 / col("n_docs").cast("double"))
            .cast("long").as("kept_ppm"))
        .orderBy(col("source"))
    },

    // B97 per-(source, LANGUAGE) calibration (the B73 machinery on the
    // two-column key; r12 verdict #7): corpora
    // gate per (source, lang) — the corpus-card/drift key — not per source
    // alone, because score distributions differ across languages within
    // one source just as they do across sources (a single per-source
    // cutoff over-keeps the highest-scoring language and starves the
    // rest). Same cumulative-histogram integer-rank machinery as
    // q_score_calibrate with the two-column key; the cutoff table stays
    // |sources × langs| rows — broadcast-safe at any corpus size.
    "q_score_calibrate_lang" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer.score(docs, m, thresholdMicro = 0L)
        .join(docs.select(col("doc_id"), col("source"), col("lang")),
          Seq("doc_id"))
      val h = scored.groupBy(col("source"), col("lang"), col("logit_micro"))
        .agg(count(lit(1)).as("c"))
      val cw = Window.partitionBy(col("source"), col("lang"))
        .orderBy(col("logit_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum(col("c")).over(cw))
      val tot = h.groupBy(col("source"), col("lang")).agg(sum(col("c")).as("n"))
      val cut = cum.join(tot, Seq("source", "lang"))
        .groupBy(col("source"), col("lang"))
        .agg(min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("logit_micro")))
          .as("p75_micro"))
      scored.join(broadcast(cut), Seq("source", "lang"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          first(col("p75_micro")).as("p75_micro"),
          sum(when(col("logit_micro") >= col("p75_micro"), 1L).otherwise(0L))
            .as("n_kept"))
        .select(col("source"), col("lang"), col("n_docs"), col("p75_micro"),
          col("n_kept"),
          floor(col("n_kept") * 1000000 / col("n_docs").cast("double"))
            .cast("long").as("kept_ppm"))
        .orderBy(col("source"), col("lang"))
    },

    // B74 corpus composition drift: the release-to-release distribution
    // gate — did the new snapshot's (source, lang) mix move, and by how
    // much? Shares as integer ppm of each snapshot's total; drift = the
    // per-cell |Δshare| (summing it halved gives total-variation
    // distance). Reuses q_corpus_diff's derived snapshots so the two
    // queries audit the same release pair. Scale: two partial+final
    // group-counts over the corpus; everything after is |sources×langs|
    // rows — the totals ride a broadcast cross join, never a shuffle.
    "q_corpus_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"))
      val c1 = docs.filter(col("doc_id") % 7 =!= 0)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_old"))
      val c2 = docs.filter(col("doc_id") % 5 =!= 0)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_new"))
      val joined = c1.join(c2, Seq("source", "lang"), "full_outer")
        .select(col("source"), col("lang"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      val tots = joined.agg(sum(col("n_old")).as("tot_old"),
        sum(col("n_new")).as("tot_new"))
      joined.crossJoin(broadcast(tots))
        .select(col("source"), col("lang"), col("n_old"), col("n_new"),
          floor(col("n_old") * 1000000 / col("tot_old").cast("double"))
            .cast("long").as("share_old_ppm"),
          floor(col("n_new") * 1000000 / col("tot_new").cast("double"))
            .cast("long").as("share_new_ppm"))
        .withColumn("drift_ppm",
          abs(col("share_new_ppm") - col("share_old_ppm")))
        .orderBy(col("source"), col("lang"))
    },

    // B82 cross-doc frequent-passage SCRUB — the removal half of the
    // exact-substring story (Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better": repeated long substrings across
    // documents are memorization fuel; q_heavy_hitters MINES them, this
    // REMOVES them). A token is dropped iff it is covered by any
    // occurrence of an 8-token passage appearing in ≥ 3 distinct docs; the
    // query emits per-doc before/removed counts and the sha of the
    // scrubbed text — the hash proves the exact reconstruction, not just
    // the counts. Fully relational (no UDF): per-doc grams built by array
    // ops IN THE SCAN STAGE (transform over sequence — one row per doc
    // until the gram explode), the frequent set is one distinct+count
    // aggregate, coverage is a W-row expansion per frequent occurrence,
    // and the rebuild is one doc-keyed aggregate over kept tokens. At
    // 100 TB the frequent-gram table is CMS-prefiltered before the
    // distinct shuffle — since r12 an IMPLEMENTED path
    // (ScrubPassages.scrub(prefilter = true); ScrubPrefilterSpec pins
    // output equality, the SCALE.md soak measures the byte cut), kept OFF
    // here so the oracled plan stays UDF-free.
    "q_text_scrub_passages" -> { (s, d) =>
      graft.operators.ScrubPassages.scrub(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },

    // B83 token-budget corpus fill on a SCALABLE global running total
    // (graft.operators.OrderedCumsum — see its scaladoc for why
    // `sum OVER (ORDER BY …)` with no partition is the plan that dies at
    // 100 TB and the two-pass range/offset form that replaces it): order
    // the corpus longest-first (ties by doc_id), take docs while the
    // running token total stays within half the corpus's tokens, report
    // the per-source composition of the fill. The oracle IS the
    // single-partition window form — proving the scalable plan computes
    // the identical prefix.
    "q_token_budget_fill" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val cum = graft.operators.OrderedCumsum.withRunningTotal(docs,
        Seq(col("toks").desc, col("doc_id")), col("toks"), "cum",
        partitions = 8)
      val budget = docs.agg(floor(sum(col("toks")) / 2).cast("long").as("b"))
      cum.crossJoin(broadcast(budget)).filter(col("cum") <= col("b"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_taken"), sum(col("toks")).as("tokens_taken"))
        .orderBy(col("source"))
    },

    // B86 exact-integer two-sample Kolmogorov–Smirnov drift on classifier
    // scores — the release gate for "did my quality filter's score
    // distribution MOVE between snapshots" (a mean shift is visible in
    // q_corpus_drift-style aggregates; a reshaped distribution at equal
    // mean is not — KS is the standard two-sample statistic for that).
    // Per source, D = max over score values of |cdf_old − cdf_new|,
    // computed EXACTLY as max |cum_old·n_new − cum_new·n_old| — integer
    // end to end, no float CDFs to diverge cross-engine (|cum·n| ≤
    // n_old·n_new, so int64 holds the STATISTIC to corpora of ~3·10⁹ per
    // side; the ppm scaling multiplies by 10⁶ on top, so it runs in
    // 128-bit — DECIMAL(38,0) here, HUGEINT in the oracle — and casts the
    // ≤10⁶ result back to int64). Old snapshot = doc_id % 10
    // ≠ 7 (the incremental-delta convention), new = the full corpus.
    // Cost: the B71 scoring shuffle, one (source, logit) count aggregate,
    // a per-source window over DISTINCT logit values (bounded by score
    // support, not corpus size), then |sources| rows of arithmetic.
    "q_score_ks_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer.score(docs, m, 0L)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("logit_micro"))
      val counts = scored.groupBy(col("source"), col("logit_micro"))
        .agg(sum(when(col("doc_id") % 10 =!= 7, 1L).otherwise(0L)).as("c_old"),
          count(lit(1)).as("c_new"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(col("logit_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts
        .withColumn("cum_old", sum(col("c_old")).over(w))
        .withColumn("cum_new", sum(col("c_new")).over(w))
      val tot = counts.groupBy(col("source"))
        .agg(sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"))
      cum.join(tot, Seq("source"))
        .groupBy(col("source"))
        .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
          max(abs(col("cum_old") * col("n_new") -
            col("cum_new") * col("n_old"))).as("ks_num"))
        // a two-sample statistic needs both samples: a source absent from
        // the old snapshot (the fixture HAS two — every doc_id ≡ 7 mod 10)
        // has no old distribution to compare against; its appearance is
        // q_corpus_drift's finding, not a KS value (and not a ÷0)
        .filter(col("n_old") > 0)
        .withColumn("ks_ppm", expr(
          "CAST(CAST(ks_num AS DECIMAL(38,0)) * 1000000 DIV " +
            "(CAST(n_old AS DECIMAL(38,0)) * CAST(n_new AS DECIMAL(38,0))) " +
            "AS BIGINT)"))
        .orderBy(col("source"))
    },

    // B117 exact-integer two-sample MANN-WHITNEY U / AUC drift — the
    // rank-sum companion to B86's KS: KS detects a reshaped distribution,
    // U answers the DIRECTIONAL question "do the delta batch's scores
    // stochastically dominate the old snapshot's" (AUC = P(new > old) +
    // ½P(tie) — 500000 ppm = no drift; the release gate for "did my
    // quality filter silently start passing worse docs"). Exact integers
    // end to end: per (source, distinct logit) counts, MIDRANKS kept in
    // DOUBLED units so the ½-ties never float (2·mr(v) = 2·cumBefore(v) +
    // cnt(v) + 1), U2 = Σ c_delta·2mr − n_delta(n_delta+1), auc_ppm =
    // U2·1e6 DIV (2·n_old·n_delta) in 128-bit. Split: snapshot parity
    // (doc_id div 20) % 2 — DISJOINT samples (U is a two-INDEPENDENT-
    // sample statistic, unlike the KS entry's old-vs-full-corpus
    // framing), and NOT the %10≡7 delta convention: the fixture assigns
    // source = id % 20, so every ≡7-mod-10 doc lands in src7/src17 and a
    // per-source two-sample test under that split is vacuous (probed —
    // zero sources hold both samples); the div-20 parity gives every
    // source ~half each. Same cost shape as B86: the B71
    // scoring shuffle, one (source, logit) aggregate, a per-source window
    // over distinct logits, |sources| rows of arithmetic. rank2_del ≤
    // 2·n_del·n fits int64 to ~10⁹-doc sources; beyond that lift the sum
    // into DECIMAL(38,0) like the division already is.
    "q_score_mw_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer.score(docs, m, 0L)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("logit_micro"))
      val counts = scored.groupBy(col("source"), col("logit_micro"))
        .agg(sum(when(expr("doc_id DIV 20") % 2 === 0, 1L)
            .otherwise(0L)).as("c_old"),
          sum(when(expr("doc_id DIV 20") % 2 === 1, 1L)
            .otherwise(0L)).as("c_del"))
      val w = Window.partitionBy(col("source")).orderBy(col("logit_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val terms = counts
        .withColumn("cum_all", sum(col("c_old") + col("c_del")).over(w))
        .withColumn("cnt", col("c_old") + col("c_del"))
        .withColumn("mr2", (col("cum_all") - col("cnt")) * 2 + col("cnt") + 1)
      terms.groupBy(col("source"))
        .agg(sum(col("c_old")).as("n_old"), sum(col("c_del")).as("n_del"),
          sum(col("c_del") * col("mr2")).as("rank2_del"))
        .filter(col("n_old") > 0 && col("n_del") > 0)
        .withColumn("u2",
          col("rank2_del") - col("n_del") * (col("n_del") + 1))
        .withColumn("auc_ppm", expr(
          "CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000 DIV " +
            "(2 * CAST(n_old AS DECIMAL(38,0)) * n_del) AS BIGINT)"))
        .select(col("source"), col("n_old"), col("n_del"), col("u2"),
          col("auc_ppm"))
        .orderBy(col("source"))
    },

    // B84 BPE merge induction (graft.operators.Bpe — scale posture, the
    // greedy-application kernel, and the Sennrich 2016 citation
    // documented there): learn the first 3 merge-table rows from
    // the corpus's word-frequency table. The oracle replays ALL THREE
    // rounds — pair statistics, deterministic argmax, and the
    // gaps-and-islands greedy application — as chained CTEs, so every
    // merge decision and its count are hash-checked across engines.
    "q_bpe_merges" -> { (s, d) =>
      graft.operators.Bpe.merges(Tables.documents(s, d), rounds = 3)
        .orderBy(col("round"))
    },

    // B84 BATCHED merge induction (r14 verdict #2 — the exact-safe prefix
    // rule, its three-part proof, and the rounds-not-merges job bound all
    // on graft.operators.Bpe.mergesBatched): the first 8 merges learned
    // with per-round disjoint batches (cap 4) instead of 8 driver
    // round-trips. The ORACLE replays the merges SEQUENTIALLY (8 chained
    // sqlBpeRound CTEs — the same machinery as q_bpe_merges) — the hash
    // match IS the batched≡sequential theorem checked cross-engine on the
    // live fixture; BpeSpec additionally pins it in-engine on a planted
    // corpus where batching provably coalesces rounds.
    "q_bpe_merges_batched" -> { (s, d) =>
      graft.operators.Bpe.mergesBatched(Tables.documents(s, d),
        totalMerges = 8, batchCap = 4)
        .orderBy(col("round"))
    },

    // B94 curriculum phase assignment via the SCALABLE global rank — the
    // second real consumer of OrderedCumsum (B83): curriculum training
    // orders the corpus by quality and feeds it in phases, which needs a
    // GLOBAL rank over the quality score. `row_number() OVER (ORDER BY
    // …)` with no partition is the same one-task plan B83 replaced for
    // running totals; rank IS the running total of 1s, so the two-pass
    // range/offset machinery gives the rank with full parallelism.
    // Phase = quartile of rank (1..4, best quality first). Oracle = the
    // single-partition window form — proving the scalable plan computes
    // the identical global order.
    "q_train_curriculum" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LinearScorer.model(docs, minCount = 3)
      val scored = graft.operators.LinearScorer
        .score(docs, m, thresholdMicro = 0L)
        .select(col("doc_id"), col("logit_micro"))
      val ranked = graft.operators.OrderedCumsum.withRunningTotal(scored,
        Seq(col("logit_micro").desc, col("doc_id")), lit(1L), "rank",
        partitions = 8)
      val n = docs.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), col("logit_micro"), col("rank"),
          (expr("(rank - 1) * 4 DIV n") + 1L).as("phase"))
        .orderBy(col("doc_id"))
    },

    // B91 n-gram-LM coverage quality score — the EXACT-INTEGER analog of
    // perplexity filtering (KenLM-style LM scoring ranks docs by how
    // "expected" their n-grams are; log-probs are floats that can never
    // hash-compare cross-engine, but the operative curation signal — how
    // much of a doc's bigram stream the corpus LM has support for —
    // survives as a rational): per doc, the ppm share of its adjacent
    // bigrams occurring ≥ 3 times corpus-wide. Low coverage = gibberish,
    // boilerplate-mangled, or wrong-language text; the standard
    // complement to the B71 keyword scorer (which sees tokens, not
    // transitions). Cost: one bigram-count aggregate + one doc-bigrams ⋈
    // bigram-TYPE join (heavy-tailed vocabulary — a corpus-scaled side,
    // so the shuffled join is the 100 TB plan, declared in PlanSweep) +
    // one per-doc count aggregate. Oracle positions use the same
    // range(512) table OracleBoundsSpec guards for the scrub.
    "q_text_bigram_coverage" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val bg = base.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bigram"))
      val freq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 3)
        .select(col("bigram"), lit(true).as("hit"))
      bg.join(freq, Seq("bigram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_covered"))
        .withColumn("coverage_ppm",
          expr("n_covered * 1000000 DIV n_bigrams"))
        .orderBy(col("doc_id"))
    },

    // B103 DSIR-style importance selection (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling") — the
    // exact-integer analog of hashed-n-gram importance weighting, under
    // the same log-free discipline that makes q_text_bigram_coverage the
    // perplexity analog: DSIR scores a raw doc by how much its hashed
    // n-gram distribution leans toward a TARGET domain (log p_t − log p_r
    // summed over hashed features); the operative selection signal
    // survives as the ppm of a doc's bigram mass falling in buckets where
    // the target's share exceeds the corpus's share — the compare is the
    // exact cross-multiplication c_t·N_r > c_r·N_t (128-bit per the
    // q_score_ks_drift width rule). Target = source 'src0'; features =
    // h28(bigram) mod 1024 — the paper's core trick is exactly this
    // BOUNDED hashed feature space, which is what makes the model a
    // 1024-row broadcast instead of the corpus-scaled vocabulary join
    // q_text_bigram_coverage pays. Selection = top ⌈n/4⌉ docs by score
    // via the SCALABLE global rank (OrderedCumsum, third consumer — no
    // single-partition window on the corpus path).
    "q_train_dsir" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val bg = base.select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bigram"))
        .withColumn("bucket",
          graft.operators.NearDup.h28(col("bigram")) % 1024)
      val counts = bg.groupBy(col("bucket")).agg(
        count(lit(1)).as("c_r"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c_t"))
      val tot = counts.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
      val lean = counts.crossJoin(broadcast(tot))
        .filter(expr("CAST(c_t AS DECIMAL(38,0)) * n_r > " +
          "CAST(c_r AS DECIMAL(38,0)) * n_t"))
        .select(col("bucket"), lit(true).as("lean"))
      val scored = bg.join(broadcast(lean), Seq("bucket"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("lean"), 1L).otherwise(0L)).as("n_lean"))
        .withColumn("dsir_ppm", expr("n_lean * 1000000 DIV n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("dsir_ppm"))
      val ranked = graft.operators.OrderedCumsum.withRunningTotal(scored,
        Seq(col("dsir_ppm").desc, col("doc_id")), lit(1L), "rank",
        partitions = 8)
      val n = scored.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_bigrams"), col("dsir_ppm"), col("rank"),
          (col("rank") <= expr("(n + 3) DIV 4")).as("selected"))
        .orderBy(col("doc_id"))
    },

    // B92 BPE compression curve (graft.operators.Bpe.compressionCurve —
    // the acceptance metric a tokenizer trainer watches per merge): exact
    // corpus token totals after each of 3 learned merges, round 0 = the
    // chars+terminator baseline, plus the integer-ppm ratio vs round 0.
    // The curve is what justifies (or stops) further merges. Oracle =
    // the q_bpe_merges chained replay + one Σ f·|s| per round.
    "q_bpe_compression" -> { (s, d) =>
      val curve = graft.operators.Bpe
        .compressionCurve(Tables.documents(s, d), rounds = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      val t0 = curve.head._2
      // ppm scaling in BigInt (HUGEINT in the oracle): t·10⁶ wraps int64
      // past ~9.2e12 corpus tokens — the q_score_ks_drift 128-bit rule
      val rows = curve.map { case (r, t) =>
        (r, t, (BigInt(t) * 1000000 / BigInt(t0)).toLong)
      }.toSeq
      import s.implicits._
      rows.toDF("round", "total_tokens", "ratio_ppm")
    },

    // B84 tokenizer-loop closure (r11 verdict #4): q_bpe_merges LEARNS the
    // merge table; this entry TOKENIZES WITH IT — the learned merges
    // applied greedily (the proven gaps-and-islands rule) to the corpus,
    // then per-doc LEARNED token counts against the character baseline
    // (len+1 symbols per word — what the corpus costs with zero merges).
    // The trained vocabulary IS the application of the learned table to
    // the training corpus (BpeSpec pins applyMerges ≡ the training-side
    // state), so the entry reuses mergesWithVocab's final symbol table
    // rather than paying the application twice. The doc-words ⋈ word-type
    // join is corpus-keyed on BOTH sides (word types grow with the corpus,
    // heavy-tailed — not a broadcastable dimension), so the shuffled join
    // is the correct 100 TB plan; AQE broadcasts at toy SF when it
    // measures small. Oracle = the q_bpe_merges chained-CTE replay
    // extended with the per-doc count join.
    "q_text_tokens_learned" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocabSyms) =
        graft.operators.Bpe.mergesWithVocab(docs, rounds = 3)
      // mergesWithVocab returns the symbol table as a Materialize.Cut;
      // materialize the per-word token counts (vocabulary-scale, a strictly
      // smaller projection) via an eager localCheckpoint and release the
      // training table's blocks NOW (r12 ADVICE) — a persist would pin it
      // for the session's lifetime across every bench sweep, whereas
      // checkpoint blocks are reclaimed by the ContextCleaner once the
      // returned plan is dropped.
      val vocab = try {
        vocabSyms.df
          .select(col("word"), size(col("s")).cast("long").as("toks_w"))
          .localCheckpoint(true)
      } finally vocabSyms.release()
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("toks_w")).as("n_tokens_learned"),
          sum(length(col("word")) + 1).as("n_tokens_char"))
        .orderBy(col("doc_id"))
    })

  /** One BPE oracle round: s{r-1} → s{r} (mirrors Bpe.pairCounts +
    * Bpe.mergeWord — pair stats with overlaps, argmax with the
    * (cnt DESC, a, b) tie-break, gaps-and-islands greedy application).
    * range(64) is a constant table bound (DuckDB's range table function
    * refuses lateral column args); symbol sequences are ≤ word length + 1
    * ≪ 64. The WHERE only CLIPS to the bound — it cannot detect a fixture
    * that violates it — so OracleBoundsSpec asserts max word length ≤ 63
    * against every testdata sf on the box (ADVICE r11 guard). */
  private def sqlBpeRound(r: Int): String = {
    val prev = s"s${r - 1}"
    // b/s AS MATERIALIZED: each round references $prev and b$r several
    // times, and DuckDB's default CTE inlining re-expands the upstream
    // chain per reference — EXPONENTIAL in rounds (3 rounds fine; the
    // batched entry's 8 rounds exhausted the fd limit re-opening the
    // parquet thousands of times — the q_embed_knn_insert lesson again)
    s"""p$r AS (SELECT t.s[rr.i+1] AS a, t.s[rr.i+2] AS b,
       |    sum(t.f)::BIGINT AS cnt
       |  FROM $prev t CROSS JOIN range(64) rr(i)
       |  WHERE rr.i <= len(t.s) - 2 GROUP BY 1, 2),
       |b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |m$r AS (SELECT t.word, rr.i
       |  FROM $prev t CROSS JOIN b$r CROSS JOIN range(64) rr(i)
       |  WHERE rr.i <= len(t.s) - 2 AND t.s[rr.i+1] = b$r.a
       |    AND t.s[rr.i+2] = b$r.b),
       |g$r AS (SELECT word, i,
       |    i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
       |  FROM m$r),
       |c$r AS (SELECT word, i FROM (SELECT word, i, row_number() OVER (
       |    PARTITION BY word, grp ORDER BY i) AS rn2 FROM g$r) t
       |  WHERE rn2 % 2 = 1),
       |e$r AS (SELECT t.word, t.f, rr.i,
       |    CASE WHEN c.i IS NOT NULL THEN b$r.a || b$r.b
       |         ELSE t.s[rr.i+1] END AS sym
       |  FROM $prev t CROSS JOIN b$r CROSS JOIN range(64) rr(i)
       |  LEFT JOIN c$r c ON c.word = t.word AND c.i = rr.i
       |  WHERE rr.i < len(t.s) AND NOT EXISTS (
       |    SELECT 1 FROM c$r d WHERE d.word = t.word AND d.i = rr.i - 1)),
       |s$r AS MATERIALIZED (SELECT word, f, list(sym ORDER BY i) AS s
       |  FROM e$r GROUP BY word, f)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_bpe_merges" ->
      s"""WITH wf AS (SELECT w AS word, count(*)::BIGINT AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) >= 1 GROUP BY w),
         |s0 AS (SELECT word, f,
         |    list_append(list_transform(range(len(word)), i -> word[i+1:i+1]),
         |      '</w>') AS s FROM wf),
         |${sqlBpeRound(1)},
         |${sqlBpeRound(2)},
         |${sqlBpeRound(3)}
         |SELECT 1 AS round, a AS sym_a, b AS sym_b, cnt FROM b1
         |UNION ALL SELECT 2, a, b, cnt FROM b2
         |UNION ALL SELECT 3, a, b, cnt FROM b3
         |ORDER BY round""".stripMargin,

    // SEQUENTIAL 8-round replay of the batched entry — the cross-engine
    // statement of the batched≡sequential theorem (see mergesBatched)
    "q_bpe_merges_batched" ->
      s"""WITH wf AS (SELECT w AS word, count(*)::BIGINT AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) >= 1 GROUP BY w),
         |s0 AS (SELECT word, f,
         |    list_append(list_transform(range(len(word)), i -> word[i+1:i+1]),
         |      '</w>') AS s FROM wf),
         |${(1 to 8).map(sqlBpeRound).mkString(",\n")}
         |${(1 to 8).map(r =>
             s"SELECT $r AS round, a AS sym_a, b AS sym_b, cnt FROM b$r")
             .mkString("\n|UNION ALL ")}
         |ORDER BY round""".stripMargin,

    // the single-partition window form the scalable rank replaces
    "q_train_curriculum" ->
      s"""WITH $sqlScoreReplay,
        |r AS (SELECT doc_id, logit_micro,
        |    row_number() OVER (ORDER BY logit_micro DESC, doc_id) AS rank,
        |    count(*) OVER () AS n
        |  FROM sc)
        |SELECT doc_id, logit_micro, rank::BIGINT AS rank,
        |  ((rank - 1) * 4 // n + 1)::BIGINT AS phase
        |FROM r ORDER BY doc_id""".stripMargin,

    // bigram positions from the same range(512) constant table the scrub
    // oracle uses (OracleBoundsSpec guards tokens/doc <= 512)
    "q_text_bigram_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[r.i+1] || ' ' || t[r.i+2] AS bigram
        |  FROM t CROSS JOIN range(512) r(i)
        |  WHERE len(t) >= 2 AND r.i <= len(t) - 2),
        |freq AS (SELECT bigram FROM bg GROUP BY bigram HAVING count(*) >= 3)
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  CAST(sum(CASE WHEN f.bigram IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  (CAST(sum(CASE WHEN f.bigram IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000 // count(*))::BIGINT AS coverage_ppm
        |FROM bg b LEFT JOIN freq f ON f.bigram = b.bigram
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // DSIR replay: same range(512) position table as bigram_coverage
    // (OracleBoundsSpec guards the clip), h28-mod-1024 hashed buckets,
    // HUGEINT cross-multiplied leaning compare, single-partition
    // row_number as the rank oracle for the OrderedCumsum two-pass.
    "q_train_dsir" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, source,
        |    CAST('0x' || substr(md5(t[r.i+1] || ' ' || t[r.i+2]), 1, 7) AS BIGINT) % 1024 AS bucket
        |  FROM t CROSS JOIN range(512) r(i)
        |  WHERE len(t) >= 2 AND r.i <= len(t) - 2),
        |counts AS (SELECT bucket, count(*)::BIGINT AS c_r,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        |  FROM bg GROUP BY bucket),
        |tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
        |    CAST(sum(c_t) AS BIGINT) AS n_t FROM counts),
        |lean AS (SELECT bucket FROM counts, tot
        |  WHERE CAST(c_t AS HUGEINT) * n_r > CAST(c_r AS HUGEINT) * n_t),
        |sc AS (SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |    CAST(sum(CASE WHEN l.bucket IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lean
        |  FROM bg b LEFT JOIN lean l ON l.bucket = b.bucket
        |  GROUP BY b.doc_id),
        |scored AS (SELECT doc_id, n_bigrams,
        |    (n_lean * 1000000 // n_bigrams)::BIGINT AS dsir_ppm FROM sc),
        |nn AS (SELECT count(*)::BIGINT AS n FROM scored)
        |SELECT doc_id, n_bigrams, dsir_ppm,
        |  CAST(row_number() OVER (ORDER BY dsir_ppm DESC, doc_id) AS BIGINT) AS rank,
        |  (row_number() OVER (ORDER BY dsir_ppm DESC, doc_id)) <= ((nn.n + 3) // 4) AS selected
        |FROM scored, nn ORDER BY doc_id""".stripMargin,

    // the q_bpe_merges replay + one exact corpus token total per round
    "q_bpe_compression" ->
      s"""WITH wf AS (SELECT w AS word, count(*)::BIGINT AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) >= 1 GROUP BY w),
         |s0 AS (SELECT word, f,
         |    list_append(list_transform(range(len(word)), i -> word[i+1:i+1]),
         |      '</w>') AS s FROM wf),
         |${sqlBpeRound(1)},
         |${sqlBpeRound(2)},
         |${sqlBpeRound(3)},
         |tot AS (
         |  SELECT 0 AS round, sum(f * len(s))::BIGINT AS total_tokens FROM s0
         |  UNION ALL SELECT 1, sum(f * len(s))::BIGINT FROM s1
         |  UNION ALL SELECT 2, sum(f * len(s))::BIGINT FROM s2
         |  UNION ALL SELECT 3, sum(f * len(s))::BIGINT FROM s3),
         |base AS (SELECT total_tokens AS t0 FROM tot WHERE round = 0)
         |SELECT round, total_tokens,
         |  (CAST(total_tokens AS HUGEINT) * 1000000
         |    // CAST(t0 AS HUGEINT))::BIGINT AS ratio_ppm
         |FROM tot CROSS JOIN base ORDER BY round""".stripMargin,

    // the q_bpe_merges replay (3 learned rounds applied to the vocabulary)
    // + the per-doc token-count join against the final symbol table s3
    "q_text_tokens_learned" ->
      s"""WITH wf AS (SELECT w AS word, count(*)::BIGINT AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE len(w) >= 1 GROUP BY w),
         |s0 AS (SELECT word, f,
         |    list_append(list_transform(range(len(word)), i -> word[i+1:i+1]),
         |      '</w>') AS s FROM wf),
         |${sqlBpeRound(1)},
         |${sqlBpeRound(2)},
         |${sqlBpeRound(3)},
         |wt AS (SELECT word, len(s)::BIGINT AS toks_w FROM s3),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents)
         |SELECT dw.doc_id, sum(wt.toks_w)::BIGINT AS n_tokens_learned,
         |  sum(len(dw.word) + 1)::BIGINT AS n_tokens_char
         |FROM dw JOIN wt ON wt.word = dw.word
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin,

    "q_score_ks_drift" ->
      s"""WITH $sqlScoreReplay,
        |ds AS (SELECT d.source, d.doc_id, sc.logit_micro
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
        |cnt AS (SELECT source, logit_micro,
        |    CAST(sum(CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
        |    count(*)::BIGINT AS c_new
        |  FROM ds GROUP BY 1, 2),
        |cum AS (SELECT source, logit_micro, c_old, c_new,
        |    sum(c_old) OVER (PARTITION BY source ORDER BY logit_micro) AS cum_old,
        |    sum(c_new) OVER (PARTITION BY source ORDER BY logit_micro) AS cum_new
        |  FROM cnt),
        |tot AS (SELECT source, sum(c_old)::BIGINT AS n_old,
        |    sum(c_new)::BIGINT AS n_new FROM cnt GROUP BY source)
        |SELECT c.source, max(t.n_old)::BIGINT AS n_old,
        |  max(t.n_new)::BIGINT AS n_new,
        |  max(abs(c.cum_old * t.n_new - c.cum_new * t.n_old))::BIGINT AS ks_num,
        |  (CAST(max(abs(c.cum_old * t.n_new - c.cum_new * t.n_old)) AS HUGEINT)
        |    * 1000000
        |    // (CAST(max(t.n_old) AS HUGEINT) * max(t.n_new)))::BIGINT AS ks_ppm
        |FROM cum c JOIN tot t USING (source)
        |GROUP BY c.source HAVING max(t.n_old) > 0
        |ORDER BY c.source""".stripMargin,

    // Mann-Whitney: the scorer replay + doubled-midrank window arithmetic
    "q_score_mw_drift" ->
      s"""WITH $sqlScoreReplay,
        |ds AS (SELECT d.source, d.doc_id, sc.logit_micro
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
        |cnt AS (SELECT source, logit_micro,
        |    CAST(sum(CASE WHEN (doc_id // 20) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
        |    CAST(sum(CASE WHEN (doc_id // 20) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_del
        |  FROM ds GROUP BY 1, 2),
        |mr AS (SELECT source, c_old, c_del,
        |    sum(c_old + c_del) OVER (PARTITION BY source ORDER BY logit_micro) AS cum_all,
        |    c_old + c_del AS cnt
        |  FROM cnt),
        |agg AS (SELECT source, sum(c_old)::BIGINT AS n_old,
        |    sum(c_del)::BIGINT AS n_del,
        |    sum(c_del * ((cum_all - cnt) * 2 + cnt + 1))::BIGINT AS rank2_del
        |  FROM mr GROUP BY source HAVING sum(c_old) > 0 AND sum(c_del) > 0)
        |SELECT source, n_old, n_del,
        |  (rank2_del - n_del * (n_del + 1))::BIGINT AS u2,
        |  (CAST(rank2_del - n_del * (n_del + 1) AS HUGEINT) * 1000000
        |    // (2::HUGEINT * n_old * n_del))::BIGINT AS auc_ppm
        |FROM agg ORDER BY source""".stripMargin,

    "q_model_apply" ->
      s"""WITH $sqlScoreReplay
        |SELECT d.source, d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN sc.logit_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(sc.logit_micro) AS BIGINT) AS logit_sum,
        |  CAST(floor(sum(CASE WHEN sc.logit_micro >= 0 THEN 1 ELSE 0 END) * 1000000
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS keep_ppm
        |FROM documents d JOIN sc ON d.doc_id = sc.doc_id
        |GROUP BY d.source, d.lang ORDER BY d.source, d.lang""".stripMargin,

    "q_score_calibrate" ->
      s"""WITH $sqlScoreReplay,
        |scd AS (
        |  SELECT d.source, sc.logit_micro
        |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
        |c AS (
        |  SELECT source, count(*) AS n_docs,
        |    quantile_disc(logit_micro, 0.75) AS p75_micro
        |  FROM scd GROUP BY source)
        |SELECT c.source, c.n_docs, c.p75_micro,
        |  CAST(sum(CASE WHEN s.logit_micro >= c.p75_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(floor(sum(CASE WHEN s.logit_micro >= c.p75_micro THEN 1 ELSE 0 END) * 1000000
        |    / CAST(c.n_docs AS DOUBLE)) AS BIGINT) AS kept_ppm
        |FROM scd s JOIN c ON s.source = c.source
        |GROUP BY c.source, c.n_docs, c.p75_micro ORDER BY c.source""".stripMargin,

    "q_score_calibrate_lang" ->
      s"""WITH $sqlScoreReplay,
        |scd AS (
        |  SELECT d.source, d.lang, sc.logit_micro
        |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
        |c AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    quantile_disc(logit_micro, 0.75) AS p75_micro
        |  FROM scd GROUP BY source, lang)
        |SELECT c.source, c.lang, c.n_docs, c.p75_micro,
        |  CAST(sum(CASE WHEN s.logit_micro >= c.p75_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(floor(sum(CASE WHEN s.logit_micro >= c.p75_micro THEN 1 ELSE 0 END) * 1000000
        |    / CAST(c.n_docs AS DOUBLE)) AS BIGINT) AS kept_ppm
        |FROM scd s JOIN c ON s.source = c.source AND s.lang = c.lang
        |GROUP BY c.source, c.lang, c.n_docs, c.p75_micro
        |ORDER BY c.source, c.lang""".stripMargin,

    "q_corpus_drift" ->
      """WITH c1 AS (
        |  SELECT source, lang, count(*) AS n_old FROM documents
        |  WHERE doc_id % 7 <> 0 GROUP BY source, lang),
        |c2 AS (
        |  SELECT source, lang, count(*) AS n_new FROM documents
        |  WHERE doc_id % 5 <> 0 GROUP BY source, lang),
        |j AS (
        |  SELECT coalesce(c1.source, c2.source) AS source,
        |    coalesce(c1.lang, c2.lang) AS lang,
        |    CAST(coalesce(c1.n_old, 0) AS BIGINT) AS n_old,
        |    CAST(coalesce(c2.n_new, 0) AS BIGINT) AS n_new
        |  FROM c1 FULL OUTER JOIN c2
        |    ON c1.source = c2.source AND c1.lang = c2.lang),
        |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old,
        |        CAST(sum(n_new) AS BIGINT) AS tot_new FROM j)
        |SELECT j.source, j.lang, j.n_old, j.n_new,
        |  CAST(floor(j.n_old * 1000000 / CAST(t.tot_old AS DOUBLE)) AS BIGINT) AS share_old_ppm,
        |  CAST(floor(j.n_new * 1000000 / CAST(t.tot_new AS DOUBLE)) AS BIGINT) AS share_new_ppm,
        |  abs(CAST(floor(j.n_new * 1000000 / CAST(t.tot_new AS DOUBLE)) AS BIGINT)
        |    - CAST(floor(j.n_old * 1000000 / CAST(t.tot_old AS DOUBLE)) AS BIGINT)) AS drift_ppm
        |FROM j CROSS JOIN t ORDER BY j.source, j.lang""".stripMargin,

    "q_contamination" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= 4),
         |sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS sh
         |  FROM base, unnest(generate_series(1, len(t) - 3)) AS g(i)),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < $BenchCount),
         |tr AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    count(*) FILTER (WHERE sh IN (SELECT sh FROM bench)) AS n_hit
         |  FROM sh WHERE doc_id >= $BenchCount GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_hit,
         |  CAST(floor(n_hit * 1000000 / CAST(n_shingles AS DOUBLE)) AS BIGINT) AS hit_ppm
         |FROM tr WHERE n_hit > 0 ORDER BY doc_id""".stripMargin,

    "q_doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS start,
        |  CAST(len(toks[i+1 : least(i + 64, len(toks))]) AS INT) AS n_chunk_toks,
        |  md5(array_to_string(toks[i+1 : least(i + 64, len(toks))], ' ')) AS chunk_md5
        |FROM t, unnest(generate_series(0, len(toks) - 1, 48)) AS g(i)
        |WHERE i = 0 OR len(toks) > i + 16
        |ORDER BY doc_id, start""".stripMargin,

    "q_seq_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 8 AS pack_group,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT pack_group, n_toks,
         |    sum(n_toks) OVER (PARTITION BY pack_group ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |b AS (
         |  SELECT pack_group,
         |    CAST(floor((cum - n_toks) / $PackBudget.0) AS BIGINT) AS bin,
         |    n_toks
         |  FROM c)
         |SELECT pack_group, bin, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
         |  CAST(floor(sum(n_toks) * 1000000 / $PackBudget.0) AS BIGINT) AS fill_ppm
         |FROM b GROUP BY pack_group, bin ORDER BY pack_group, bin""".stripMargin,

    "q_embed_quant" ->
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale
        |  FROM embeddings),
        |e AS (SELECT * FROM e0 WHERE scale > 0),
        |q AS (
        |  SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
        |    list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) / scale * 127 + 0.5) AS BIGINT)) AS qv
        |  FROM e)
        |SELECT vec_id, n_dims,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
        |  md5(array_to_string(qv, ',')) AS q_md5
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_data_mixture" ->
      """WITH w(lang, wf, ft) AS (VALUES
        |  ('en', 1, 0), ('de', 2, 500), ('fr', 2, 500), ('es', 3, 250),
        |  ('zh', 4, 0)),
        |d AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT d.doc_id, d.lang,
        |    wf + CASE WHEN h % 1000 < ft THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN w ON w.lang = d.lang),
        |x AS (SELECT doc_id, lang FROM c, unnest(generate_series(1, copies)) g(r))
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_in,
        |  count(*) AS n_out,
        |  CAST(floor(count(*) * 1000000
        |    / CAST(count(DISTINCT doc_id) AS DOUBLE)) AS BIGINT) AS ratio_ppm
        |FROM x GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_hashvec" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |hb AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 16 AS b
         |  FROM tok),
         |v AS (
         |  SELECT doc_id,
         |    ${(0 until 16).map(j =>
              s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS BIGINT) AS v$j")
              .mkString(",\n         |    ")}
         |  FROM hb GROUP BY doc_id)
         |SELECT doc_id,
         |  ${(0 until 16).map(j => s"v$j").mkString(" + ")} AS l1,
         |  ${(0 until 16).map(j => s"CASE WHEN v$j > 0 THEN 1 ELSE 0 END")
             .mkString(" + ")} AS nnz,
         |  md5(${(0 until 16).map(j => s"CAST(v$j AS VARCHAR)")
             .mkString(" || ',' || ")}) AS vec_md5
         |FROM v ORDER BY doc_id""".stripMargin,

    "q_text_rarity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |st AS (SELECT count(*) AS vocab, sum(cnt) AS total FROM tf),
        |r AS (SELECT term, (cnt <= (total - 1) // vocab) AS rare FROM tf, st)
        |SELECT t.doc_id, count(*) AS n_toks,
        |  CAST(count(*) FILTER (WHERE r.rare) AS BIGINT) AS n_rare,
        |  CAST(floor(count(*) FILTER (WHERE r.rare) * 1000000
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS rare_ppm
        |FROM tok t JOIN r ON r.term = t.term
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // The NAIVE exact form — the sketch prefilter on the Spark side must
    // be answer-invisible, so the oracle doesn't model it at all.
    "q_heavy_hitters" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS sh
        |  FROM base, unnest(generate_series(1, len(t) - 7)) AS g(i))
        |SELECT sh, count(*) AS cnt FROM sh
        |GROUP BY sh HAVING count(*) >= 3 ORDER BY sh""".stripMargin,

    "q_train_shards" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR || '_shard'), 1, 7) AS BIGINT) % 8 AS shard,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR || '_ord'), 1, 7) AS BIGINT) AS draw
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY draw, doc_id)) AS order_md5
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    // co-occurrence: the distinct basket projection, the maxBasket HAVING,
    // both-direction pairs, 128-bit lift, the (co, lift, id) rank
    "q_item_cooccur" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |oko AS (SELECT o FROM li GROUP BY o HAVING count(*) <= 20),
        |lig AS (SELECT li.o, li.p FROM li JOIN oko ON oko.o = li.o),
        |n AS (SELECT p, count(*) AS n_ord FROM lig GROUP BY p),
        |nd AS (SELECT count(DISTINCT o) AS n_orders FROM lig),
        |pr AS (SELECT a.p AS item, b.p AS co_item, count(*) AS co
        |  FROM lig a JOIN lig b ON a.o = b.o AND a.p <> b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT pr.item, pr.co_item, pr.co,
        |    CAST(pr.co::HUGEINT * nd.n_orders * 1000000
        |         // (na.n_ord::HUGEINT * nb.n_ord) AS BIGINT) AS lift_ppm
        |  FROM pr JOIN n na ON na.p = pr.item JOIN n nb ON nb.p = pr.co_item
        |  CROSS JOIN nd)
        |SELECT item, rank, co_item, co, lift_ppm FROM (
        |  SELECT item, co_item, co, lift_ppm,
        |    CAST(row_number() OVER (PARTITION BY item
        |      ORDER BY co DESC, lift_ppm DESC, co_item) AS INT) AS rank
        |  FROM sc) t
        |WHERE rank <= 3 ORDER BY item, rank""".stripMargin,

    "q_text_colloc" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |big AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |        FROM t, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |cab AS (SELECT w1, w2, count(*) AS c_ab FROM big
        |        GROUP BY 1, 2 HAVING count(*) >= 5),
        |cu AS (SELECT term, count(*) AS c FROM (
        |         SELECT unnest(string_split(text, ' ')) AS term FROM documents) u
        |       GROUP BY term),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_toks FROM cu)
        |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
        |  (c_ab * 1000000 * n_toks) // (a.c * b.c) AS lift_ppm
        |FROM cab JOIN cu a ON a.term = w1 JOIN cu b ON b.term = w2, tot
        |ORDER BY w1, w2""".stripMargin,

    "q_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, sha256(text) AS sha_old FROM documents
        |  WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
        |                ELSE text END) AS sha_new
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN sha_old <> sha_new THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE (CASE WHEN v1.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN sha_old <> sha_new THEN 'changed'
        |            ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    // range(512) is a constant position-table bound (same DuckDB lateral
    // limitation as the BPE oracle); it clips, it doesn't detect —
    // OracleBoundsSpec asserts max tokens/doc ≤ 512 at every testdata sf.
    "q_text_scrub_passages" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id, r.i AS p,
        |    array_to_string(t[r.i+1:r.i+8], ' ') AS gram
        |  FROM t CROSS JOIN range(512) r(i)
        |  WHERE len(t) >= 8 AND r.i <= len(t) - 8),
        |freq AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
        |  GROUP BY gram HAVING count(*) >= 3),
        |covered AS (SELECT DISTINCT g.doc_id, g.p + j.range AS pos
        |  FROM grams g JOIN freq f ON f.gram = g.gram CROSS JOIN range(8) j),
        |toks AS (SELECT doc_id, t[r.i+1] AS tok, r.i AS pos
        |  FROM t CROSS JOIN range(512) r(i) WHERE r.i < len(t)),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toks k
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |    WHERE c.doc_id = k.doc_id AND c.pos = k.pos)),
        |scrub AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS scrubbed
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_tokens,
        |  (len(string_split(d.text, ' ')) - coalesce(s.n_kept, 0))::BIGINT AS n_removed,
        |  sha256(coalesce(s.scrubbed, '')) AS scrubbed_sha
        |FROM documents d LEFT JOIN scrub s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the oracle is the SINGLE-PARTITION window form the operator replaces
    "q_token_budget_fill" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS toks FROM documents),
        |c AS (SELECT doc_id, source, toks,
        |    sum(toks) OVER (ORDER BY toks DESC, doc_id) AS cum FROM d),
        |b AS (SELECT (sum(toks) // 2)::BIGINT AS b FROM d)
        |SELECT source, count(*) AS n_taken,
        |  sum(toks)::BIGINT AS tokens_taken
        |FROM c, b WHERE c.cum <= b.b
        |GROUP BY source ORDER BY source""".stripMargin)
}
