package graft.queries

import graft.SparkSpecBase
import graft.operators.Slow

/** Catalog-WIDE physical-plan sweep (r7 verdict #6): PlanSpec pins ~20
  * hand-picked shapes; this spec walks EVERY `SparkEntry.queries` entry and
  * asserts the three properties no query may silently regress on:
  *
  *  1. no `CartesianProduct` — outside the two DECLARED quadratic/cross
  *     shapes — because an accidental cartesian is the canonical
  *     works-at-sf0.01-dies-at-100TB failure;
  *  2. no `ScalaUDF` outside the declared B46 UDF queries — a boxed UDF in
  *     a hot path breaks whole-stage codegen around it (the r6→r7 bloom
  *     probe migration exists precisely because of this);
  *  3. no shuffled join (SortMergeJoin / ShuffledHashJoin) where the build
  *     side is broadcastable — at sf0.001 every file relation is far under
  *     `autoBroadcastJoinThreshold`, so a shuffled join in the STATIC plan
  *     means a join lost its size stats (the regression this catches) or is
  *     deliberate (the declared SMJ demos; FullOuter, which Spark cannot
  *     broadcast, is allowed per-line).
  *
  * Streaming/pipeline harness entries run their full harness when invoked —
  * the sweep still walks them (their returned read-back plan must satisfy
  * the same three rules), which is why the suite is tagged Slow.
  */
class PlanSweepSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  /** Declared quadratic/cross shapes (each documented at its definition):
    * q_dedup_ngram_jaccard is the all-pairs correctness baseline for the
    * LSH family; q_join_cross IS the cross-join operator (B16);
    * q_sketch_kmv's non-equi pair join runs on the |sources|-row SKETCH
    * table (≤ k longs per row), never the corpus — the quadratic is in
    * the group dimension by design (B107 pair algebra). */
  private val cartesianOk =
    Set("q_dedup_ngram_jaccard", "q_join_cross", "q_sketch_kmv")

  /** The declared B46 scalar-UDF surface: the registered SQL UDF row and
    * the ingestion-pipeline rows built on `udfs.parse_properties` /
    * `udfs.isbn13_valid` (A2/A5 — exact `Properties.load` semantics are
    * the contract; a codegen reimplementation would be a second parser to
    * keep equal to the first). */
  private val scalaUdfOk = Set("q_sql_udf_isbn", "q_pipe_workflow",
    "q_pipe_dead_letter", "q_pipe_raw", "q_pipe_skipped",
    // B62: the count-min-sketch probe is a broadcast-model UDF by nature
    // (estimateCount against driver-merged sketch state); it runs ONCE per
    // shingle row as a pre-shuffle filter — the cheap-per-row /
    // shuffle-avoiding side of the UDF trade, not the hot-loop side the
    // sweep exists to catch (see HeavyHitters scaladoc)
    "q_heavy_hitters",
    // B79: the ADC scan is the same broadcast-model pattern — per-candidate
    // code-table lookups against driver-built query tables; the relational
    // join form it replaces measured 37 s / 1.7 GB shuffle on the soak
    // (Pq.adcRank scaladoc), so here the UDF IS the scale-correct plan
    "q_embed_pq_adc", "q_embed_ivfpq",
    // B79 residual form: same ADC pattern with (qid, cell)-keyed tables
    "q_embed_ivfpq_residual",
    // B79 IVFADC-R: the shortlist stage IS adcTopK (same sanctioned ADC
    // UDF); everything after it is relational over O(n_q·shortlist) rows
    "q_embed_adc_rerank",
    // B90: the IVF-bounded composition of the same two sanctioned stages
    "q_embed_ivfpq_rerank",
    // B96: the residual composition of the same sanctioned ADC stage —
    // per-(qid, cell) tables; the post-shortlist re-rank is relational
    "q_embed_ivfpq_residual_rerank",
    // B130 lifecycle entries: Pq.ivfAdcServeTopK runs the same sanctioned
    // ADC scan against the maintained codes index
    "q_embed_ivfpq_insert", "q_embed_ivfpq_delete", "q_stream_ivfpq_search")

  /** Legitimate shuffled joins:
    *  - q_join_sortmerge pins the SMJ path itself; q_bucket_join's
    *    zero-Exchange bucketed SMJ IS the operator;
    *  - q_dedup_survivor / q_dedup_pipeline / q_dedup_semantic join two
    *    CORPUS-derived sides (labels/survivor-reps/drop-lists back onto
    *    the corpus) — neither side is a dimension, so at 100 TB the
    *    shuffled join is the only correct plan; the static planner can't
    *    know the toy-SF sizes (intermediate stats are estimates) and AQE
    *    converts to broadcast at runtime when a side turns out small.
    *    Forcing `broadcast()` there would be the scale bug. */
  private val shuffleJoinOk = Set("q_join_sortmerge", "q_bucket_join",
    "q_dedup_survivor", "q_dedup_pipeline", "q_dedup_semantic",
    // B67: cluster labels joined back onto the corpus — the label table is
    // every doc in some near-dup cluster, which on a web corpus can be a
    // third of the input (NOT broadcast-safe); same category as
    // q_dedup_survivor, and AQE still broadcasts when it measures small
    "q_split_leakage_safe",
    // (r17 optimization note: the PQ family's codes ⋈ cell-assignment
    // shuffled joins were removed outright — cell and codes now ride one
    // VecBestCell/VecPqCodes kernel projection, so those seven entries no
    // longer need a shuffled-join waiver and the sweep guards them again)
    // B84 apply side: doc-word instances ⋈ the word-TYPE table — above
    // Bpe.DriverSymbolCap the type table is heavy-tailed corpus vocabulary
    // (grows with the corpus, not a dimension), so the shuffled join is
    // the 100 TB plan; under the cap (every fixture) it is a driver-local
    // relation and plans as a broadcast
    "q_text_tokens_learned",
    // B96 residual: the residual map joins the corpus to the broadcast
    // coarse centroids, but q_embed_ivfpq_residual's RE-RANK fetch joins
    // shortlist ids back onto the corpus-derived residual scan — kept as
    // the one declared residual-family shuffled join only if AQE plans it
    // shuffled at toy SF (it measures small and broadcasts; the waiver is
    // retained for the 100 TB posture where the fetch side is every vector)
    // B91: doc-bigram instances ⋈ the bigram-TYPE table — same
    // heavy-tailed-vocabulary argument as q_text_tokens_learned
    "q_text_bigram_coverage",
    // B131: held-out docs ⋈ their per-doc argmax predictions — BOTH sides
    // are every held-out document (the prediction table is corpus-sized,
    // not a dimension), the q_dedup_survivor category; AQE broadcasts at
    // toy SF when it measures small
    "q_text_langid_model",
    // TPC-H q2: the correlated scalar MIN decorrelates into fact ⋈
    // per-part min-price — the aggregate side has PART cardinality (grows
    // with the data, not a dimension), so the shuffled join on
    // (min_price, p_partkey) is the 100 TB plan; AQE broadcasts at toy SF
    // when it measures small
    "q_sql_tpch2")

  private lazy val plans: Map[String, String] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val p =
        try fn(spark, sf).queryExecution.executedPlan.toString()
        catch { case e: Throwable =>
          fail(s"$name failed to plan at $sf: $e")
        }
      name -> p
    }.toMap

  test("no query plans a CartesianProduct outside the declared baselines", Slow) {
    val bad = plans.collect {
      case (name, p)
        if p.contains("CartesianProduct") && !cartesianOk(name) => name
    }
    assert(bad.isEmpty, s"accidental cartesian in: ${bad.toSeq.sorted}")
    // the declared ones must actually BE cartesian — else the exclusion
    // list has drifted and hides nothing
    cartesianOk.foreach { name =>
      assert(plans(name).contains("CartesianProduct") ||
        plans(name).contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans its declared cartesian — drop the exclusion")
    }
  }

  test("no query plans a ScalaUDF outside the declared B46 surface", Slow) {
    val bad = plans.collect {
      case (name, p) if p.contains("ScalaUDF") && !scalaUdfOk(name) => name
    }
    assert(bad.isEmpty, s"boxed ScalaUDF crept into: ${bad.toSeq.sorted}")
  }

  test("no broadcastable join ships as a shuffled join", Slow) {
    val bad = plans.toSeq.flatMap { case (name, p) =>
      if (shuffleJoinOk(name)) Nil
      else p.linesIterator
        .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        // Spark cannot broadcast a full-outer hash join — SMJ is the only
        // plan for it, so those lines are legitimate everywhere
        .filterNot(_.contains("FullOuter"))
        .map(l => s"$name: ${l.trim.take(120)}")
        .toSeq
    }
    assert(bad.isEmpty,
      s"shuffled joins below the broadcast threshold:\n${bad.mkString("\n")}")
  }
}
