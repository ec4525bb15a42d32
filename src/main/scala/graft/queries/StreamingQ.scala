package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.types._

import graft.StreamHarness
import QUtil._

/** B44 processor for q_stream_tws: per-user running (update count, event
  * count, cents sum) as typed ValueState on the Spark 4 transformWithState
  * API — semantically identical to the flatMapGroupsWithState form in
  * q_stream_stateful, so both share one DuckDB oracle. Top-level class:
  * the processor is serialized to executors. */
class UserRunningProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Int, Long, Long)] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Int, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Int, Long, Long)]("st",
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
    val (seq, n, c) = if (st.exists()) st.get() else (0, 0L, 0L)
    var dn = 0L; var dc = 0L
    rows.foreach { r => dn += 1; dc += r._2 }
    val next = (seq + 1, n + dn, c + dc)
    st.update(next)
    Iterator((key, next._1, next._2, next._3))
  }
}

/** Streaming forms of the window/dedup/stateful operators (SURVEY.md §2
  * B6/B39–B45), oracle-checked: each query runs a REAL StreamingQuery
  * (file-stream source, Trigger.AvailableNow, memory or foreachBatch sink)
  * and returns the sink contents; the DuckDB oracle recomputes the same
  * result in SQL — proving streaming-mode output ≡ batch output.
  *
  * Every run goes through [[graft.StreamHarness]]'s one bounded runner
  * (AvailableNow, one timeout, a stuck query stopped and thrown): into a
  * memory sink (`toTable`) or through a `foreachBatch` body under a
  * pid-scoped scratch root (`foreachBatch` + `scratchRoot`). Two source
  * shapes:
  *  - single-batch (q_stream_tumbling/sliding/dedup): the whole events table
  *    arrives in one micro-batch; complete output mode for the windowed aggs
  *    (batch-parity form), append for dedup.
  *  - multi-batch (every other entry): a harness split source
  *    (`splitSource`: one file per split, read one per micro-batch). Each
  *    source below keeps only its split predicates, its schema and its
  *    scratch-dir name. For the events split (q_stream_late_drop/session/
  *    stateful/multisink/…) the
  *    events table is split into THREE time-ordered files read one per
  *    micro-batch (`maxFilesPerTrigger 1` + AvailableNow), so the watermark
  *    advances across batches — late-data drop, session finalization,
  *    per-key state evolution and per-batch multi-sink appends all become
  *    observable, deterministic, and SQL-expressible for the oracle. The
  *    split rule is pure SQL over the event time and key:
  *      batch 0 = ts < T1 (Jan 15), minus the planted LATE subset
  *               (ts < LATE_CUT (Jan 5) and user_id % 10 = 7);
  *      batch 1 = T1 ≤ ts < T2 (Jan 25);
  *      batch 2 = everything else: the ≥ T2 tail plus the LATE rows,
  *               which arrive ~3 weeks late.
  *    Why THREE batches: since SPARK-40925, a batch filters late records
  *    with the PREVIOUS batch's watermark and evicts state with the current
  *    one (verified empirically on this engine: with a 2-file split the
  *    planted late rows were merged, with 3 files they are dropped). At
  *    batch 2 the late-event watermark is max(ts in batch 0) − delay
  *    ≈ Jan 14 23:00, ~9 days above every LATE row's window/session end
  *    (≤ Jan 5 + gap) — dropped with a margin no tie-break can cross; the
  *    ≥ T2 rows sit 10 days above it — kept with the same margin. After the
  *    run the final eviction watermark is max(ts) − delay, so exactly the
  *    windows/sessions ending ≤ max(ts) − 1 h are emitted (AvailableNow
  *    runs the trailing state-cleanup batches; day windows are
  *    midnight-aligned so no window straddles a split boundary).
  */
object StreamingQ {
  type Q = (SparkSession, String) => DataFrame

  // ---- multi-batch harness ----

  /** Batch split constants (see object doc). Events span
    * 2024-01-01..2024-01-30 at every sf. */
  private val T1 = "2024-01-15 00:00:00"
  private val T2 = "2024-01-25 00:00:00"
  private val LATE_CUT = "2024-01-05 00:00:00"
  private val DELAY = "1 hour"

  /** Shared SQL fragments mirroring the split + watermark arithmetic. */
  private def sqlLateFor(a: String) =
    s"(CAST($a.ts AS TIMESTAMP) < TIMESTAMP '$LATE_CUT' AND $a.user_id % 10 = 7)"
  private val sqlLate =
    s"(CAST(ts AS TIMESTAMP) < TIMESTAMP '$LATE_CUT' AND user_id % 10 = 7)"
  private val sqlBatch0 =
    s"(CAST(ts AS TIMESTAMP) < TIMESTAMP '$T1' AND NOT $sqlLate)"
  private val sqlBatch1 =
    s"(CAST(ts AS TIMESTAMP) >= TIMESTAMP '$T1' AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$T2')"
  private val sqlFinalWm =
    "(SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)"

  /** Final watermark of the stream-stream JOIN queries. Each join side
    * applies withWatermark AFTER filtering to its event_type, so each side
    * tracks its own max event time and the global watermark is the MIN of
    * the two sides — measurably different from `sqlFinalWm` (the all-events
    * form): at sf0.01 the last click lands ~19 min after the last purchase,
    * and two unmatched purchases fall in that gap (held as open state by
    * Spark, so the oracle must hold them back too). */
  private val sqlJoinFinalWm =
    """(SELECT least(
      |   max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
      |   max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
      |  - INTERVAL 1 HOUR FROM events)""".stripMargin

  private def lateCond = col("ts") < lit(LATE_CUT).cast("timestamp") &&
    col("user_id") % 10 === 7
  private def batch0Cond = col("ts") < lit(T1).cast("timestamp") && !lateCond
  private def batch1Cond = col("ts") >= lit(T1).cast("timestamp") &&
    col("ts") < lit(T2).cast("timestamp")

  private val mbSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The 3-batch file-stream source over the events split (see object
    * doc), through [[graft.StreamHarness]] like every split below. */
  private def mbStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_mb3", d), mbSchema) {
      val ev = graft.Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      Seq(ev.filter(batch0Cond), ev.filter(batch1Cond),
        ev.filter(!batch0Cond && !batch1Cond))
    }

  /** The three `key % 3` splits of `df` — the split of every stream below
    * whose batches model an arbitrary arrival order. */
  private def mod3(df: DataFrame, key: String): Seq[DataFrame] =
    (0 until 3).map(k => df.filter(col(key) % 3 === k))

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** Three-file documents split (doc_id mod 3) for the stateless online-
    * scoring and curation entries — there is no event time here: the
    * batches model an arbitrary arrival order of a document feed, and the
    * query under test must be batching-invariant (stateless append). */
  private def docStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_docs3", d), docSchema) {
      mod3(graft.Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source")), "doc_id")
    }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def embeddings(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))

  /** Three-file embeddings split (vec_id mod 3) for the streaming
    * index-maintenance query — batch 0 is the corpus the index is built
    * over, batches 1 and 2 are delta arrivals. */
  private def embStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_emb3", d), embSchema) {
      mod3(embeddings(s, d), "vec_id")
    }

  /** RANGE-keyed three-file embeddings split (vec_id < 300 / 300..399 /
    * ≥ 400) for the streaming PQ-encode entry: the %3 split would tear
    * the [[graft.operators.Pq]] seed contract (codebook seeds are the
    * contiguous ids 0..k−1, which must all land in the TRAINING range),
    * so the write-side stream batches by id range instead — batch 0 is
    * the initial corpus the frozen models are trained on, batches 1–2
    * are later arrivals encoded against them. Fixed absolute boundaries
    * so the oracle mirrors the predicate verbatim at every SF. */
  private def embRangeStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_embr3", d), embSchema) {
      val emb = embeddings(s, d)
      Seq(emb.filter(col("vec_id") < 300),
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
        emb.filter(col("vec_id") >= 400))
    }

  /** Three-file QUERY split (the vec_id < 10 query vectors, vec_id mod 3)
    * for the streaming serving entries — the corpus itself never streams,
    * it is the frozen index's training data. */
  private def embQueryStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_embq3", d), embSchema) {
      mod3(embeddings(s, d).filter(col("vec_id") < 10), "vec_id")
    }

  private val cdcSchema = StructType(Seq(
    StructField("k", LongType), StructField("seq", LongType),
    StructField("op", StringType), StructField("price_cents", LongType)))

  /** Three-file CDC changelog split — the q_cdc_apply feed as a TIMELINE:
    * batch 0 = the initial inserts (every order, seq 1), batch 1 = the
    * updates (%10≡3, seq 2, price ×1.10), batch 2 = the deletes (%7≡0,
    * seq 3) — so the stream replays exactly the changelog the batch entry
    * folds in one pass, and the full-feed oracle is shared verbatim. */
  private def cdcStream(s: SparkSession, d: String): DataFrame =
    StreamHarness.splitSource(s,
      StreamHarness.scratchDir("stream_cdc3", d), cdcSchema) {
      val orders = graft.Tables.orders(s, d)
      val k = col("o_orderkey").as("k")
      Seq(orders.select(k, lit(1L).as("seq"), lit("I").as("op"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents")),
        orders.filter(col("o_orderkey") % 10 === 3).select(k, lit(2L).as("seq"),
          lit("U").as("op"),
          round(col("o_totalprice") * 110).cast("long").as("price_cents")),
        orders.filter(col("o_orderkey") % 7 === 0).select(k, lit(3L).as("seq"),
          lit("D").as("op"), lit(null).cast("long").as("price_cents")))
    }

  /** Child session for the multi-batch stateful queries: stateful streaming
    * partitions = state-store instances per micro-batch, so they are sized
    * to the STATE volume via [[graft.Sessions.statefulShufflePartitions]]
    * (≤1500 user keys here at ~200 keys/store → 8), not to the OLAP scan
    * default — on a real cluster it is the same formula with the cluster's
    * key cardinality and core count. A child session scopes the override
    * without mutating the caller's conf. */
  private def mbSession(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      graft.Sessions.statefulShufflePartitions(expectedKeys = 1500,
        keysPerPartition = 200,
        totalCores = s0.sparkContext.defaultParallelism).toString)
    s
  }

  /** Per-key running state for q_stream_stateful (B44). */
  case class UserEv(user_id: Long, cents: Long)
  case class UserState(updSeq: Int, n: Long, cents: Long)
  case class UserOut(user_id: Long, upd_seq: Int, n_events: Long, total_cents: Long)

  /** events as a file-stream source, ts normalized exactly like
    * [[graft.Tables.events]]: TsNorm accepts nanos-long, TIMESTAMP, or
    * TIMESTAMP_NTZ (tz-less parquet, the current fixture encoding) and the
    * normalization is plain column ops, so it applies to a streaming
    * DataFrame unchanged. */
  private def streamEvents(s: SparkSession, d: String): DataFrame = {
    val fileSchema = s.read.parquet(s"$d/events.parquet").schema
    graft.TsNorm.normalize(
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** The multi-batch harness FLOOR for Bench (r8 verdict): the same
    * machinery every multi-batch entry pays — child session, 3-file split
    * source read one file per micro-batch, checkpointed AvailableNow run,
    * memory sink — driving a near-zero-work operator (a watermarked
    * projection). Its wall time is the fixed StreamingQuery scheduling
    * cost, so a real operator regression in the ~4 s stream-join entries
    * reads as (entry − floor) instead of drowning in ~85% fixed cost.
    * NOT a catalog entry: it measures the harness, not an operator (no
    * oracle exists for "scheduling overhead"). The returned 1-row count
    * keeps the noop write from optimizing the sink read away. */
  def harnessFloor(s0: SparkSession, d: String): DataFrame = {
    val s = mbSession(s0)
    val src = mbStream(s, d)
      .withWatermark("ts", DELAY)
      .select(col("event_id"), col("ts"))
    StreamHarness.toTable(src, "graft_stream_harness_floor", "append")
      .agg(count(lit(1)).as("n"))
  }

  /** The STATEFUL floor: the exact two-source interval-join machinery the
    * five stream-join entries pay — two file-stream sources over the same
    * 3-file split (double source listing per micro-batch), a symmetric
    * stream-stream join with watermarks both sides, 2×shuffle-partitions
    * state stores instantiated, committed, and checkpointed per batch —
    * but with both inputs filtered to ZERO rows before the join, so no
    * state row is ever buffered and no match is ever attempted. The
    * stateless [[harnessFloor]] measures ~30% of a stream-join entry; the
    * rest of the fixed cost is this stateful machinery, so a join entry's
    * data-bound part (state buffering + eviction + matching) reads as
    * (entry − THIS floor). Not a catalog entry for the same reason as
    * harnessFloor: it measures the harness, not an operator. */
  def harnessJoinFloor(s0: SparkSession, d: String): DataFrame = {
    val s = mbSession(s0)
    val joined = intervalJoin(s, d, "__floor_none__", "__floor_none__", "inner")
    StreamHarness.toTable(joined, "graft_stream_join_floor", "append")
      .agg(count(lit(1)).as("n"))
  }

  /** The two-source watermarked interval join behind the five stream-join
    * entries and [[harnessJoinFloor]]: `clickType` events (click_id,
    * click_ts, user_id) join `purchaseType` events (purch_id, purch_ts,
    * p_user) of the same user whose purch_ts lies in [click_ts, click_ts +
    * 1 day], each side read from its own file-stream source over the
    * 3-file split and watermarked before the join. */
  private def intervalJoin(s: SparkSession, d: String, clickType: String,
                           purchaseType: String, joinType: String): DataFrame = {
    val clicks = mbStream(s, d).filter(col("event_type") === clickType)
      .withWatermark("ts", DELAY)
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id"))
    val purchases = mbStream(s, d).filter(col("event_type") === purchaseType)
      .withWatermark("ts", DELAY)
      .select(col("event_id").as("purch_id"), col("ts").as("purch_ts"),
        col("user_id").as("p_user"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purch_ts") >= col("click_ts") &&
        col("purch_ts") <= col("click_ts") + expr("INTERVAL 1 DAY"),
      joinType)
  }

  val defs: Map[String, Q] = Map(
    // B39 streaming tumbling window — same shape as q_events_tumbling.
    "q_stream_tumbling" -> { (s, d) =>
      val agg = streamEvents(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 2).as("total_value"))
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("n"), col("total_value"))
      StreamHarness.toTable(agg, "graft_stream_tumbling", "complete")
        .orderBy(col("day"), col("event_type"))
    },

    // B65 streaming: trending top-k — the day's 3 biggest events by value,
    // maintained INSIDE the streaming aggregation via the bounded TopKAgg
    // buffer (state per window = one k-element buffer, not the day's
    // events — the property that keeps streaming top-k viable on an
    // unbounded stream; a row_number window over a stream is unsupported
    // by Spark for exactly that reason, which makes the bounded aggregate
    // the ONLY shape this query has). Single-batch parity harness,
    // complete mode; oracle = the batch window top-k.
    "q_stream_topk" -> { (s0, d) =>
      val s = mbSession(s0)
      val topk = graft.functions.TopKAgg.topK(s, 3)
      val agg = streamEvents(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(topk(col("cents").cast("double"), col("event_id")).as("top"))
        .select(to_date(col("w.start")).as("day"), posexplode(col("top")))
        .select(col("day"), (col("pos") + 1).cast("int").as("rn"),
          col("col._2").as("event_id"), col("col._1").cast("long").as("cents"))
      StreamHarness.toTable(agg, "graft_stream_topk", "complete")
        .orderBy(col("day"), col("rn"))
    },

    // B40 streaming sliding window — same shape as q_events_sliding.
    "q_stream_sliding" -> { (s, d) =>
      val agg = streamEvents(s, d)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 2).as("total_value"))
        .select(to_date(col("w.start")).as("win_start"), col("n"), col("total_value"))
      StreamHarness.toTable(agg, "graft_stream_sliding", "complete")
        .orderBy(col("win_start"))
    },

    // B43 streaming dropDuplicates (state = seen keys), append mode.
    "q_stream_dedup" -> { (s, d) =>
      val dedup = streamEvents(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      StreamHarness.toTable(dedup, "graft_stream_dedup", "append")
        .orderBy(col("user_id"), col("event_type"))
    },

    // B42 watermark late-data drop, observable end to end: 3-batch stream,
    // append mode. The LATE rows arrive in batch 2 with day-window ends
    // ≤ Jan 6 while the late-event watermark is ≈ Jan 14 23:00 — dropped;
    // windows ending after the FINAL watermark (the last day) are never
    // finalized. Oracle = same day aggregation minus the LATE rows, keeping
    // only windows with end ≤ max(ts) − 1 h.
    "q_stream_late_drop" -> { (s0, d) =>
      val s = mbSession(s0)
      val agg = mbStream(s, d)
        .withWatermark("ts", DELAY)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 2).as("total_value"))
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("n"), col("total_value"))
      StreamHarness.toTable(agg, "graft_stream_late_drop", "append")
        .orderBy(col("day"), col("event_type"))
    },

    // B40 sliding window in watermark+append mode — the scale-mode form
    // (complete mode re-emits every window each batch; append emits each
    // window once, when the watermark passes its end — the only shape that
    // works on an unbounded stream). Same 3-batch machinery as
    // q_stream_late_drop: LATE rows arrive in batch 2 under a watermark
    // ~9 days past their last window end (start-day + 2) and drop; windows
    // ending after the final watermark stay open and never emit. Each event
    // belongs to the 2-day windows starting at its day and the day before —
    // the oracle is that 2-way day explode minus LATE, windows ending
    // ≤ max(ts) − 1 h.
    "q_stream_sliding_append" -> { (s0, d) =>
      val s = mbSession(s0)
      val agg = mbStream(s, d)
        .withWatermark("ts", DELAY)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
        .agg(count(lit(1)).as("n"), moneySum(col("value"), 2).as("total_value"))
        .select(to_date(col("w.start")).as("win_start"), col("n"), col("total_value"))
      StreamHarness.toTable(agg, "graft_stream_sliding_append", "append")
        .orderBy(col("win_start"))
    },

    // B41 streaming session window (the declared form q_events_session only
    // exercised in batch): per-user 4 h-gap sessions, append mode across the
    // 3-batch stream — sessions straddling a split merge across batches
    // (emitted sessions can never be extended: any extending row would have
    // to sit below the eviction watermark that emitted them); only sessions
    // whose end (last event + gap) ≤ final watermark emit; LATE rows drop.
    "q_stream_session" -> { (s0, d) =>
      val s = mbSession(s0)
      val agg = mbStream(s, d)
        .withWatermark("ts", DELAY)
        .groupBy(col("user_id"), session_window(col("ts"), "4 hours").as("w"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value"), 2).as("session_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"), col("session_value"))
      StreamHarness.toTable(agg, "graft_stream_session", "append")
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // Stream-static enrichment join — the most common production streaming
    // shape: every event is enriched with a broadcast dimension row
    // (user → market segment) as it arrives. The static side is planned
    // fresh each micro-batch (a dimension update is picked up on the next
    // trigger without restarting the query) and broadcast, so the stream
    // side never shuffles. No watermark: an inner equi-join against a
    // static table needs no state at all, so nothing is late and nothing
    // is dropped — the oracle is the plain batch join over all 3 batches.
    "q_stream_static" -> { (s0, d) =>
      val s = mbSession(s0)
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val out = mbStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"),
          round(col("value") * 100).cast("long").as("cents"))
      StreamHarness.toTable(out, "graft_stream_static", "append")
        .orderBy(col("event_id"))
    },

    // B68 streaming form: train-offline / score-online. The Tukey fences
    // are computed BATCH-side over event-level cents (exact discrete
    // quartiles, the q_events_anomaly machinery one level down from daily
    // volumes) and broadcast into the stream, which tags out-of-fence
    // events as they arrive. Stateless: a per-row compare against a
    // |event_type|-row broadcast model needs no watermark and no state
    // store — the standard shape for any offline-trained online-applied
    // filter (fences, quality thresholds, bloom gates), and the fence
    // table refreshes per micro-batch like q_stream_static's dimension.
    // Oracle = the same fences applied to all events in plain SQL.
    "q_stream_anomaly" -> { (s0, d) =>
      val s = mbSession(s0)
      val ev = graft.Tables.events(s, d)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val h = ev.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Long.MinValue, 0)
      val cum = h.withColumn("cum", sum(col("c")).over(w))
      val tot = h.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
      val fences = cum.join(tot, "event_type")
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") >= expr("(n + 3) DIV 4"), col("cents"))).as("q1"),
          min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("cents"))).as("q3"))
      val out = mbStream(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .join(broadcast(fences), "event_type")
        .filter(col("cents") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3 ||
          col("cents") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3)
        .select(col("event_id"), col("event_type"), col("cents"),
          col("q1"), col("q3"))
      StreamHarness.toTable(out, "graft_stream_anomaly", "append")
        .orderBy(col("event_id"))
    },

    // B75 streaming model apply — train offline, score online, the other
    // half of the B71 classifier story (q_stream_anomaly's convention for
    // fences, here for model weights): the (term → weight) model is
    // derived in batch, collapsed to broadcast state inside a scalar UDF
    // (LinearScorer.scoreUdf — vocabulary-sized, the Ann-centroid collect
    // pattern), and the 3-batch document stream is scored STATELESS —
    // one UDF call per document row, no explode, no aggregation state, so
    // the operator is batching-invariant and viable on an unbounded
    // stream. The oracle recomputes every per-doc logit in SQL: streaming
    // output ≡ batch scoring, row for row.
    "q_stream_model_apply" -> { (s0, d) =>
      val s = mbSession(s0)
      val docs = graft.Tables.documents(s, d)
      val scoreF = graft.operators.LinearScorer.scoreUdf(
        graft.operators.LinearScorer.model(docs, minCount = 3))
      val out = docStream(s, d)
        .select(col("doc_id"), col("source"),
          scoreF(col("text")).as("logit_micro"))
        .withColumn("keep", col("logit_micro") >= 0L)
      StreamHarness.toTable(out, "graft_stream_model_apply", "append")
        .orderBy(col("doc_id"))
    },

    // Stream-stream interval inner join (the streaming form of B15's range
    // join): click events join purchase events of the same user within the
    // following day. Both sides carry a watermark and the join condition
    // bounds purch_ts to [click_ts, click_ts + 1 day], so click state is
    // evictable the moment the watermark passes click_ts + 1 day — bounded
    // state on an unbounded stream, the property that makes the operator
    // viable at 100 TB. Late inputs (below the input watermark) are dropped
    // per side before joining. The time-ordered 3-batch split makes the
    // result EXACTLY the batch join minus LATE rows: a row arriving in
    // batch k+1 has ts above every prior watermark, and state old enough to
    // be evicted (click_ts < wm − 1 day) is provably out of its join window
    // — so eviction never costs a match, and the oracle is pure SQL.
    "q_stream_join" -> { (s0, d) =>
      val s = mbSession(s0)
      val joined = intervalJoin(s, d, "click", "purchase", "inner")
        .select(col("user_id"), col("click_id"), col("purch_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purch_ts")).as("purch_us"))
      StreamHarness.toTable(joined, "graft_stream_join", "append")
        .orderBy(col("user_id"), col("click_id"), col("purch_id"))
    },

    // Stream-stream LEFT OUTER interval join: same shape, but a click with
    // no purchase in its day emits a null-padded row — and only once the
    // watermark passes click_ts + 1 day (before that a match could still
    // arrive, so outer rows are held back by state eviction). Clicks whose
    // window ends after the final watermark are still open when the stream
    // drains and never emit their null row — the oracle bounds them with
    // the same final-watermark arithmetic as the windowed aggregates.
    "q_stream_join_left" -> { (s0, d) =>
      val s = mbSession(s0)
      val joined = intervalJoin(s, d, "click", "purchase", "left_outer")
        .select(col("user_id"), col("click_id"), col("purch_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purch_ts")).as("purch_us"))
      StreamHarness.toTable(joined, "graft_stream_join_left", "append")
        .orderBy(col("user_id"), col("click_id"), col("purch_id"))
    },

    // Stream-stream LEFT SEMI interval join: a click emits (once) as soon
    // as any purchase lands in its day — the existence-check form, with
    // interval-bounded state like the inner join but no right-side payload
    // to retain. Matched rows emit on match, so no final-watermark
    // holdback applies (that is the OUTER join's null-row concern).
    "q_stream_join_semi" -> { (s0, d) =>
      val s = mbSession(s0)
      val joined = intervalJoin(s, d, "click", "purchase", "left_semi")
        .select(col("user_id"), col("click_id"),
          unix_micros(col("click_ts")).as("click_us"))
      StreamHarness.toTable(joined, "graft_stream_join_semi", "append")
        .orderBy(col("user_id"), col("click_id"))
    },

    // Stream-stream RIGHT OUTER interval join: the mirror of join_left —
    // a purchase with no click in [purch_ts − 1 day, purch_ts] emits a
    // null-padded row once the watermark passes purch_ts (the right state
    // watermark derives from purch_ts >= click_ts; see join_full for the
    // two-sided watermark arithmetic both outer oracles share).
    "q_stream_join_right" -> { (s0, d) =>
      val s = mbSession(s0)
      val joined = intervalJoin(s, d, "click", "purchase", "right_outer")
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          col("click_id"), col("purch_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purch_ts")).as("purch_us"))
      StreamHarness.toTable(joined, "graft_stream_join_right", "append")
        .orderBy(col("user_id"), col("click_id").asc_nulls_last,
          col("purch_id"))
    },

    // Stream-stream FULL OUTER interval join: both sides emit null-padded
    // rows on watermark expiry. A click with no purchase in its day emits
    // once the watermark passes click_ts + 1 day (left eviction, as in
    // q_stream_join_left); a purchase with no click in [purch_ts − 1 day,
    // purch_ts] emits once the watermark passes purch_ts itself — the right
    // state watermark comes from `purch_ts >= click_ts`, so a purchase is
    // provably unmatched as soon as no on-time click can still precede it.
    // Rows still open at the final watermark never emit their null form;
    // the oracle bounds each side with its own eviction arithmetic. The
    // output user_id is COALESCEd across sides (a right-null row has no
    // click-side user), and ordering pins NULLS LAST explicitly — Spark
    // defaults nulls-first, DuckDB nulls-last, and full-outer is the first
    // member of the family where both id columns can be null.
    "q_stream_join_full" -> { (s0, d) =>
      val s = mbSession(s0)
      val joined = intervalJoin(s, d, "click", "purchase", "full_outer")
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          col("click_id"), col("purch_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purch_ts")).as("purch_us"))
      StreamHarness.toTable(joined, "graft_stream_join_full", "append")
        .orderBy(col("user_id"), col("click_id").asc_nulls_last,
          col("purch_id").asc_nulls_last)
    },

    // B44 arbitrary stateful op: flatMapGroupsWithState in update mode —
    // per-user state (update count, running event count, running cents sum)
    // evolves across the three micro-batches; every state update is emitted,
    // so the sink holds one row per (user, batch-with-data) and the oracle
    // can recompute every update from the batch-membership predicates.
    "q_stream_stateful" -> { (s0, d) =>
      val s = mbSession(s0)
      import s.implicits._
      val typed = mbStream(s, d)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents")).as[UserEv]
      val out = typed.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (uid: Long, rows: Iterator[UserEv], state: GroupState[UserState]) => {
            val prev = state.getOption.getOrElse(UserState(0, 0L, 0L))
            var n = 0L; var c = 0L
            rows.foreach { r => n += 1; c += r.cents }
            val next = UserState(prev.updSeq + 1, prev.n + n, prev.cents + c)
            state.update(next)
            Iterator(UserOut(uid, next.updSeq, next.n, next.cents))
          })
      StreamHarness.toTable(out.toDF(), "graft_stream_stateful", "update")
        .orderBy(col("user_id"), col("upd_seq"))
    },

    // B44 on the Spark 4 transformWithState API (successor to
    // flatMapGroupsWithState): same per-user state evolution, but as a
    // typed ValueState StatefulProcessor on the RocksDB state store (the
    // production state backend) — a fresh child session pins the provider
    // without touching the caller's conf. Same oracle as q_stream_stateful:
    // the two APIs must agree row-for-row.
    "q_stream_tws" -> { (s0, d) =>
      val s = mbSession(s0)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s.implicits._
      val typed = mbStream(s, d)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents")).as[(Long, Long)]
      val out = typed.groupByKey(_._1)
        .transformWithState(new UserRunningProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "upd_seq", "n_events", "total_cents")
      StreamHarness.toTable(out, "graft_stream_tws", "update")
        .orderBy(col("user_id"), col("upd_seq"))
    },

    // B45 foreachBatch multi-sink: each micro-batch appends a per-type
    // aggregate to sink A and an error-split per-user-decile aggregate to
    // sink B (the reference's workflow + dead-letter fan-out, ref
    // MetadataIngestionServiceImpl.java:100,247 + executer :65–72). The
    // result is both sinks read back, tagged — per (key, batch) rows, so the
    // per-batch append semantics are what the oracle hashes.
    "q_stream_multisink" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_sink", d)
      val byType = new File(root, "by_type").getPath
      val errors = new File(root, "errors").getPath
      StreamHarness.foreachBatch(mbStream(s, d), root) { (batch, id) =>
        batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .withColumn("batch_seq", lit(id).cast("int"))
          .write.mode("append").parquet(byType)
        batch.filter(col("event_type") === "error")
          .groupBy((col("user_id") % 10).as("user_mod"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .withColumn("batch_seq", lit(id).cast("int"))
          .write.mode("append").parquet(errors)
      }
      s.read.parquet(byType)
        .select(lit("by_type").as("sink"), col("event_type").as("k"),
          col("batch_seq"), col("n"), col("total_cents"))
        .unionByName(s.read.parquet(errors)
          .select(lit("errors").as("sink"), col("user_mod").cast("string").as("k"),
            col("batch_seq"), col("n"), col("total_cents")))
        .orderBy(col("sink"), col("k"), col("batch_seq"))
    },

    // B45/B55 streaming upsert: foreachBatch MERGE-INTO dataflow without a
    // table format — each micro-batch's per-user aggregate full-outer-merges
    // the previous snapshot version into a NEW version directory (commit =
    // new version, the table-format pattern; never read+overwrite the same
    // files). Merging aggregate STATES (sums of sums) is what makes the
    // per-batch cost O(batch + snapshot) with one key shuffle — the
    // streaming half of q_incr_agg's economics. The oracle recomputes the
    // final snapshot from scratch, proving 3 merges ≡ one global aggregate.
    "q_stream_upsert" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_upsert", d)
      StreamHarness.foreachBatch(mbStream(s, d), root) { (batch, id) =>
        val agg = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .withColumn("last_batch", lit(id).cast("int"))
        val prev = new File(root, s"v${id - 1}")
        val merged =
          if (!prev.exists()) agg
          else {
            val p = batch.sparkSession.read.parquet(prev.getPath)
              .select(col("user_id"), col("n").as("pn"),
                col("cents").as("pc"), col("last_batch").as("pb"))
            p.join(agg, Seq("user_id"), "full_outer")
              .select(col("user_id"),
                (coalesce(col("pn"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
                (coalesce(col("pc"), lit(0L)) + coalesce(col("cents"), lit(0L))).as("cents"),
                coalesce(col("last_batch"), col("pb")).as("last_batch"))
          }
        merged.write.mode("overwrite").parquet(new File(root, s"v$id").getPath)
      }
      val last = root.listFiles().filter(_.getName.startsWith("v"))
        .map(_.getName.drop(1).toInt).max
      s.read.parquet(new File(root, s"v$last").getPath)
        .orderBy(col("user_id"))
    },

    // B134 STREAMING CDC APPLY (r15 verdict #4) —
    // [[graft.operators.StreamCdc]] (snapshot contract, retry theorem,
    // and scale posture on the operator): the B55 latest-wins fold run
    // as a 3-batch changelog stream (inserts, then updates, then
    // deletes) folding into a VERSIONED snapshot — within-batch max_by,
    // full-outer seq-merge against the strictly-below predecessor
    // version, batchId-keyed overwrite commits. Tombstones survive in
    // the snapshot (a late D beats an early U; a higher-seq U would
    // resurrect) and drop at read. Oracle = the batch q_cdc_apply
    // replay over the FULL feed — 3 incremental folds ≡ one global
    // latest-wins, the exactly-once witness. StreamCdcSpec pins retry
    // idempotence and the tombstone/resurrect ordering rules.
    "q_stream_cdc" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_cdc", d)
      val snapRoot = new File(root, "snap").getPath
      StreamHarness.foreachBatch(cdcStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCdc.applyBatch(batch, bid, snapRoot)
      }
      graft.operators.StreamCdc.readLatest(s, snapRoot).orderBy(col("k"))
    },

    // B134 AS-OF read over the CDC snapshot versions (the B132 convention
    // applied to the changelog sink): run the same 3-batch CDC stream,
    // then read the LIVE TABLE AS OF every committed version 0..2 under
    // one hash — version b = the latest-wins fold of batches <= b, which
    // is exactly what a Delta/Iceberg VERSION AS OF returns for a CDC
    // sink. Oracle: batch b carries seq = b+1 by construction, so AS OF b
    // = the one-pass latest-wins replay restricted to seq <= b+1 — three
    // horizons, one hash. StreamCdcSpec pins readVersion against
    // hand-built changelogs.
    "q_stream_cdc_asof" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_cdc_asof", d)
      val snapRoot = new File(root, "snap").getPath
      StreamHarness.foreachBatch(cdcStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCdc.applyBatch(batch, bid, snapRoot)
      }
      (0L to 2L).map { h =>
        graft.operators.StreamCdc.readVersion(s, snapRoot, h)
          .withColumn("as_of", lit(h)) // "asof" is a DuckDB reserved word
      }.reduce(_.unionByName(_))
        .select(col("as_of"), col("k"), col("op"), col("price_cents"))
        .orderBy(col("as_of"), col("k"))
    },

    // B134 retention over the CDC sink (r16 verdict #2 —
    // [[graft.operators.StreamCdc.vacuum]]): run the same 3-batch CDC
    // stream, VACUUM versions below the final horizon (manifests below it
    // deleted, every bucket dir no surviving manifest references
    // reclaimed, a durable purge manifest written), then read the live
    // table THROUGH the purged layout — vacuum must be invisible to every
    // surviving read, so the oracle is q_stream_cdc's full-feed
    // latest-wins replay verbatim. StreamCdcSpec pins the sharp halves
    // (AS-OF ≥ horizon byte-identical, horizon−1 fails loudly, referenced
    // below-horizon bucket dirs kept, purge manifest tight + idempotent).
    "q_stream_cdc_vacuum" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_cdc_vac", d)
      val snapRoot = new File(root, "snap").getPath
      StreamHarness.foreachBatch(cdcStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCdc.applyBatch(batch, bid, snapRoot)
      }
      graft.operators.StreamCdc.vacuum(s, snapRoot, horizon = 2L)
      graft.operators.StreamCdc.readLatest(s, snapRoot).orderBy(col("k"))
    },

    // B134 REBASE over the CDC sink ([[graft.operators.StreamCdc.rebase]]
    // — the Delta-checkpoint move; full posture on the operator): run the
    // same 3-batch CDC stream, fold the whole live snapshot into one
    // self-contained version v10, then vacuum AT v10 — which can now
    // reclaim the ENTIRE older chain (incremental manifests pin every
    // bucket's oldest dir forever; the rebase is what makes a deep vacuum
    // possible). The live read through the rebased, fully-vacuumed layout
    // must still equal the full-feed latest-wins replay verbatim — rebase
    // + vacuum are storage moves, never semantics. StreamCdcSpec pins the
    // sharp halves (old chain FULLY deleted, byte-identical reads,
    // determinism, the below-horizon applyBatch guard).
    "q_stream_cdc_rebase" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_cdc_reb", d)
      val snapRoot = new File(root, "snap").getPath
      StreamHarness.foreachBatch(cdcStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCdc.applyBatch(batch, bid, snapRoot)
      }
      graft.operators.StreamCdc.rebase(s, snapRoot, newId = 10L)
      graft.operators.StreamCdc.vacuum(s, snapRoot, horizon = 10L)
      graft.operators.StreamCdc.readLatest(s, snapRoot).orderBy(col("k"))
    },

    // B80 STREAMING CURATION (r10 verdict #4) — the production ingest shape
    // the batch dedup pieces prove separately, composed per micro-batch
    // over the 3-batch document feed: (1) within-batch exact dedup (first
    // arrival per content sha), (2) bloom-gated exact dedup against the
    // accumulated sha index (ExactDedup.bloomGatedNew — probe misses bypass
    // the history join entirely), (3) incremental MinHash+LSH near-dup
    // against the accumulated signature corpus
    // (NearDup.minhashPairsIncremental — only delta-touched buckets expand,
    // history×history pairs never generated). State accumulates across
    // batches in parquet (hist = every exact-unique arrival, the persisted
    // index a production ingest maintains; curated = the accepted corpus),
    // appends only — never read+overwrite (the q_stream_upsert rule).
    //
    // Semantics are FIRST-ARRIVAL-WINS, arrival order (batch, doc_id)
    // lexicographic (batch = doc_id % 3, the docStream split): a doc is
    // exact-dropped iff its sha arrived earlier, near-dup-dropped iff a
    // confirmed pair links it to ANY earlier exact-unique arrival —
    // including one that was itself near-dup-dropped (the signature index
    // keeps every exact-unique doc, which is what makes the drop rule
    // PAIRWISE, not chain-dependent, and therefore SQL-expressible). The
    // oracle replays the whole composition on the full feed: exact
    // survivors by arrival rank, the minhash/band chain over them, the
    // bucket cap counted against the population AT THE LATER SIDE'S
    // ARRIVAL BATCH (a cumulative count per bucket — exactly what the
    // incremental run sees), confirm by the same milli-rounded Jaccard,
    // drop the later side of each confirmed pair. Streaming output ≡ that
    // full-feed recompute, row for row — cross-batch dup leaks would break
    // the hash. StreamCurateSpec additionally replays the greedy semantics
    // driver-side and pins zero leaks.
    "q_stream_curate" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_curate", d)
      val histDir = new File(root, "hist")
      val curDir = new File(root, "curated")
      // exactly-once since r12: the batch body lives in
      // graft.operators.StreamCurate (batchId-keyed overwrites + strictly-
      // below-batchId state reads — an at-least-once foreachBatch retry
      // rewrites identical state instead of double-appending; replay
      // pinned in StreamCurateSpec). Normal execution reads exactly what
      // the r11 append form read, so the oracle is unchanged.
      StreamHarness.foreachBatch(docStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCurate.curateBatch(batch, bid, histDir,
          curDir, score = None)
      }
      graft.operators.StreamCurate.readAll(s, curDir).orderBy(col("doc_id"))
    },

    // B81 file-level AS-OF read over the StreamCurate batch-dir layout
    // (r14 verdict #8 — [[graft.operators.StreamCurate.readStateBefore]]'s
    // timeline EXPOSED as a query, the batch-granular time travel a Delta/
    // Iceberg user gets from VERSION AS OF): run the 3-batch curation,
    // COMPACT the curated layout up to batch 1 (b0+b1 fold into snap1 with
    // rows tagged `_batch_id`; b2 stays a tail dir), then read AS OF every
    // horizon 1..3. AS OF 1 must reach INSIDE the snapshot (the
    // `_batch_id < 1` row filter — the boundary-crossing read), AS OF 2 is
    // the whole snapshot, AS OF 3 snapshot + tail. Oracle: rows written at
    // batch b never change after b commits, so state-before-A = the
    // full-feed survivors with arrival batch < A — three horizons under
    // one hash. StreamCurateSpec pins compacted ≡ pre-compaction reads at
    // every horizon.
    "q_stream_asof" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_asof", d)
      val histDir = new File(root, "hist")
      val curDir = new File(root, "curated")
      StreamHarness.foreachBatch(docStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCurate.curateBatch(batch, bid, histDir,
          curDir, score = None)
      }
      graft.operators.StreamCurate.compact(s, curDir.getPath, uptoBatch = 1)
      (1L to 3L).map { a =>
        graft.operators.StreamCurate.readStateBefore(s, curDir.getPath, a)
          .getOrElse(throw new IllegalStateException(
            s"no curated state before batch $a under $curDir"))
          .select(lit(a).as("as_of"), col("doc_id"), col("source"), col("sha"))
      }.reduce(_ unionByName _)
        .orderBy(col("as_of"), col("doc_id"))
    },

    // B81 SCORED streaming curation (r11 verdict #5) — q_stream_curate
    // ships every dedup survivor; production ingest ALSO gates on quality
    // online: a FROZEN classifier (B71's broadcast-model scoreUdf — the
    // stream-sanctioned shuffle-free form q_stream_model_apply pins) and a
    // FROZEN per-source calibrated cutoff table (B73's exact per-source
    // P75, |sources| rows collected once before the stream starts — the
    // "yesterday's model" a real pipeline deploys). Composition rule:
    // scoring decides only what reaches the CURATED sink; score-rejected
    // docs still enter the sha + signature history index, so dedup
    // semantics stay exactly q_stream_curate's pairwise first-arrival-wins
    // (a later duplicate of a low-quality doc is still a duplicate —
    // dropping the rejected doc from the index would resurrect its copies;
    // StreamCurateSpec asserts rejected docs sit in the index). Oracle =
    // the full-feed q_stream_curate replay + the same frozen model/cutoff
    // SQL (q_model_apply + q_score_calibrate machinery) filtering the
    // survivors.
    "q_stream_curate_scored" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_curate_scored", d)
      val histDir = new File(root, "hist")
      val curDir = new File(root, "curated")
      // frozen model + per-source P75 cutoffs, trained on the full corpus
      // BEFORE the stream starts (offline training, online apply)
      val docsAll = graft.Tables.documents(s, d)
      val model = graft.operators.LinearScorer.model(docsAll, minCount = 3)
      val scoreU = graft.operators.LinearScorer.scoreUdf(model)
      val scoredAll = docsAll.select(col("source"),
        scoreU(col("text")).as("logit_micro"))
      val h = scoredAll.groupBy(col("source"), col("logit_micro"))
        .agg(count(lit(1)).as("c"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("logit_micro"))
        .rowsBetween(Long.MinValue, 0)
      val cum = h.withColumn("cum", sum(col("c")).over(cw))
      val tot = h.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cutRows = cum.join(tot, "source")
        .groupBy(col("source"))
        .agg(min(when(col("cum") >= expr("(3 * n + 3) DIV 4"),
          col("logit_micro"))).as("p75_micro"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      val cutDf = cutRows.toDF("source", "p75_micro")
      // same exactly-once batch body as q_stream_curate, plus the frozen
      // quality gate on the curated sink only (StreamCurate.curateBatch)
      StreamHarness.foreachBatch(docStream(s, d), root) { (batch, bid) =>
        graft.operators.StreamCurate.curateBatch(batch, bid, histDir,
          curDir, score = Some((scoreU, cutDf)))
      }
      graft.operators.StreamCurate.readAll(s, curDir).orderBy(col("doc_id"))
    },

    // B124 STREAMING k-NN-graph maintenance —
    // [[graft.operators.Ann.knnStreamBatch]] (state layout + exactly-once
    // discipline on the operator): the B119 insert composed with the
    // 3-batch foreachBatch harness. Batch 0 (vec_id %3=0) BUILDS the
    // graph; batches 1 and 2 INSERT their vectors against the graph state
    // handed forward, over the corpus accumulated so far — per-batch
    // blocking sees arrival-time bucket occupancy, exactly like the
    // curation entry's cumulative caps. Result = the newest persisted
    // graph. The oracle replays the WHOLE timeline as chained CTEs:
    // the batch-0 builder + two sqlKnnInsertStage stages (the SAME
    // factored SQL q_embed_knn_insert uses — the two insert replays
    // cannot drift). StreamKnnSpec pins stream ≡ manual staged replay
    // and retry idempotence.
    "q_stream_knn_insert" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_knn", d)
      val gRoot = new File(root, "g").getPath
      val vRoot = new File(root, "v").getPath
      StreamHarness.foreachBatch(embStream(s, d), root) { (batch, bid) =>
        graft.operators.Ann.knnStreamBatch(batch, bid, gRoot, vRoot,
          k = graft.queries.LlmOps.KnnK, graft.queries.LlmOps.KnnLshCfg,
          rounds = 2, buildK = graft.queries.LlmOps.KnnBuildK, hops = 2)
      }
      graft.operators.Ann.knnStreamState(s, gRoot)
        .select(col("src").as("vec_id"), col("rank"),
          col("dst").as("nbr_id"), col("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },

    // B129 STREAMING graph-ANN SERVING —
    // [[graft.operators.Ann.knnStreamServe]] (read side of the streaming
    // index lifecycle; contract on the operator): the graph is built
    // OFFLINE over the corpus (vec_id >= 10 — the frozen artifact, the
    // offline-train/online-apply convention of q_stream_curate_scored);
    // the 10 query vectors arrive in 3 batches (vec_id % 3) and each
    // micro-batch is answered by the B120 walk against corpus + THIS
    // batch — per-batch LSH occupancy, no cross-batch state, batchId-
    // keyed overwrite answers. Oracle = the corpus-only builder chain +
    // three sqlKnnSearchStage replays (the factored walk shared with the
    // insert oracles). StreamKnnSpec pins stream ≡ manual per-batch
    // replay + rewrite idempotence.
    "q_stream_knn_search" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_knnq", d)
      val aRoot = new File(root, "a").getPath
      // offline: the frozen index over the corpus — the SAME deployed
      // artifact q_embed_knn_search serves (Frozen tag shared; r15
      // verdict #6 — the build is the deployment's one-time cost, not
      // this entry's; baseline re-frozen r16)
      val corpus = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") >= 10)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val gFrozen = graft.queries.Frozen.parquet(s, d, "knn_ge10_v1")(
        graft.operators.Ann.knnGraph(corpus,
          k = graft.queries.LlmOps.KnnK, graft.queries.LlmOps.KnnLshCfg,
          rounds = 2, buildK = graft.queries.LlmOps.KnnBuildK))
      StreamHarness.foreachBatch(embQueryStream(s, d), root) { (batch, bid) =>
        graft.operators.Ann.knnStreamServe(batch, bid, corpus, gFrozen,
          aRoot, k = graft.queries.LlmOps.KnnK,
          graft.queries.LlmOps.KnnLshCfg, hops = 2)
      }
      s.read.parquet(graft.Fs.subdirs(aRoot, "b"): _*)
        .orderBy(col("qid"), col("rank"))
    },

    // B130 STREAMING IVFADC SERVING — [[graft.operators.Pq.ivfStreamServe]]
    // (r14 verdict #1: the PQ mirror of B129): the index is built OFFLINE
    // over the corpus (vec_id >= 10) — coarse quantizer = its first 16
    // rows, PQ codebook trained with seedFrom=10, codes via Pq.encodeInto,
    // all FROZEN; the 10 query vectors arrive in 3 micro-batches and each
    // batch is answered by the ADC scan against the frozen codes with
    // batchId-keyed overwrite answers (exactly-once). Unlike the graph
    // walk, ADC serving is stateless per query — batch composition cannot
    // change any answer, so the oracle is ONE static replay over all 10
    // queries (train + coarse-assign + per-query tables + probed-cell ADC
    // under one hash); StreamPqSpec pins stream ≡ static replay and retry
    // idempotence.
    "q_stream_ivfpq_search" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_ivfpq", d)
      val aRoot = new File(root, "a").getPath
      val cfg = graft.operators.PqConfig()
      val nCoarse = graft.queries.LlmOps.IvfCfg.numCentroids
      // offline: frozen models + index over the corpus, built before the
      // stream (the q_stream_knn_search offline-train/online-apply shape)
      val corpus = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") >= 10)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      // frozen-state provenance (r15 verdict #6): codebook + codes are
      // the deployed index — Frozen-built once per sf, measured cost
      // here = the per-batch ADC serving only (baseline re-frozen r16)
      val cb = graft.queries.Frozen.parquet(s, d, "pqcb_ge10s10_v1")(
        graft.operators.Pq.train(corpus, cfg, seedFrom = 10L))
      val coarse = corpus.filter(col("vec_id") < 10 + nCoarse)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      val index = graft.queries.Frozen.parquet(s, d, "pqcodes_ge10_v1")(
          graft.operators.Pq.encodeInto(corpus, cfg, cb, coarse))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        index.count()
        StreamHarness.foreachBatch(embQueryStream(s, d), root) { (batch, bid) =>
          graft.operators.Pq.ivfStreamServe(batch, bid, index, cb, coarse,
            aRoot, k = 3, nprobe = graft.queries.LlmOps.IvfCfg.nprobe, cfg)
        }
        s.read.parquet(graft.Fs.subdirs(aRoot, "b"): _*)
          .orderBy(col("qid"), col("rank"))
          .localCheckpoint(true)
      } finally index.unpersist(blocking = false)
    },

    // B130 STREAMING IVFADC index MAINTENANCE — the WRITE side
    // ([[graft.operators.Pq.ivfStreamEncode]]; the B124 mirror for the
    // codes index): models are trained OFFLINE on the initial corpus
    // (vec_id < 300 — the range split, see embRangeStream for why %3
    // would tear the seed contract) and FROZEN; the full corpus then
    // arrives in 3 range batches, each encoded map-side against the
    // frozen models into a batchId-keyed dir (exactly-once — encoding is
    // stateless, so a retry rewrites identical codes). Result = the
    // accumulated index, codes pivoted wide. Oracle: statelessness means
    // the union of per-batch encodes equals ONE static encode of the
    // corpus against the old-trained models (the sqlPqTrainEncode
    // train/encode split again). StreamPqSpec pins stream ≡ static
    // encode and retry idempotence.
    "q_stream_ivfpq_insert" -> { (s0, d) =>
      val s = mbSession(s0)
      val root = StreamHarness.scratchRoot("stream_ivfpqw", d)
      val iRoot = new File(root, "i").getPath
      val cfg = graft.operators.PqConfig()
      val nCoarse = graft.queries.LlmOps.IvfCfg.numCentroids
      val trainCorpus = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
      val cb = graft.operators.Pq.train(trainCorpus, cfg)
      val coarse = trainCorpus.filter(col("vec_id") < nCoarse)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      StreamHarness.foreachBatch(embRangeStream(s, d), root) { (batch, bid) =>
        graft.operators.Pq.ivfStreamEncode(batch, bid, cb, coarse,
          iRoot, cfg)
      }
      val cs = (0 until cfg.m).map(m =>
        element_at(col("codes"), m + 1).as(s"c$m"))
      s.read.parquet(graft.Fs.subdirs(iRoot, "b"): _*)
        .select(col("vec_id") +: col("cell") +: cs: _*)
        .orderBy(col("vec_id"))
        .localCheckpoint(true)
    })

  /** Shared by q_stream_stateful (flatMapGroupsWithState) and q_stream_tws
    * (transformWithState on RocksDB): both APIs must produce identical
    * per-batch update rows. */
  private val statefulOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
       |    CASE WHEN $sqlBatch0 THEN 0 WHEN $sqlBatch1 THEN 1 ELSE 2 END AS b
       |  FROM events),
       |per AS (
       |  SELECT user_id,
       |    count(*) FILTER (WHERE b = 0) AS n0,
       |    CAST(coalesce(sum(cents) FILTER (WHERE b = 0), 0) AS BIGINT) AS c0,
       |    count(*) FILTER (WHERE b = 1) AS n1,
       |    CAST(coalesce(sum(cents) FILTER (WHERE b = 1), 0) AS BIGINT) AS c1,
       |    count(*) FILTER (WHERE b = 2) AS n2,
       |    CAST(coalesce(sum(cents) FILTER (WHERE b = 2), 0) AS BIGINT) AS c2
       |  FROM e GROUP BY user_id)
       |SELECT user_id, CAST(1 AS INT) AS upd_seq,
       |  n0 AS n_events, c0 AS total_cents
       |FROM per WHERE n0 > 0
       |UNION ALL
       |SELECT user_id, CAST(CASE WHEN n0 > 0 THEN 2 ELSE 1 END AS INT),
       |  n0 + n1, c0 + c1
       |FROM per WHERE n1 > 0
       |UNION ALL
       |SELECT user_id,
       |  CAST((CASE WHEN n0 > 0 THEN 1 ELSE 0 END)
       |     + (CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + 1 AS INT),
       |  n0 + n1 + n2, c0 + c1 + c2
       |FROM per WHERE n2 > 0
       |ORDER BY user_id, upd_seq""".stripMargin

  /** The full-feed streaming-curation replay chain (see the
    * q_stream_curate entry comment for the semantics): arrival order
    * (b = doc_id % 3, doc_id); exact survivors by arrival rank per sha;
    * the minhash/band chain (identical constants to the
    * q_dedup_minhash_lsh oracle) over exact survivors; the bucket cap
    * counted against the CUMULATIVE bucket population at the later side's
    * arrival batch; milli-rounded Jaccard confirm; drop the later arrival
    * of each confirmed pair. Shared by q_stream_curate, the B81 AS-OF
    * entry and q_stream_curate_scored so the replays cannot drift. */
  private val sqlStreamCurateChain: String =
    """d AS (SELECT doc_id, text, source, doc_id % 3 AS b FROM documents),
      |es AS (SELECT doc_id, text, source, b FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY sha256(text) ORDER BY b, doc_id) AS rn FROM d) t
      |  WHERE rn = 1),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM es) t
      |  WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, CAST('0x' || substr(md5(u.s), 1, 7) AS BIGINT) AS h
      |       FROM sh, unnest(shingles) u(s)),
      |params AS (SELECT i, 1234567 + 7654321*i AS a, 987654 + 123457*i AS b
      |           FROM range(12) r(i)),
      |mh AS (SELECT doc_id, i, min((a*h + b) % 268435399) AS mh
      |       FROM ex CROSS JOIN params GROUP BY doc_id, i),
      |bands AS (SELECT mh.doc_id, es.b, i // 2 AS band,
      |    max(CASE WHEN i % 2 = 0 THEN mh END) AS mh0,
      |    max(CASE WHEN i % 2 = 1 THEN mh END) AS mh1
      |  FROM mh JOIN es ON es.doc_id = mh.doc_id
      |  GROUP BY mh.doc_id, es.b, i // 2),
      |bcnt AS (SELECT band, mh0, mh1, b, count(*) AS nb
      |         FROM bands GROUP BY 1, 2, 3, 4),
      |bcum AS (SELECT band, mh0, mh1, b, sum(nb) OVER (
      |           PARTITION BY band, mh0, mh1 ORDER BY b) AS cum FROM bcnt),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.mh0 = y.mh0
      |    AND x.mh1 = y.mh1 AND x.doc_id < y.doc_id
      |  JOIN bcum c ON c.band = x.band AND c.mh0 = x.mh0 AND c.mh1 = x.mh1
      |    AND c.b = greatest(x.b, y.b)
      |  WHERE c.cum <= 1000),
      |pairs AS (SELECT c.doc_a, c.doc_b
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b
      |  WHERE floor(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
      |    (len(sa.shingles) + len(sb.shingles)
      |      - len(list_intersect(sa.shingles, sb.shingles))) * 1e3 + 0.5)
      |    / 1e3 >= 0.8),
      |dropped AS (SELECT DISTINCT CASE WHEN doc_b % 3 >= doc_a % 3
      |    THEN doc_b ELSE doc_a END AS doc_id FROM pairs)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_stream_tumbling" ->
      s"""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         |  event_type, count(*) AS n, ${moneySumSql("value", 2)} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q_stream_sliding" ->
      s"""WITH exploded AS (
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS win_start, value FROM events
         |  UNION ALL
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) - 1 AS win_start, value FROM events)
         |SELECT win_start, count(*) AS n, ${moneySumSql("value", 2)} AS total_value
         |FROM exploded GROUP BY win_start ORDER BY win_start""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_late_drop" ->
      s"""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         |  event_type, count(*) AS n, ${moneySumSql("value", 2)} AS total_value
         |FROM events WHERE NOT $sqlLate
         |GROUP BY 1, 2
         |HAVING CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) + 1
         |       <= $sqlFinalWm
         |ORDER BY day, event_type""".stripMargin,

    "q_stream_sliding_append" ->
      s"""WITH exploded AS (
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS win_start, value
         |  FROM events WHERE NOT $sqlLate
         |  UNION ALL
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) - 1 AS win_start, value
         |  FROM events WHERE NOT $sqlLate)
         |SELECT win_start, count(*) AS n, ${moneySumSql("value", 2)} AS total_value
         |FROM exploded GROUP BY win_start
         |HAVING win_start + 2 <= $sqlFinalWm
         |ORDER BY win_start""".stripMargin,

    "q_stream_session" ->
      s"""WITH kept AS (
         |  SELECT user_id, value, CAST(ts AS TIMESTAMP) AS tsu
         |  FROM events WHERE NOT $sqlLate),
         |marked AS (
         |  SELECT user_id, value, tsu,
         |    CASE WHEN tsu - lag(tsu)
         |        OVER (PARTITION BY user_id ORDER BY tsu) >= INTERVAL 4 HOUR
         |      THEN 1 ELSE 0 END AS new_sess
         |  FROM kept),
         |sessions AS (
         |  SELECT user_id, value, tsu,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM marked)
         |SELECT user_id, epoch_us(min(tsu)) AS session_start_us,
         |  count(*) AS n_events, ${moneySumSql("value", 2)} AS session_value
         |FROM sessions GROUP BY user_id, sess_id
         |HAVING max(tsu) + INTERVAL 4 HOUR <= $sqlFinalWm
         |ORDER BY user_id, session_start_us""".stripMargin,

    "q_stream_static" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |  CAST(round(e.value * 100) AS BIGINT) AS cents
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |ORDER BY e.event_id""".stripMargin,

    "q_stream_topk" ->
      """WITH t AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT day, event_id, cents,
        |  CAST(row_number() OVER (PARTITION BY day
        |    ORDER BY cents DESC, event_id) AS INT) AS rn FROM t)
        |SELECT day, rn, event_id, cents FROM r WHERE rn <= 3
        |ORDER BY day, rn""".stripMargin,

    "q_stream_anomaly" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, cents, count(*) AS c FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, cents, c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
        |tot AS (SELECT event_type, sum(c)::BIGINT AS n FROM h GROUP BY 1),
        |q AS (SELECT cum.event_type,
        |  min(CASE WHEN cum >= (n + 3) // 4 THEN cents END) AS q1,
        |  min(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END) AS q3
        |  FROM cum JOIN tot ON tot.event_type = cum.event_type
        |  GROUP BY cum.event_type)
        |SELECT e.event_id, e.event_type,
        |  CAST(round(e.value * 100) AS BIGINT) AS cents, q.q1, q.q3
        |FROM events e JOIN q ON q.event_type = e.event_type
        |WHERE CAST(round(e.value * 100) AS BIGINT) * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
        |   OR CAST(round(e.value * 100) AS BIGINT) * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
        |ORDER BY e.event_id""".stripMargin,

    "q_stream_model_apply" ->
      s"""WITH $sqlScoreReplay
        |SELECT d.doc_id, d.source, sc.logit_micro,
        |  sc.logit_micro >= 0 AS keep
        |FROM documents d JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_stream_join" ->
      s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
         |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
         |  epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |FROM events c JOIN events p
         |  ON p.user_id = c.user_id
         | AND c.event_type = 'click' AND p.event_type = 'purchase'
         | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
         |WHERE NOT ${sqlLateFor("c")} AND NOT ${sqlLateFor("p")}
         |ORDER BY c.user_id, click_id, purch_id""".stripMargin,

    "q_stream_join_left" ->
      s"""WITH m AS (
         |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
         |    epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
         |    epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |  FROM events c JOIN events p
         |    ON p.user_id = c.user_id
         |   AND c.event_type = 'click' AND p.event_type = 'purchase'
         |   AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |   AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
         |  WHERE NOT ${sqlLateFor("c")} AND NOT ${sqlLateFor("p")})
         |SELECT * FROM m
         |UNION ALL
         |SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purch_id,
         |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us, CAST(NULL AS BIGINT) AS purch_us
         |FROM events c
         |WHERE c.event_type = 'click' AND NOT ${sqlLateFor("c")}
         |  AND NOT EXISTS (SELECT 1 FROM events p
         |    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
         |      AND NOT ${sqlLateFor("p")}
         |      AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |      AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY)
         |  AND CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY < $sqlJoinFinalWm
         |ORDER BY user_id, click_id, purch_id""".stripMargin,

    "q_stream_join_semi" ->
      s"""SELECT c.user_id, c.event_id AS click_id,
         |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us
         |FROM events c
         |WHERE c.event_type = 'click' AND NOT ${sqlLateFor("c")}
         |  AND EXISTS (SELECT 1 FROM events p
         |    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
         |      AND NOT ${sqlLateFor("p")}
         |      AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |      AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY)
         |ORDER BY user_id, click_id""".stripMargin,

    // matched rows ∪ right-evicted nulls (purch_ts < final two-sided wm)
    "q_stream_join_right" ->
      s"""WITH m AS (
         |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
         |    epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
         |    epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |  FROM events c JOIN events p
         |    ON p.user_id = c.user_id
         |   AND c.event_type = 'click' AND p.event_type = 'purchase'
         |   AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |   AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
         |  WHERE NOT ${sqlLateFor("c")} AND NOT ${sqlLateFor("p")}),
         |rnull AS (
         |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.event_id AS purch_id,
         |    CAST(NULL AS BIGINT) AS click_us, epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |  FROM events p
         |  WHERE p.event_type = 'purchase' AND NOT ${sqlLateFor("p")}
         |    AND NOT EXISTS (SELECT 1 FROM events c
         |      WHERE c.user_id = p.user_id AND c.event_type = 'click'
         |        AND NOT ${sqlLateFor("c")}
         |        AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |        AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY)
         |    AND CAST(p.ts AS TIMESTAMP) < $sqlJoinFinalWm)
         |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM rnull)
         |ORDER BY user_id, click_id NULLS LAST, purch_id""".stripMargin,

    // matched rows ∪ left-evicted nulls (window end < final wm, as in
    // join_left) ∪ right-evicted nulls (purch_ts itself < final wm: the
    // right state watermark derives from purch_ts >= click_ts)
    "q_stream_join_full" ->
      s"""WITH m AS (
         |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
         |    epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
         |    epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |  FROM events c JOIN events p
         |    ON p.user_id = c.user_id
         |   AND c.event_type = 'click' AND p.event_type = 'purchase'
         |   AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |   AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
         |  WHERE NOT ${sqlLateFor("c")} AND NOT ${sqlLateFor("p")}),
         |lnull AS (
         |  SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purch_id,
         |    epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us, CAST(NULL AS BIGINT) AS purch_us
         |  FROM events c
         |  WHERE c.event_type = 'click' AND NOT ${sqlLateFor("c")}
         |    AND NOT EXISTS (SELECT 1 FROM events p
         |      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
         |        AND NOT ${sqlLateFor("p")}
         |        AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |        AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY)
         |    AND CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY < $sqlJoinFinalWm),
         |rnull AS (
         |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.event_id AS purch_id,
         |    CAST(NULL AS BIGINT) AS click_us, epoch_us(CAST(p.ts AS TIMESTAMP)) AS purch_us
         |  FROM events p
         |  WHERE p.event_type = 'purchase' AND NOT ${sqlLateFor("p")}
         |    AND NOT EXISTS (SELECT 1 FROM events c
         |      WHERE c.user_id = p.user_id AND c.event_type = 'click'
         |        AND NOT ${sqlLateFor("c")}
         |        AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |        AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY)
         |    AND CAST(p.ts AS TIMESTAMP) < $sqlJoinFinalWm)
         |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM lnull
         |               UNION ALL SELECT * FROM rnull)
         |ORDER BY user_id, click_id NULLS LAST, purch_id NULLS LAST""".stripMargin,

    "q_stream_stateful" -> statefulOracle,
    "q_stream_tws" -> statefulOracle,

    "q_stream_multisink" ->
      s"""WITH e AS (
         |  SELECT event_type, user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         |    CASE WHEN $sqlBatch0 THEN 0 WHEN $sqlBatch1 THEN 1 ELSE 2 END AS batch_seq
         |  FROM events),
         |bt AS (
         |  SELECT 'by_type' AS sink, event_type AS k, batch_seq,
         |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
         |  FROM e GROUP BY 1, 2, 3),
         |er AS (
         |  SELECT 'errors' AS sink, CAST(user_id % 10 AS VARCHAR) AS k, batch_seq,
         |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
         |  FROM e WHERE event_type = 'error' GROUP BY 1, 2, 3)
         |SELECT * FROM bt UNION ALL SELECT * FROM er
         |ORDER BY sink, k, batch_seq""".stripMargin,

    // final snapshot recomputed from scratch — the 3 incremental merges
    // must equal one global aggregate, and last_batch pins which batch
    // last touched each key
    "q_stream_upsert" ->
      s"""SELECT user_id, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         |  CAST(max(CASE WHEN $sqlBatch0 THEN 0 WHEN $sqlBatch1 THEN 1
         |    ELSE 2 END) AS INT) AS last_batch
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // full-feed replay of the streaming curation (see the q_stream_curate
    // entry comment for the semantics): arrival order (b = doc_id % 3,
    // doc_id); exact survivors by arrival rank per sha; the minhash/band
    // chain (identical constants to the q_dedup_minhash_lsh oracle) over
    // exact survivors; the bucket cap counted against the CUMULATIVE bucket
    // population at the later side's arrival batch — what the incremental
    // run actually sees; milli-rounded Jaccard confirm; drop the later
    // arrival of each confirmed pair (doc_a < doc_b, so doc_b is later iff
    // its batch is >= doc_a's)
    // the full-feed latest-wins replay (the q_cdc_apply oracle verbatim):
    // 3 incremental folds must equal one global fold
    "q_stream_cdc" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', CAST(round(o_totalprice * 110) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 7 = 0),
        |r AS (SELECT k, op, price_cents,
        |        row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |      FROM log)
        |SELECT k, op, price_cents FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY k""".stripMargin,

    // AS-OF horizons: batch b carries seq = b+1, so version b = the
    // latest-wins fold restricted to seq <= b+1 (tombstones dropped at
    // read) — three horizons under one hash
    "q_stream_cdc_asof" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', CAST(round(o_totalprice * 110) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 7 = 0),
        |h AS (SELECT 0 AS hz UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT h.hz, l.k, l.op, l.price_cents,
        |        row_number() OVER (PARTITION BY h.hz, l.k
        |                           ORDER BY l.seq DESC) AS rn
        |      FROM h JOIN log l ON l.seq <= h.hz + 1)
        |SELECT CAST(hz AS BIGINT) AS as_of, k, op, price_cents
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY as_of, k""".stripMargin,

    // vacuum is retention, not semantics: the post-purge live read must
    // equal q_stream_cdc's full-feed latest-wins replay verbatim
    "q_stream_cdc_vacuum" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', CAST(round(o_totalprice * 110) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 7 = 0),
        |r AS (SELECT k, op, price_cents,
        |        row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |      FROM log)
        |SELECT k, op, price_cents FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY k""".stripMargin,

    // rebase + deep vacuum are storage moves, not semantics: the live read
    // through the one-version layout must equal the full-feed replay
    "q_stream_cdc_rebase" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', CAST(round(o_totalprice * 110) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 7 = 0),
        |r AS (SELECT k, op, price_cents,
        |        row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |      FROM log)
        |SELECT k, op, price_cents FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY k""".stripMargin,

    "q_stream_curate" ->
      s"""WITH $sqlStreamCurateChain
        |SELECT es.doc_id, es.source, sha256(es.text) AS sha
        |FROM es WHERE es.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY es.doc_id""".stripMargin,

    // the curate replay restricted per AS-OF horizon: rows written at
    // batch b never change after b commits (drops always land on the
    // LATER arrival, whose batch is the pair's max — that batch's own
    // processing), so state-before-A is exactly the full-feed survivors
    // with es.b < A. Three horizons under one hash.
    "q_stream_asof" ->
      s"""WITH $sqlStreamCurateChain,
        |surv AS (SELECT es.b, es.doc_id, es.source, sha256(es.text) AS sha
        |  FROM es WHERE es.doc_id NOT IN (SELECT doc_id FROM dropped))
        |SELECT CAST(a.a AS BIGINT) AS as_of, s.doc_id, s.source, s.sha
        |FROM range(1, 4) a(a) JOIN surv s ON s.b < a.a
        |ORDER BY as_of, doc_id""".stripMargin,

    // the q_stream_curate replay + the frozen-model quality gate: the B71
    // scorer and B73 per-source P75 cutoff recomputed over the FULL corpus
    // (the offline-trained state the stream deploys), filtering the dedup
    // survivors — score-rejected docs still participate in the dedup
    // chain (es / pairs / dropped are untouched), only the final SELECT
    // gains the score rule
    // streaming graph maintenance: the batch-0 builder chain + two
    // chained insert stages (the factored sqlKnnInsertStage — identical
    // SQL to the q_embed_knn_insert replay, staged occupancy per arrival)
    "q_stream_knn_insert" ->
      s"""WITH ${LlmOps.sqlKnnGraphCtesWhere("WHERE vec_id % 3 = 0")},
         |g0 AS MATERIALIZED (SELECT src, dst, cos FROM r2g WHERE rn <= ${LlmOps.KnnK}),
         |${LlmOps.sqlKnnInsertStage("s1", "WHERE vec_id % 3 <> 2", "b.vec_id % 3 = 1", "g0")},
         |g1 AS MATERIALIZED (SELECT src, dst, cos FROM s1out),
         |${LlmOps.sqlKnnInsertStage("s2", "", "b.vec_id % 3 = 2", "g1")}
         |SELECT src AS vec_id, CAST(rn AS INT) AS rank, dst AS nbr_id,
         |  cos AS cos_sim
         |FROM s2out ORDER BY vec_id, rank""".stripMargin,

    // streaming serving: corpus-only builder chain + three search-stage
    // walks (one per query batch, arrival-time occupancy each)
    "q_stream_knn_search" ->
      s"""WITH ${LlmOps.sqlKnnGraphCtesWhere("WHERE vec_id >= 10")},
         |gold AS MATERIALIZED (SELECT src, dst, cos FROM r2g WHERE rn <= ${LlmOps.KnnK}),
         |${LlmOps.sqlKnnSearchStage("t0",
            "WHERE vec_id >= 10 OR vec_id % 3 = 0", "b.vec_id < 10", "gold")},
         |${LlmOps.sqlKnnSearchStage("t1",
            "WHERE vec_id >= 10 OR vec_id % 3 = 1", "b.vec_id < 10", "gold")},
         |${LlmOps.sqlKnnSearchStage("t2",
            "WHERE vec_id >= 10 OR vec_id % 3 = 2", "b.vec_id < 10", "gold")}
         |SELECT src AS qid, CAST(rn AS INT) AS rank, dst AS cid,
         |  cos AS cos_sim
         |FROM (SELECT * FROM t0out UNION ALL SELECT * FROM t1out
         |      UNION ALL SELECT * FROM t2out) f
         |ORDER BY qid, rank""".stripMargin,

    // streaming IVFADC serving: ONE static replay (ADC serving is
    // stateless per query — batch composition cannot change answers):
    // PQ train (seed from vec_id 10) + encode over the corpus rows only,
    // coarse assignment against corpus rows 10..25, per-query distance
    // tables, probed-cell ADC — the q_embed_ivfpq replay re-anchored to
    // the corpus/query split
    "q_stream_ivfpq_search" -> {
      val nC = LlmOps.IvfCfg.numCentroids
      s"""WITH pex AS (SELECT vec_id, i // ${LlmOps.PqCfg.subDim} AS m,
         |    i % ${LlmOps.PqCfg.subDim} AS si, embedding[i+1]::DOUBLE AS x
         |  FROM embeddings CROSS JOIN range(${LlmOps.PqCfg.dim}) r(i)),
         |pexc AS (SELECT * FROM pex WHERE vec_id >= 10),
         |${LlmOps.sqlPqTrainEncode("pexc", "p", seedFrom = 10)},
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |cdots AS (
         |  SELECT v.vec_id, c.vec_id AS cent_id,
         |    sum(v.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
         |  FROM e v JOIN e c ON c.vec_id >= 10 AND c.vec_id < ${10 + nC}
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT cd.vec_id, cd.cent_id,
         |    row_number() OVER (PARTITION BY cd.vec_id
         |      ORDER BY round(cd.dp / (nv.nrm * nc.nrm), 9) DESC, cd.cent_id) AS arn
         |  FROM cdots cd
         |  JOIN norms nv ON nv.vec_id = cd.vec_id
         |  JOIN norms nc ON nc.vec_id = cd.cent_id),
         |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked
         |             WHERE arn = 1 AND vec_id >= 10),
         |probes AS (SELECT vec_id, cent_id AS cell FROM ranked
         |           WHERE arn <= ${LlmOps.IvfCfg.nprobe} AND vec_id < 10),
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },

    // streaming index maintenance (write side): encoding is stateless
    // against frozen models, so the union of per-batch encodes = ONE
    // static encode — train on vec_id < 300 (the initial-corpus range),
    // encode all, coarse-assign all against centroids 0..15
    "q_stream_ivfpq_insert" -> {
      val nC = LlmOps.IvfCfg.numCentroids
      s"""WITH pex AS (SELECT vec_id, i // ${LlmOps.PqCfg.subDim} AS m,
         |    i % ${LlmOps.PqCfg.subDim} AS si, embedding[i+1]::DOUBLE AS x
         |  FROM embeddings CROSS JOIN range(${LlmOps.PqCfg.dim}) r(i)),
         |pextr AS (SELECT * FROM pex WHERE vec_id < 300),
         |${LlmOps.sqlPqTrainEncode("pextr", "p", seedFrom = 0, encSrc = Some("pex"))},
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |cdots AS (
         |  SELECT v.vec_id, c.vec_id AS cent_id,
         |    sum(v.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
         |  FROM e v JOIN e c ON c.vec_id < $nC
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT cd.vec_id, cd.cent_id,
         |    row_number() OVER (PARTITION BY cd.vec_id
         |      ORDER BY round(cd.dp / (nv.nrm * nc.nrm), 9) DESC, cd.cent_id) AS arn
         |  FROM cdots cd
         |  JOIN norms nv ON nv.vec_id = cd.vec_id
         |  JOIN norms nc ON nc.vec_id = cd.cent_id),
         |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE arn = 1)
         |SELECT a.vec_id, a.cell,
         |  ${(0 until LlmOps.PqCfg.m).map(m =>
             s"max(CASE WHEN f.m = $m THEN f.code END) AS c$m")
             .mkString(",\n         |  ")}
         |FROM paF f JOIN assigned a ON a.vec_id = f.vec_id
         |GROUP BY 1, 2 ORDER BY a.vec_id""".stripMargin
    },

    "q_stream_curate_scored" ->
      s"""WITH $sqlStreamCurateChain,
        |$sqlScoreReplay,
        |ds AS (SELECT dd.source, dd.doc_id, sc.logit_micro
        |  FROM documents dd JOIN sc ON sc.doc_id = dd.doc_id),
        |hst AS (SELECT source, logit_micro, count(*)::BIGINT AS c
        |        FROM ds GROUP BY 1, 2),
        |cm AS (SELECT source, logit_micro, c, sum(c) OVER (
        |         PARTITION BY source ORDER BY logit_micro) AS cum FROM hst),
        |tt AS (SELECT source, sum(c)::BIGINT AS n FROM hst GROUP BY source),
        |cut AS (SELECT cm.source,
        |    min(CASE WHEN cm.cum >= (3 * tt.n + 3) // 4
        |        THEN cm.logit_micro END) AS p75_micro
        |  FROM cm JOIN tt ON tt.source = cm.source GROUP BY cm.source)
        |SELECT es.doc_id, es.source, sha256(es.text) AS sha,
        |  sc.logit_micro
        |FROM es
        |JOIN sc ON sc.doc_id = es.doc_id
        |JOIN cut ON cut.source = es.source
        |WHERE es.doc_id NOT IN (SELECT doc_id FROM dropped)
        |  AND sc.logit_micro >= cut.p75_micro
        |ORDER BY es.doc_id""".stripMargin,
  )
}
