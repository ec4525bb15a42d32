package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Shared lineage-cut for the ITERATIVE operators (NN-descent rounds,
  * BPE merge rounds, index insert/delete repairs) — one place that decides
  * HOW a round's result is materialized, with a session-level durability
  * knob (r15 verdict #1):
  *
  *  - DEFAULT (`graft.checkpoint.reliable` unset/false):
  *    `localCheckpoint(eager)` — blocks live in EXECUTOR storage. Fast
  *    (no DFS round-trip), correct for a single-job run, but lineage is
  *    truncated BY DESIGN: on a multi-hour 100 TB run a lost executor
  *    kills the job with no recovery.
  *  - RELIABLE (`spark.conf.set("graft.checkpoint.reliable", "true")`,
  *    plus either `graft.checkpoint.dir` = a DISTRIBUTED-FS path or a
  *    pre-set `sc.setCheckpointDir`): `Dataset.checkpoint(eager)` — each
  *    round is written to the checkpoint filesystem, so executor loss
  *    recomputes nothing and loses nothing. The right setting for long
  *    multi-round jobs; costs one DFS write per round. Fails LOUDLY when
  *    enabled without a dir — silently mutating process-wide state with a
  *    driver-local default would defeat the whole point (surviving
  *    executor loss needs a path every executor can read).
  *
  * The knob is a SparkSession conf, not a parameter, deliberately: the
  * call sites sit 2-4 frames below public entry points (catalog queries,
  * streaming foreachBatch drivers) and a threaded parameter would have to
  * cross every one of them.
  *
  * Two entry points, by what the caller does with the result:
  *
  *  - [[cutFinal]] — for a RESULT returned to the caller: checkpoint in
  *    the session's mode, keep the checkpoint Dataset as-is (its
  *    LogicalRDD preserves the origin plan's partitioning/ordering and
  *    size estimates, which downstream join planning wants). Storage is
  *    freed when the ContextCleaner GCs the plan — fine for a one-shot
  *    result.
  *  - [[cut]] — for a ROUND inside an iteration: additionally re-wraps
  *    the checkpointed RDD in a FRESH LogicalRDD leaf (the r15 BPE fix:
  *    carried across rounds, the origin plan's size estimates are
  *    products over each round's joins and compound into BigInts whose
  *    bare arithmetic froze the driver in SizeInBytesOnlyStatsPlanVisitor
  *    after ~15 rounds), and returns an explicit [[Cut.release]] handle
  *    that unpersists the round's blocks — the re-wrap orphans the
  *    checkpointed Dataset, so without the handle each round's executor
  *    storage is freed only when the ContextCleaner happens to GC it and
  *    long trainings accumulate multiple rounds at peak (r15 advice).
  *    Call `release()` only after the NEXT round is materialized: the
  *    lineage below a local checkpoint is gone, freeing the blocks
  *    destroys the data.
  */
object Materialize {
  /** Session-conf key: "true" switches every cut to reliable checkpoints. */
  val ReliableKey = "graft.checkpoint.reliable"
  /** Session-conf key (MEASUREMENT-ONLY): "true" turns [[cutFinal]] into
    * the identity, so a cut's cost/benefit can be A/B-measured
    * like-for-like on one build (r17 verdict #3 — four cut-consuming
    * entries regressed and the adjudication needs the toggle). Never set
    * by any query path; [[cut]] (the iteration form) is NOT covered — an
    * uncut iteration compounds plan size and would freeze the driver.
    * `spark.`-prefixed so `-Dspark.graft.cutFinal.disable=true` reaches
    * the `newSession()` children the streaming entries run on (runtime
    * `conf.set` on the root session does not). */
  val CutFinalOffKey = "spark.graft.cutFinal.disable"
  /** Session-conf key: checkpoint directory used when [[ReliableKey]] is
    * set and the SparkContext has no checkpoint dir configured yet. */
  val DirKey = "graft.checkpoint.dir"

  /** A materialized round: the fresh-leaf frame plus the handle that
    * frees its storage (no-op in reliable mode — data lives in files). */
  final case class Cut(df: DataFrame, release: () => Unit)

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableKey).exists(_.toBoolean)

  /** Per-context memo of the last [[DirKey]] value this helper applied —
    * setCheckpointDir mkdirs a fresh random UUID subdir per call, so
    * calling it every cut would scatter a multi-round training across
    * directories and repeatedly mutate process-global state (r16
    * advice). One job = one setCheckpointDir per configured root; a
    * CHANGED conf value still takes effect (a plain has-a-dir guard
    * would silently ignore the session's configured dir whenever some
    * earlier code had set any checkpoint dir on the shared context). */
  private val appliedDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[operators] def checkpointed(df: DataFrame): DataFrame =
    if (reliable(df)) {
      val sc = df.sparkSession.sparkContext
      df.sparkSession.conf.getOption(DirKey).foreach { d =>
        if (sc.getCheckpointDir.isEmpty ||
            appliedDir.get(sc.applicationId) != d) {
          sc.setCheckpointDir(d)
          appliedDir.put(sc.applicationId, d)
        }
      }
      require(sc.getCheckpointDir.isDefined,
        s"$ReliableKey=true needs a checkpoint dir: set $DirKey to a " +
          "distributed-fs path or call sc.setCheckpointDir first")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Eagerly materialize a final result in the session's checkpoint mode
    * (stats/partitioning preserved; storage freed by ContextCleaner GC). */
  def cutFinal(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(CutFinalOffKey).exists(_.toBoolean)) df
    else checkpointed(df)

  /** Eagerly materialize one iteration round: fresh-leaf stats + an
    * explicit storage-release handle (see object doc for the ordering
    * contract). */
  def cut(df: DataFrame): Cut = {
    val ck = checkpointed(df)
    // the actual persisted RDD[InternalRow] lives in the checkpoint
    // Dataset's LogicalRDD leaf (ck.rdd would be a DERIVED decode of it:
    // unpersisting that frees nothing, and re-wrapping it would pay an
    // InternalRow→Row→InternalRow round-trip on every downstream read of
    // every round — the r16 verdict #5 per-round constant). Re-wrap the
    // internal RDD itself in a fresh LogicalRDD leaf, zero-copy, via the
    // private[sql] shim.
    val internal = ck.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd
    }
    val fresh = internal match {
      case Some(rdd) =>
        org.apache.spark.sql.GraftInternalRows.wrap(ck.sparkSession, rdd, ck.schema)
      case None => // checkpoint plans are LogicalRDD leaves; keep a loud trail
        throw new IllegalStateException(
          "checkpointed plan has no LogicalRDD leaf: " + ck.queryExecution.analyzed)
    }
    Cut(fresh, () => internal.foreach(_.unpersist(blocking = false)))
  }
}
