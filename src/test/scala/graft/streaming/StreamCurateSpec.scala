package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.NearDup

/** B80 q_stream_curate (r10 verdict #4): the per-micro-batch composition of
  * bloom-gated exact dedup + incremental near-dup must leak ZERO duplicates
  * across batch boundaries. Evidence here is an INDEPENDENT driver-side
  * greedy replay of the first-arrival-wins semantics (arrival order =
  * (doc_id % 3, doc_id), the doc-feed split rule) — the DuckDB oracle is the
  * hash gate; this spec is the second, structurally different witness, plus
  * the non-vacuousness checks (drops actually happen, and actually cross
  * batch boundaries). Runs at sf0.001; the bucket cap (1000) can never bind
  * on ≤ ~50 docs, so the full-run minhashPairs pair set equals the
  * per-arrival-capped incremental pair set here. */
class StreamCurateSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  private lazy val accepted = graft.SparkEntry.queries("q_stream_curate")(spark, sf)
    .select(col("doc_id"), col("sha")).collect()
    .map(r => (r.getLong(0), r.getString(1)))

  /** Arrival key: batch (doc_id % 3) first, then doc_id. */
  private def arr(id: Long): (Long, Long) = (id % 3, id)

  test("no exact-dup leak: accepted shas are unique and each is the first arrival") {
    val bySha = accepted.groupBy(_._2)
    assert(bySha.values.forall(_.length == 1),
      s"exact dup leaked: ${bySha.filter(_._2.length > 1).keys.take(3)}")
    // each accepted doc is the arrival-minimal holder of its sha in the feed
    val allShas = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), sha2(col("text"), 256).as("sha")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val firstArrival = allShas.groupBy(_._2)
      .map { case (sha, xs) => sha -> xs.map(_._1).minBy(arr) }
    accepted.foreach { case (id, sha) =>
      assert(firstArrival(sha) == id,
        s"doc $id accepted but ${firstArrival(sha)} arrived earlier with the same sha")
    }
  }

  test("streaming accepted set equals the greedy full-feed replay; drops cross batches") {
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // exact survivors under the arrival rule
    val allShas = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), sha2(col("text"), 256).as("sha")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exactSurvivors = allShas.groupBy(_._2)
      .map { case (_, xs) => xs.map(_._1).minBy(arr) }.toSet
    val es = docs.filter(col("doc_id").isInCollection(exactSurvivors))
    // full-run confirmed near-dup pairs over the exact survivors (cap
    // unbindable at this scale — see class doc), later arrival dropped
    val pairs = NearDup.minhashPairs(es).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = pairs.map { case (a, b) =>
      if (Ordering[(Long, Long)].lt(arr(a), arr(b))) b else a
    }.toSet
    val expect = (exactSurvivors -- dropped).toSeq.sorted
    assert(accepted.map(_._1).toSeq.sorted === expect,
      "streaming accepted set diverges from the greedy full-feed replay")
    // non-vacuous: the feed must actually exercise cross-batch near-dup
    // drops, or this spec proves nothing about batch boundaries
    assert(dropped.nonEmpty, "fixture has no near-dup drops at all")
    val crossBatch = pairs.exists { case (a, b) =>
      val d = if (Ordering[(Long, Long)].lt(arr(a), arr(b))) b else a
      val k = if (d == a) b else a
      d % 3 != k % 3
    }
    assert(crossBatch, "no confirmed pair crosses a batch boundary — " +
      "the cross-batch leak claim is untested at this fixture")
  }

  test("scored curation: quality gate filters the sink, never the dedup index") {
    // r11 verdict #5: q_stream_curate_scored = the same dedup composition
    // with a frozen classifier + per-source P75 cutoff gating only what
    // reaches the curated sink. Three claims: (1) its curated set is
    // EXACTLY the unscored entry's accepted set filtered by the score
    // rule (driver-side replay below); (2) the gate is non-vacuous (P75
    // rejects most survivors); (3) score-REJECTED docs still sit in the
    // persisted history index — dropping them would resurrect their
    // later duplicates.
    val scoredOut = graft.SparkEntry.queries("q_stream_curate_scored")(spark, sf)
      .select(col("doc_id"), col("logit_micro")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val acc = accepted.map(_._1).toSet
    // driver-side frozen-model replay: full-corpus logits + per-source P75
    val docsAll = graft.Tables.documents(spark, sf)
    val model = graft.operators.LinearScorer.model(docsAll, minCount = 3)
    val logits = graft.operators.LinearScorer.score(docsAll, model, 0L)
      .select(col("doc_id"), col("logit_micro")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val srcOf = docsAll.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val p75 = logits.toSeq.groupBy(x => srcOf(x._1)).map { case (s, xs) =>
      val sorted = xs.map(_._2).sorted
      val r = (3 * sorted.length + 3) / 4
      s -> sorted(r - 1)
    }
    val expect = acc.filter(id => logits(id) >= p75(srcOf(id)))
    assert(scoredOut.keySet === expect,
      "scored curated set diverges from accepted ∩ frozen score rule")
    scoredOut.foreach { case (id, l) => assert(l === logits(id)) }
    val rejected = acc -- scoredOut.keySet
    assert(rejected.nonEmpty, "P75 gate rejected nothing — vacuous fixture")
    // the entry's pid-scoped state root (same JVM => same pid)
    val histDir = new java.io.File("target/qscratch/stream_curate_scored_" +
      sf.replaceAll("[^a-zA-Z0-9.]", "_") +
      "_p" + ProcessHandle.current().pid(), "hist")
    assert(histDir.exists(), s"history index missing at $histDir")
    val hist = graft.operators.StreamCurate.readAll(spark, histDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(rejected.subsetOf(hist),
      s"score-rejected docs missing from the dedup index: ${(rejected -- hist).take(3)}")
  }

  test("curateBatch is exactly-once: a retried batch rewrites identical state") {
    // r12: foreachBatch delivers (batch, batchId) AT LEAST once — the
    // batch body must be idempotent under retry. Drive it manually with
    // the entry's own batch split (b = doc_id % 3), inject a RETRY of
    // batch 1 after it committed, and require byte-identical state, then
    // require the final corpus to equal the real streaming entry's
    // accepted set.
    import graft.operators.StreamCurate
    val root = new java.io.File(scratch("curate_replay"))
    val hist = new java.io.File(root, "hist")
    val cur = new java.io.File(root, "cur")
    val docs = graft.Tables.documents(spark, sf)
    def b(i: Int) = docs.filter(col("doc_id") % 3 === i)
    def curState(): Set[(Long, String)] =
      StreamCurate.readAll(spark, cur)
        .select(col("doc_id"), col("sha")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    StreamCurate.curateBatch(b(0), 0, hist, cur, score = None)
    StreamCurate.curateBatch(b(1), 1, hist, cur, score = None)
    val afterB1 = curState()
    // the retry: same batch, same id, AFTER the original committed — the
    // strictly-below-batchId state read must hide b1's own output, or
    // the bloom gate would flag the whole batch as dups and replace the
    // directory with an empty delta
    StreamCurate.curateBatch(b(1), 1, hist, cur, score = None)
    assert(curState() === afterB1, "retry changed committed state")
    StreamCurate.curateBatch(b(2), 2, hist, cur, score = None)
    assert(curState().map(_._1) === accepted.map(_._1).toSet,
      "manual replay diverges from the streaming entry's accepted set")
  }

  test("compaction folds batch dirs into a tagged snapshot; state and retry semantics unchanged") {
    // r12 verdict #5: snap<N> carries rows tagged _batch_id, so the
    // strictly-below state read is enforced by a ROW filter across the
    // compaction boundary, not by directory pruning — a retry that lands
    // after a compaction must read exactly what it would have read before.
    import graft.operators.StreamCurate
    val docs = graft.Tables.documents(spark, sf)
    def b(i: Int) = docs.filter(col("doc_id") % 3 === i)
    def rowsOf(dir: java.io.File): Set[(Long, String)] =
      StreamCurate.readAll(spark, dir)
        .select(col("doc_id"), col("sha")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // uncompacted reference run
    val rootA = new java.io.File(scratch("curate_nocompact"))
    val (histA, curA) = (new java.io.File(rootA, "hist"), new java.io.File(rootA, "cur"))
    (0 to 2).foreach(i => StreamCurate.curateBatch(b(i), i, histA, curA, None))
    val refCur = rowsOf(curA)
    val refHist = rowsOf(histA)
    def asOfReads(dir: java.io.File): Map[Long, Set[Long]] =
      (1L to 3L).map(a => a -> StreamCurate.readStateBefore(spark, dir.getPath, a)
        .get.select(col("doc_id")).collect().map(_.getLong(0)).toSet).toMap
    val refState1 = StreamCurate.readStateBefore(spark, curA.getPath, 1)
      .get.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // pre-compaction AS-OF timeline (the q_stream_asof horizons)
    val refAsOf = asOfReads(curA)
    // compacted run, with the retry landing ACROSS the snapshot boundary
    val rootB = new java.io.File(scratch("curate_compact"))
    val (histB, curB) = (new java.io.File(rootB, "hist"), new java.io.File(rootB, "cur"))
    StreamCurate.curateBatch(b(0), 0, histB, curB, None)
    StreamCurate.curateBatch(b(1), 1, histB, curB, None)
    val afterB1 = rowsOf(curB)
    StreamCurate.compact(spark, histB.getPath, 0)
    StreamCurate.compact(spark, curB.getPath, 0)
    StreamCurate.curateBatch(b(1), 1, histB, curB, None) // the cross-boundary retry
    assert(rowsOf(curB) === afterB1,
      "retry across the compaction boundary changed committed state")
    StreamCurate.curateBatch(b(2), 2, histB, curB, None)
    StreamCurate.compact(spark, histB.getPath, 2)
    StreamCurate.compact(spark, curB.getPath, 2)
    assert(rowsOf(curB) === refCur, "compacted curated state diverges")
    assert(rowsOf(histB) === refHist, "compacted history index diverges")
    // strictly-below reads filter snapshot ROWS, not directories
    val st1 = StreamCurate.readStateBefore(spark, curB.getPath, 1)
      .get.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(st1 === refState1,
      "readStateBefore across the snapshot does not equal the uncompacted read")
    // r14 verdict #8 (the q_stream_asof contract): EVERY AS-OF horizon
    // reads identically over the compacted layout — horizon 1 and 2 reach
    // inside snap2 via the _batch_id row filter, horizon 3 is the whole
    // snapshot
    assert(asOfReads(curB) === refAsOf,
      "AS-OF timeline over the compacted layout diverges from the " +
        "pre-compaction reads")
    // physical layout: only the stacked snapshot remains (b0..b2 + snap0
    // were folded and deleted), and re-compacting is a no-op
    val names = curB.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(names === Set("snap2"), s"unexpected state layout: $names")
    StreamCurate.compact(spark, curB.getPath, 2)
    assert(rowsOf(curB) === refCur, "idempotent re-compaction changed state")
  }

  test("expireBelow: surviving AS-OF horizons identical, below-floor reads fail loudly, purge manifest durable") {
    // r16 verdict #2, the curation-sink half: retention folds dirs below
    // the horizon (compact's mechanics) AND ratchets a floor so a read at
    // an expired horizon refuses loudly instead of silently missing
    // reclaimed rows — the ScdExpirySpec tightness discipline.
    import graft.operators.StreamCurate
    val docs = graft.Tables.documents(spark, sf)
    def b(i: Int) = docs.filter(col("doc_id") % 3 === i)
    val root = new java.io.File(scratch("curate_expire"))
    val (hist, cur) = (new java.io.File(root, "hist"), new java.io.File(root, "cur"))
    (0 to 2).foreach(i => StreamCurate.curateBatch(b(i), i, hist, cur, None))
    def asOf(a: Long): Set[Long] =
      StreamCurate.readStateBefore(spark, cur.getPath, a)
        .get.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ref1 = asOf(1L)
    val (ref2, ref3) = (asOf(2L), asOf(3L))
    val deleted = StreamCurate.expireBelow(spark, cur.getPath, horizon = 2L)
    assert(deleted.nonEmpty, "expiry deleted nothing — vacuous")
    // every surviving horizon reads identically through the expired layout
    assert(asOf(2L) === ref2, "AS-OF 2 changed under expiry")
    assert(asOf(3L) === ref3, "AS-OF 3 changed under expiry")
    // tightness: horizon−1 was readable before (non-vacuously) and now
    // refuses loudly
    assert(ref1.nonEmpty, "vacuous: nothing was ever visible at horizon 1")
    intercept[IllegalArgumentException] {
      StreamCurate.readStateBefore(spark, cur.getPath, 1L)
    }
    assert(new java.io.File(cur, "_vacuum.json").exists(),
      "durable purge manifest not written")
    // idempotent: a re-run deletes nothing new and keeps the floor
    assert(StreamCurate.expireBelow(spark, cur.getPath, 2L).isEmpty,
      "expiry re-run deleted state")
    assert(asOf(2L) === ref2, "idempotent re-run changed AS-OF 2")
  }

  test("retraction: a deleted sha stops gating, re-submission re-accepted, tombstones survive compaction") {
    // B122 (streaming half): erasure from the dedup index. A tombstone at
    // batch t shadows inserts strictly below t; a re-submission at >= t
    // re-enters normally AND starts gating again; reads at batchId <= t
    // still see the pre-delete state (timeline fidelity); compaction
    // applies-then-discards tombstones without changing any read.
    import graft.operators.StreamCurate
    val root = new java.io.File(scratch("curate_retract"))
    val hist = new java.io.File(root, "hist")
    val cur = new java.io.File(root, "cur")
    val s = spark
    import s.implicits._
    val text = "alpha beta gamma delta epsilon"
    def doc(id: Long) = Seq((id, text, "srcA")).toDF("doc_id", "text", "source")
    def curIds(): Set[Long] = StreamCurate.readAll(spark, cur)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    StreamCurate.curateBatch(doc(1), 0, hist, cur, None)
    StreamCurate.curateBatch(doc(2), 1, hist, cur, None) // dup: gated
    assert(curIds() === Set(1L), "baseline dedup broken")
    // batch 2: the erasure — tombstone the sha in BOTH the index and the
    // curated zone (GDPR semantics: the content leaves everything)
    val shaDf = doc(1).select(sha2(col("text"), 256).as("sha"))
    StreamCurate.retractBatch(shaDf, 2, hist.getPath)
    StreamCurate.retractBatch(shaDf, 2, cur.getPath)
    assert(curIds() === Set.empty[Long], "tombstone did not erase the curated row")
    // timeline fidelity: a read strictly below the tombstone still sees doc 1
    val at2 = StreamCurate.readStateBefore(spark, hist.getPath, 2)
      .get.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(at2 === Set(1L), "pre-delete read lost the insert")
    // idempotent retry of the retraction batch
    StreamCurate.retractBatch(shaDf, 2, hist.getPath)
    assert(curIds() === Set.empty[Long])
    // batch 3: the RE-SUBMISSION — identical text must be re-accepted
    // (proves both the bloom/sha gate AND the near-dup gate released:
    // were doc 1 still visible, the sha gate alone would drop doc 3)
    StreamCurate.curateBatch(doc(3), 3, hist, cur, None)
    assert(curIds() === Set(3L), "re-submitted deleted doc was not re-accepted")
    // compaction across the tombstone boundary: reads unchanged
    StreamCurate.compact(spark, hist.getPath, 3)
    StreamCurate.compact(spark, cur.getPath, 3)
    assert(curIds() === Set(3L), "compaction changed the post-delete state")
    val histNames = hist.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(histNames === Set("snap3"), s"tombstone dirs not folded: $histNames")
    // the re-entered doc gates again: a new duplicate is dropped
    StreamCurate.curateBatch(doc(4), 4, hist, cur, None)
    assert(curIds() === Set(3L), "re-entered doc no longer gates duplicates")
  }

  test("a LIVE query killed after a commit restarts from its checkpoint into identical state") {
    // r12 verdict #4: the manual-replay test above pins the batch body;
    // this one pins the real recovery path — a StreamingQuery dies (crash
    // injected in foreachBatch AFTER curateBatch committed batch 1, i.e.
    // state written but the checkpoint commit lost), and a restart from
    // the same checkpointLocation retries batch 1 against its own
    // committed output before continuing. Final state must equal the
    // uninterrupted run's byte-for-byte (same (doc_id, sha) row set).
    import graft.StreamHarness
    import graft.operators.StreamCurate
    val root = new java.io.File(scratch("curate_restart"))
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    // the catalog entry's own doc_id % 3 split, written by the same
    // harness split writer (file order = arrival order)
    StreamHarness.writeSplit(feed, (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i)))
    val hist = new java.io.File(root, "hist")
    val cur = new java.io.File(root, "cur")
    def stream(crashAfterBatch: Long): Unit =
      try {
        StreamHarness.foreachBatch(StreamHarness.readSplit(spark, feed, docs.schema),
            root) { (batch, bid) =>
          StreamCurate.curateBatch(batch, bid, hist, cur, score = None)
          if (bid == crashAfterBatch)
            throw new RuntimeException(s"injected crash after batch $bid commit")
        }
        assert(crashAfterBatch < 0, "the injected crash never fired")
      } catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(e.getMessage.contains("injected crash"),
          s"unexpected stream failure: $e")
      }
    stream(crashAfterBatch = 1) // dies with batch 1's state written
    stream(crashAfterBatch = -1) // restart: retries batch 1, runs batch 2
    val got = StreamCurate.readAll(spark, cur)
      .select(col("doc_id"), col("sha")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the uninterrupted reference is the catalog entry's own accepted set
    assert(got === accepted.toSet,
      "state after a genuine crash+restart diverges from the uninterrupted run")
  }
}
