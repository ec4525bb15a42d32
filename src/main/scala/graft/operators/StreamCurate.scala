package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** The per-micro-batch curation body shared by q_stream_curate and
  * q_stream_curate_scored (SURVEY.md §2 B81/B89), factored out so the two
  * entries cannot drift AND so the batch body is replayable in a spec.
  *
  * Exactly-once discipline (r12): Structured Streaming's `foreachBatch`
  * contract is AT-LEAST-ONCE delivery of (batch, batchId) — after a
  * mid-batch crash the same batchId is retried, and the r11 form's
  * unconditional parquet APPENDS would double-count the retried batch in
  * both the curated corpus and the dedup index. The standard recipe (the
  * one the foreachBatch docs prescribe) is batchId-KEYED idempotent
  * writes, implemented here as:
  *
  *  - every write lands in `<root>/b<batchId>` with mode OVERWRITE — a
  *    retry rewrites the same directory with the same rows;
  *  - every STATE READ takes only state with batchId STRICTLY BELOW the
  *    current one ([[readStateBefore]]) — a retry must not see its own
  *    failed attempt's partial output, or the bloom gate would classify
  *    the whole batch as historical dups and overwrite the directory with
  *    an empty delta.
  *
  * Together: replaying (batch, batchId) any number of times, at any point
  * before batchId+1 commits, reproduces byte-identical state —
  * StreamCurateSpec drives the body manually AND kills/restarts a live
  * StreamingQuery from its checkpoint to pin it. Normal (no-retry)
  * execution reads exactly what the r11 append form read, so the
  * full-feed DuckDB oracles are unchanged.
  *
  * State layout at production cadence (r12 verdict #5): one `b<batchId>`
  * dir per micro-batch is thousands of small directories per day, and the
  * state read would list (and parquet-open) all of them. [[compact]]
  * folds dirs `b0..bN` (plus any older snapshot) into ONE snapshot dir
  * `snap<N>` whose rows carry their ORIGINAL batch id in a `_batch_id`
  * column — so [[readStateBefore]] stays strictly-below-correct across
  * the compaction boundary by filtering `_batch_id < batchId` instead of
  * pruning directories. Run it out-of-band (or from the batch body) with
  * `uptoBatch` strictly below any batch that may still be retried, i.e.
  * at most lastCommitted − 1 while the stream is live; the layout is
  * still read-safe if that rule is violated (the row filter, not the dir
  * list, enforces strictly-below), but a violated retry would leave the
  * snapshot's rows for the retried batch stale rather than rewritten.
  * All listing/deleting goes through the Hadoop FileSystem API — the
  * layout works on HDFS/object stores, not only the local FS
  * (`java.io.File` listing was the r12 gap). The snapshot commit is
  * write-to-tmp + rename; rename is atomic on HDFS, and on S3-class
  * stores a production deployment would swap in a manifest commit — the
  * read side (ignore `.tmp`, newest snapshot wins, merged dirs deleted
  * only after rename) is already crash-safe around it.
  */
object StreamCurate {

  private def fsOf(ss: SparkSession, p: Path): FileSystem =
    p.getFileSystem(ss.sessionState.newHadoopConf())

  /** (newest snapshot (uptoBatch, path) if any, batch dirs (batchId,
    * path), tombstone dirs (batchId, path)) under `root` — Hadoop-FS
    * listing, `.tmp` commit leftovers ignored. Batch AND tombstone dirs
    * at or below the newest snapshot's uptoBatch are EXCLUDED: their
    * effect lives in the snapshot (a crash between snapshot rename and
    * the merged-dir deletes must not double-count or double-apply). */
  private def listState(ss: SparkSession, root: Path)
      : (Option[(Long, Path)], Seq[(Long, Path)], Seq[(Long, Path)]) = {
    val fs = fsOf(ss, root)
    if (!fs.exists(root)) return (None, Nil, Nil)
    val entries = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath).filterNot(_.getName.endsWith(".tmp"))
    val snaps = entries.filter(_.getName.startsWith("snap"))
      .flatMap(p => p.getName.drop(4).toLongOption.map(_ -> p))
    val newest = snaps.sortBy(_._1).lastOption
    def dirs(prefix: String) = entries
      .filter(p => p.getName.startsWith(prefix) && !p.getName.startsWith("snap"))
      .flatMap(p => p.getName.drop(prefix.length).toLongOption.map(_ -> p))
      .filter { case (id, _) => newest.forall(id > _._1) }
      .sortBy(_._1)
    (newest, dirs("b"), dirs("d"))
  }

  /** RETRACTION (SURVEY.md §2 B122's streaming half): record that the
    * given shas are DELETED as of `batchId`. A tombstone at batch t
    * shadows state rows inserted at batches STRICTLY BELOW t (an insert
    * and delete in the same batch → the insert wins: the delete refers to
    * past state), and a RE-SUBMISSION at any batch ≥ t re-enters
    * normally — the sha stops gating future arrivals, which is the whole
    * point of erasure in a dedup index. Tombstones follow the exact
    * batchId-keyed overwrite discipline of the insert dirs (idempotent
    * under at-least-once retry) and fold into snapshots under the same
    * uptoBatch safety rule ([[compact]] applies then discards them). */
  def retractBatch(deletes: DataFrame, batchId: Long, root: String): Unit =
    deletes.select(col("sha")).distinct()
      .write.mode("overwrite")
      .parquet(new Path(root, s"d$batchId").toString)

  /** Accumulated state from batches strictly below `batchId`: the newest
    * snapshot filtered to `_batch_id < batchId` plus the uncompacted tail
    * dirs below it, MINUS rows shadowed by a later tombstone (sha has a
    * tombstone with insert-batch < tombstone-batch < batchId). Tail dirs
    * are tagged with their batch id at read time so the shadow rule is a
    * row predicate — the same mechanism the snapshot already uses. */
  def readStateBefore(ss: SparkSession, root: String,
                      batchId: Long): Option[DataFrame] = {
    val floor = retentionFloor(ss, new Path(root))
    require(batchId >= floor,
      s"horizon $batchId is below the retention floor $floor of $root — " +
        "expired state would make this read partial, failing loudly instead")
    val (snap, bdirs, ddirs) = listState(ss, new Path(root))
    val insParts =
      snap.map { case (_, p) =>
        ss.read.parquet(p.toString).filter(col("_batch_id") < batchId)
      }.toSeq ++
        bdirs.collect { case (id, p) if id < batchId =>
          ss.read.parquet(p.toString).withColumn("_batch_id", lit(id))
        }
    val tombs = ddirs.collect { case (id, p) if id < batchId => (id, p) }
    insParts.reduceOption(_ unionByName _).map { ins =>
      val visible =
        if (tombs.isEmpty) ins
        else {
          val t = tombs.map { case (id, p) =>
            ss.read.parquet(p.toString)
              .select(col("sha").as("_t_sha"), lit(id).as("_t_batch"))
          }.reduce(_ unionByName _)
            .groupBy(col("_t_sha")).agg(max(col("_t_batch")).as("_t_batch"))
          ins.join(t, ins("sha") === t("_t_sha")
            && col("_t_batch") > col("_batch_id"), "left_anti")
        }
      visible.drop("_batch_id")
    }
  }

  /** All committed batch state (the entry's final read-back). */
  def readAll(ss: SparkSession, root: String): DataFrame =
    readStateBefore(ss, root, Long.MaxValue).getOrElse(
      throw new IllegalStateException(s"no curation state under $root"))

  def readAll(ss: SparkSession, root: java.io.File): DataFrame =
    readAll(ss, root.getPath)

  /** Fold `b0..b<uptoBatch>` (and any older snapshot) into one snapshot
    * dir `snap<uptoBatch>` with rows tagged by their original `_batch_id`,
    * then delete the merged directories — see the object scaladoc for the
    * commit order and the uptoBatch safety rule. Idempotent: re-running
    * with the same `uptoBatch`, or with nothing new to fold, is a no-op or
    * a byte-identical rewrite. */
  def compact(ss: SparkSession, root: String, uptoBatch: Long): Unit = {
    val rootPath = new Path(root)
    val fs = fsOf(ss, rootPath)
    if (!fs.exists(rootPath)) return
    val (snap, bdirs, ddirs) = listState(ss, rootPath)
    snap.foreach { case (id, _) =>
      require(id <= uptoBatch,
        s"compact($uptoBatch) below existing snapshot snap$id")
    }
    val fold = bdirs.filter { case (id, _) => id <= uptoBatch }
    val dfold = ddirs.filter { case (id, _) => id <= uptoBatch }
    if (fold.isEmpty && dfold.isEmpty && snap.exists(_._1 == uptoBatch)) return
    val pieces =
      snap.map { case (_, p) => ss.read.parquet(p.toString) }.toSeq ++
        fold.map { case (id, p) =>
          ss.read.parquet(p.toString).withColumn("_batch_id", lit(id))
        }
    if (pieces.isEmpty) { dfold.foreach { case (_, p) => fs.delete(p, true) }; return }
    // tombstones in the window are APPLIED (a row whose sha has a
    // tombstone with row-batch < tomb-batch is dropped) then DISCARDED:
    // every read after compaction has batchId > uptoBatch ≥ tomb-batch,
    // and every insert the tombstone could still shadow is in the window
    // and already gone — same uptoBatch safety rule as the insert fold.
    val merged0 = pieces.reduce(_ unionByName _)
    val merged =
      if (dfold.isEmpty) merged0
      else {
        val t = dfold.map { case (id, p) =>
          ss.read.parquet(p.toString)
            .select(col("sha").as("_t_sha"), lit(id).as("_t_batch"))
        }.reduce(_ unionByName _)
          .groupBy(col("_t_sha")).agg(max(col("_t_batch")).as("_t_batch"))
        merged0.join(t, merged0("sha") === t("_t_sha")
          && col("_t_batch") > col("_batch_id"), "left_anti")
      }
    val tmp = new Path(rootPath, s"snap$uptoBatch.tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    val dest = new Path(rootPath, s"snap$uptoBatch")
    if (fs.exists(dest)) fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"snapshot commit failed: $tmp -> $dest")
    fold.foreach { case (_, p) => fs.delete(p, true) }
    dfold.foreach { case (_, p) => fs.delete(p, true) }
    snap.foreach { case (_, p) => fs.delete(p, true) }
  }

  private val FloorFile = "_retention_floor"
  private val PurgeFile = "_vacuum.json"

  /** The retention floor set by [[expireBelow]] (0 when never expired):
    * horizons below it fail loudly in [[readStateBefore]]. */
  private def retentionFloor(ss: SparkSession, root: Path): Long = {
    val fs = fsOf(ss, root)
    val f = new Path(root, FloorFile)
    if (!fs.exists(f)) 0L
    else {
      val in = fs.open(f)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Retention over the batch-dir layout (r16 verdict #2, the
    * [[StreamCdc.vacuum]] discipline applied to the curation sink): fold
    * every batch/tombstone dir at or below `horizon - 1` into the
    * snapshot ([[compact]]'s mechanics — tombstone-shadowed rows
    * reclaimed, small dirs merged) and raise the retention FLOOR to
    * `horizon`. Every [[readStateBefore]] at a horizon >= `horizon` is
    * byte-identical (the snapshot keeps per-row `_batch_id`, so
    * strictly-below filtering still works); a read BELOW the floor now
    * fails loudly — post-expiry, horizons under the floor could silently
    * miss reclaimed shadowed rows, and a loud refusal is the only honest
    * answer (the ScdExpirySpec manifest-tightness discipline). The floor
    * only ratchets up; a durable purge manifest (`_vacuum.json`) records
    * what each run deleted. Idempotent. */
  def expireBelow(ss: SparkSession, root: String, horizon: Long): Seq[String] = {
    require(horizon >= 1, s"horizon ($horizon) must be >= 1")
    val rootPath = new Path(root)
    val fs = fsOf(ss, rootPath)
    def dirNames: Set[String] =
      if (!fs.exists(rootPath)) Set.empty
      else fs.listStatus(rootPath).filter(_.isDirectory)
        .map(_.getPath.toString).toSet
    val before = dirNames
    compact(ss, root, uptoBatch = horizon - 1)
    val deleted = (before -- dirNames).toSeq.sorted
    val newFloor = math.max(retentionFloor(ss, rootPath), horizon)
    val out = fs.create(new Path(rootPath, FloorFile), true)
    try out.write(newFloor.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("horizon", newFloor)
    val d = node.putArray("deleted"); deleted.foreach(d.add)
    val pout = fs.create(new Path(rootPath, PurgeFile), true)
    try pout.write(om.writeValueAsBytes(node)) finally pout.close()
    deleted
  }

  /** One curation micro-batch: within-batch exact dedup → bloom-gated
    * exact dedup vs the index → incremental near-dup vs the signature
    * corpus → (optionally) the frozen-model quality gate on the curated
    * sink only. `score` = None for B81; Some((scoreUdf, cutoffs with
    * (source, p75_micro))) for B89 — score-rejected docs still enter the
    * history index, keeping dedup pairwise. */
  def curateBatch(batch: DataFrame, batchId: Long, histRoot: String,
                  curRoot: String,
                  score: Option[(UserDefinedFunction, DataFrame)]): Unit = {
    val ss = batch.sparkSession
    val withSha = batch.withColumn("sha", sha2(col("text"), 256))
    val w = Window.partitionBy(col("sha")).orderBy(col("doc_id"))
    val batchUniq = withSha.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val hist = readStateBefore(ss, histRoot, batchId)
    val exactNew = hist match {
      case None => batchUniq
      case Some(h) => ExactDedup
        .bloomGatedNew(h.select(col("sha")), batchUniq)
        .drop("probe_hit")
    }
    val delta = exactNew.persist()
    try {
      val histDocs = hist match {
        case None => delta.select(col("doc_id"), col("text")).filter(lit(false))
        case Some(h) => h.select(col("doc_id"), col("text"))
      }
      val pairs = NearDup.minhashPairsIncremental(
        histDocs, delta.select(col("doc_id"), col("text")))
      // the later arrival of each confirmed pair is dropped: a delta
      // doc_b always (same batch, larger id, or newer batch than a
      // history doc_a); a delta doc_a only when doc_b is history
      val ids = delta.select(col("doc_id").as("doc_b"), lit(true).as("bn"))
      val dropped = pairs.join(ids, Seq("doc_b"), "left")
        .select(when(coalesce(col("bn"), lit(false)), col("doc_b"))
          .otherwise(col("doc_a")).as("doc_id"))
        .distinct()
      val accepted = delta.join(dropped, Seq("doc_id"), "left_anti")
      val out = score match {
        case None => accepted.select(col("doc_id"), col("source"), col("sha"))
        case Some((su, cut)) => accepted
          .withColumn("logit_micro", su(col("text")))
          .join(broadcast(cut), Seq("source"))
          .filter(col("logit_micro") >= col("p75_micro"))
          .select(col("doc_id"), col("source"), col("sha"),
            col("logit_micro"))
      }
      out.write.mode("overwrite")
        .parquet(new Path(curRoot, s"b$batchId").toString)
      // EVERY exact-new doc enters the history index, scored or not
      delta.select(col("doc_id"), col("text"), col("sha"))
        .write.mode("overwrite")
        .parquet(new Path(histRoot, s"b$batchId").toString)
    } finally { delta.unpersist(); () }
  }

  def curateBatch(batch: DataFrame, batchId: Long, histRoot: java.io.File,
                  curRoot: java.io.File,
                  score: Option[(UserDefinedFunction, DataFrame)]): Unit =
    curateBatch(batch, batchId, histRoot.getPath, curRoot.getPath, score)
}
