package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField,
  StructType, TimestampType}

import graft.Measure

/** Scale soak (SURVEY.md §2 B50/B51 scale evidence): a deterministic
  * ~10×-sf0.1 corpus (default 100k documents + 22k embeddings) pushed
  * through the dedup → clustering → ANN path with PER-STAGE shuffle bytes,
  * wall time and bucket statistics measured by [[graft.Measure]] — the
  * numbers every prior round argued from plan shape, now observed. The
  * rendered table lives in SCALE.md (regenerate with
  * `sbt "Test/runMain graft.Scale base"`); ScaleSoakSpec asserts the
  * invariants on the same run:
  *
  *  - measured LSH bucket occupancy inside the envelope
  *    [[EmbedLshConfig.derive]] predicts (candidate generation stays
  *    linear because buckets stay bounded);
  *  - the `maxBucket` skew cap fires ONLY on the planted mega-family —
  *    with the planted ids excluded, zero buckets are skipped, so typical
  *    corpus never silently loses recall to the cap;
  *  - [[ConnectedComponents]] converges within the pointer-jumping log
  *    bound even on the planted 64-doc near-dup CHAIN (the worst diameter
  *    shape — plain label propagation would need 64 rounds);
  *  - every planted near-dup family/pair is recovered (the derived
  *    geometries actually deliver their recall targets at this scale).
  *
  * The corpus is pure hash arithmetic (md5 over ids — no RNG, identical
  * across runs/partitions/engines) with planted structure:
  *
  *  - 1-in-`famPeriod` triples {r, r+1, r+2} where r ≡ 0: members mutate
  *    ONE token of the root's `docTokens`-token text (3-shingle Jaccard
  *    vs root ≈ 35/41 ≈ 0.85 — above the 0.8 confirm, near the LSH
  *    S-curve, so recall here is a real test, not a gimme);
  *  - a `chainLen`-doc sliding-window chain (adjacent docs share
  *    `chainTokens − chainStep` tokens ⇒ Jaccard ≈ 0.81; two apart ≈ 0.66
  *    ⇒ only adjacent edges) — one path-shaped component for CC;
  *  - a `megaSize`-doc family of IDENTICAL text — the exact-dup mega
  *    bucket the `maxBucket` cap exists to skip (sha-256 exact dedup's
  *    job, not near-dup candidate expansion);
  *  - 1-in-`vecDupPeriod` embedding pairs {r, r+1} where the copy adds a
  *    ±0.02 per-dim perturbation (cosine ≈ 0.9998) and a `vecMegaSize`
  *    block of IDENTICAL vectors (the embed-side mega bucket).
  */
object ScaleSoak {

  final case class Layout(
      nDocs: Int = 100000, famPeriod: Int = 100,
      docTokens: Int = 40,
      chainLen: Int = 64, chainTokens: Int = 60, chainStep: Int = 6,
      megaSize: Int = 2500,
      nVecs: Int = 20000, dim: Int = 64,
      vecDupPeriod: Int = 40, vecMegaSize: Int = 2000,
      nStreamEvents: Int = 300000, streamFiles: Int = 6,
      // r9: planted structure for the round-8 incremental operators.
      // splitPairs SPLIT-document pairs (part 2i's 4-token tail = part
      // 2i+1's 4-token head — the seam boundaryPairs must find);
      // hotSize docs whose HEAD equals the mega family's TAIL (a
      // 2500-tail × 1500-head hot boundary value — the skew bomb the
      // boundary cap must refuse); two bloom-gate delta batches
      // (deltaNew all-new docs; deltaMixDup corpus copies + deltaMixNew
      // new docs).
      splitPairs: Int = 500, hotSize: Int = 1500,
      deltaNew: Int = 5000, deltaMixDup: Int = 2500,
      deltaMixNew: Int = 2500) {
    // the stream corpus writer emits exactly streamFiles batch files of
    // streamPerFile events; a remainder would be generated by
    // streamEvents but written to NO file, silently desynchronizing the
    // corpus from the spec's generator-derived oracles (r8 review)
    require(nStreamEvents % streamFiles == 0,
      s"nStreamEvents ($nStreamEvents) must divide into streamFiles ($streamFiles)")
    def famCount: Int = nDocs / famPeriod
    def chainStart: Long = nDocs.toLong
    def megaStart: Long = nDocs.toLong + chainLen
    def splitStart: Long = megaStart + megaSize
    def hotStart: Long = splitStart + 2L * splitPairs
    def totalDocs: Long = hotStart + hotSize
    def vecDupCount: Int = nVecs / vecDupPeriod
    def vecMegaStart: Long = nVecs.toLong
    def totalVecs: Long = nVecs.toLong + vecMegaSize
    def streamPerFile: Int = nStreamEvents / streamFiles
    // the delta ids live far outside every corpus range so an id filter
    // can never alias a corpus doc
    def deltaNewIdBase: Long = 10000000L
    def deltaMixDupIdBase: Long = 20000000L
    def deltaMixNewIdBase: Long = 30000000L
  }

  final case class StageMetrics(stage: String, outRows: Long, seconds: Double,
                                shuffleReadMB: Double, shuffleWriteMB: Double,
                                note: String = "")

  final case class BucketStats(side: String, buckets: Long, meanOcc: Double,
                               maxOcc: Long, capped: Long,
                               predictedOcc: Double,
                               cappedWithoutPlanted: Long)

  /** One multi-batch streaming leg: per-batch state-store telemetry from
    * `StreamingQuery.recentProgress`, proving the state is WATERMARK-BOUND
    * (evicted as the watermark advances), not input-bound. */
  final case class StreamLeg(op: String, batches: Int, totalIn: Long,
                             maxStateRows: Long, finalStateRows: Long,
                             droppedLate: Long, emitted: Long,
                             maxStateMB: Double, seconds: Double)

  final case class Report(layout: Layout,
                          minhashCfg: MinHashConfig,
                          embedCfg: EmbedLshConfig,
                          ivfCfg: IvfConfig,
                          stages: Seq[StageMetrics],
                          buckets: Seq[BucketStats],
                          ccRounds: Int, ccRoundBound: Int,
                          ccVertices: Long, ccClusters: Long,
                          famRecovered: Long, chainClusterSize: Long,
                          embedPairs: Long, embedPlanted: Long,
                          semDrops: Long, semCappedClean: Long,
                          semCappedRaw: Long, semMegaCellCapped: Boolean,
                          semMaxCell: Int,
                          boilerMegaFull: Long, boilerNonPlantedFlagged: Long,
                          lmMegaDistinct: Long, lmMegaAvgMicro: Long,
                          lmBaseAvgMicro: Long,
                          contRootPairs: Long, contMemberPairs: Long,
                          contOther: Long, contPairs100: Long,
                          estPairs: Long, estMeanErrPpm: Long,
                          estMaxErrPpm: Long,
                          bloomHistRows: Long,
                          bloomAllNewOut: Long, bloomAllNewBypass: Long,
                          bloomMixedOut: Long, bloomMixedBypass: Long,
                          bloomMixedDupLeaked: Long,
                          seamsFound: Long, boundaryOther: Long,
                          megaHotLeaked: Long,
                          cappedHeads: Long, cappedTails: Long,
                          aqeJoinRows: Long, aqeSkewFired: Boolean,
                          aqeSkewedSplits: Long,
                          streamLegs: Seq[StreamLeg],
                          maDocs: Long = 0, maUdfShuffleMB: Double = 0,
                          maJoinShuffleMB: Double = 0,
                          qsCapacity: Int = 0, qsN: Long = 0,
                          qsRankErrs: Seq[Long] = Nil, qsErrBound: Long = 0,
                          pqQueries: Long = 0, pqPartnerHits: Long = 0)

  /** 6-hex-char word from (seed, j) — pure md5, engine-portable. */
  private def w(seed: org.apache.spark.sql.Column,
                j: org.apache.spark.sql.Column) =
    substring(md5(concat_ws("_", seed, j)), 1, 6)

  /** Deterministic document corpus (doc_id, text) per the object doc. */
  def docs(spark: SparkSession, l: Layout): DataFrame = {
    val base = spark.range(l.nDocs).select(col("id").as("doc_id"))
      .withColumn("root",
        when(col("doc_id") % l.famPeriod < 3,
          col("doc_id") - col("doc_id") % l.famPeriod)
          .otherwise(col("doc_id")))
      .withColumn("mut_pos", col("doc_id") % l.docTokens)
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(l.docTokens - 1)),
          j => when(j === col("mut_pos") && col("doc_id") =!= col("root"),
            w(col("doc_id"), j)).otherwise(w(col("root"), j)))).as("text"))
    val chain = spark.range(l.chainStart, l.chainStart + l.chainLen)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(l.chainTokens - 1)),
          j => w(lit(-7), (col("id") - l.chainStart) * l.chainStep + j)))
          .as("text"))
    val mega = spark.range(l.megaStart, l.megaStart + l.megaSize)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(l.docTokens - 1)),
          j => w(lit(-9), j))).as("text"))
    // split pairs: part 2i = source tokens [0, T), part 2i+1 = source
    // tokens [T−4, 2T−4) of pair seed −(11+i) — part A's 4-token tail IS
    // part B's 4-token head (the seam), while shingle overlap is 2/74
    // (Jaccard ≈ 0.03: invisible to every near-dup shape by design)
    val pairIdx = spark.range(l.splitPairs)
    val splitA = pairIdx.select((lit(l.splitStart) + col("id") * 2).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(l.docTokens - 1)),
        j => w(lit(-11) - col("id"), j))).as("text"))
    val splitB = pairIdx.select((lit(l.splitStart) + col("id") * 2 + 1).as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(l.docTokens - 4), lit(2 * l.docTokens - 5)),
        j => w(lit(-11) - col("id"), j))).as("text"))
    // hot-boundary docs: HEAD = the mega family's 4-token TAIL (seed −9,
    // tokens T−4..T−1), rest unique — together with the mega family this
    // plants ONE boundary value with tail-df 2500 and head-df 1500: the
    // boilerplate-header skew bomb the boundary cap must refuse on both
    // sides (2500 × 1500 = 3.75 M pairs if it didn't)
    val hot = spark.range(l.hotStart, l.hotStart + l.hotSize)
      .select(col("id").as("doc_id"),
        concat_ws(" ", concat(
          transform(sequence(lit(l.docTokens - 4), lit(l.docTokens - 1)),
            j => w(lit(-9), j)),
          transform(sequence(lit(4), lit(l.docTokens - 1)),
            j => w(col("id"), j)))).as("text"))
    base.unionByName(chain).unionByName(mega)
      .unionByName(splitA).unionByName(splitB).unionByName(hot)
  }

  /** The bloom-gate ALL-NEW delta: `deltaNew` docs of fresh tokens (seed =
    * the delta id itself, ≥ 10⁷ — disjoint from every corpus seed). */
  def deltaNewDocs(spark: SparkSession, l: Layout): DataFrame =
    spark.range(l.deltaNew)
      .select((col("id") + l.deltaNewIdBase).as("doc_id"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(l.docTokens - 1)),
          j => w(col("doc_id"), j))).as("text"))

  /** The bloom-gate MIXED delta: `deltaMixDup` verbatim copies of corpus
    * docs 0..deltaMixDup−1 under new ids (exact dups the gate must
    * confirm-and-drop through the anti-join — a dup can never bypass:
    * blooms have no false negatives) + `deltaMixNew` all-new docs. */
  def deltaMixDocs(spark: SparkSession, l: Layout): DataFrame = {
    val dup = docs(spark, l).filter(col("doc_id") < l.deltaMixDup)
      .select((col("doc_id") + l.deltaMixDupIdBase).as("doc_id"), col("text"))
    val fresh = spark.range(l.deltaMixNew)
      .select((col("id") + l.deltaMixNewIdBase).as("doc_id"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(l.docTokens - 1)),
          j => w(col("doc_id"), j))).as("text"))
    dup.unionByName(fresh)
  }

  /** Deterministic embedding corpus (vec_id, e) per the object doc. */
  def embeddings(spark: SparkSession, l: Layout): DataFrame = {
    def coord(seed: org.apache.spark.sql.Column,
              i: org.apache.spark.sql.Column) =
      conv(substring(md5(concat_ws("_", seed, i)), 1, 7), 16, 10)
        .cast("double") / 134217728.0 - 1.0
    val base = spark.range(l.nVecs).select(col("id").as("vec_id"))
      .withColumn("root",
        when(col("vec_id") % l.vecDupPeriod === 1, col("vec_id") - 1)
          .otherwise(col("vec_id")))
      .select(col("vec_id"), transform(sequence(lit(0), lit(l.dim - 1)),
        i => coord(col("root"), i) +
          when(col("vec_id") =!= col("root"),
            coord(col("vec_id"), i) * 0.02).otherwise(lit(0.0))).as("e"))
    val mega = spark.range(l.vecMegaStart, l.vecMegaStart + l.vecMegaSize)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(l.dim - 1)),
          i => coord(lit(-3), i)).as("e"))
    base.unionByName(mega)
  }

  /** Deterministic event stream for the streaming leg: `streamFiles`
    * parquet files = micro-batches (maxFilesPerTrigger=1), file k holding
    * `streamPerFile` events with ts in [k·600 s, (k+1)·600 s). Planted:
    *
    *  - 1-in-50 DUPLICATE keys (id ≡ 6 mod 50 carries key id−1, same file,
    *    on time — EXCEPT the ~id ≡ 4656 mod 4850 overlap with the late
    *    plant below, where the duplicate carrier is itself late and is
    *    watermark-dropped before dedup ever sees it; expectations must
    *    come from the generator columns, never from nStreamEvents/50) —
    *    streaming dedup must drop the on-time ones;
    *  - 1-in-97 LATE events in files ≥ 2 (ts pushed 2400 s back — 4 files,
    *    far beyond the 300 s watermark delay) — the watermark must drop
    *    them, which is exactly the eviction evidence the leg measures.
    *    2400 s and not, say, 1200 s: the watermark a batch runs under is
    *    computed from data one-to-two COMMITTED batches back (measured:
    *    at 1200 s exactly the newer half of the late events slipped in
    *    under the lagged watermark), so the margin must clear the delay
    *    PLUS two 600 s batch windows for "every late row drops" to be an
    *    exact oracle rather than a race.
    */
  def streamEvents(spark: SparkSession, l: Layout): DataFrame = {
    val base = 1767225600L // 2026-01-01 UTC, the fixtures' epoch
    spark.range(l.nStreamEvents)
      .select(col("id"),
        (col("id") / l.streamPerFile).cast("int").as("fidx"),
        (col("id") % l.streamPerFile).as("off"))
      .select(col("id"), col("fidx"),
        when(col("id") % 50 === 6, col("id") - 1).otherwise(col("id"))
          .as("event_id"),
        timestamp_seconds(lit(base) + col("fidx") * 600 +
          (col("off") * 600 / l.streamPerFile).cast("long") -
          when(col("id") % 97 === 0 && col("fidx") >= 2, 2400L)
            .otherwise(0L)).as("ts"),
        (col("id") % 5000).as("user_id"),
        when(col("id") % 3 === 0, "purchase").otherwise("click").as("typ"),
        (col("id") % 1000).cast("double").as("value"))
  }

  /** Is this generated row one of the planted late events? (mirrors the
    * `ts` arithmetic above — the spec's oracle for droppedLate). */
  def isLate(l: Layout): org.apache.spark.sql.Column =
    col("id") % 97 === 0 && col("id") / l.streamPerFile >= 2

  private val streamSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("typ", StringType),
    StructField("value", DoubleType)))

  /** The stream corpus as a harness split source: split k = the events
    * of file k ([[streamEvents]]'s `fidx`), one split per micro-batch. */
  private def streamSource(spark: SparkSession, dir: String,
                           l: Layout): DataFrame =
    // v2 in the key: the generator changed (late offset 1200 → 2400 s)
    // without a Layout change, and the marker only fingerprints the Layout
    graft.StreamHarness.splitSource(spark,
      new java.io.File(s"$dir/stream_v2_${l.hashCode}"), streamSchema) {
      val ev = streamEvents(spark, l)
      (0 until l.streamFiles).map(k => ev.filter(col("fidx") === k)
        .select("event_id", "ts", "user_id", "typ", "value"))
    }

  /** Drive one streaming pipeline over the split corpus through the
    * harness runner and fold the finished query's `recentProgress` state
    * telemetry into a [[StreamLeg]]. */
  private def streamLeg(spark: SparkSession, name: String, dir: String,
                        l: Layout)(make: DataFrame => DataFrame): StreamLeg = {
    val emitted = new AtomicLong
    val root = graft.StreamHarness.scratchRoot(
      "soak_" + name.replaceAll("[^a-zA-Z0-9]", "_"), dir)
    val src = make(streamSource(spark, dir, l)) // a cold corpus build is not timed
    val (q, m) = Measure.during(spark)(graft.StreamHarness.foreachBatch(src, root) { (b, _) =>
      emitted.addAndGet(b.count())
    })
    // the pid-scoped checkpoint is only meaningful within this run — left
    // behind it accumulates one directory tree per soak run until a
    // manual clean (r8 advice)
    graft.Fs.deleteRecursively(root)
    val ops = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
    StreamLeg(name,
      batches = q.recentProgress.length,
      totalIn = l.nStreamEvents,
      maxStateRows = if (ops.isEmpty) 0 else ops.map(_.numRowsTotal).max,
      finalStateRows = if (ops.isEmpty) 0 else ops.last.numRowsTotal,
      droppedLate = ops.map(_.numRowsDroppedByWatermark).sum,
      emitted = emitted.get,
      maxStateMB =
        if (ops.isEmpty) 0 else ops.map(_.memoryUsedBytes).max / 1048576.0,
      seconds = m.wallS)
  }

  final case class CorpusPaths(docs: String, vecs: String,
                               deltaNew: String, deltaMix: String)

  /** Materialize the corpus once (generation uses HOFs — fine for a
    * fixture writer, but the MEASURED stages must read a file scan like
    * production, not recompute the generator per action). */
  def writeCorpus(spark: SparkSession, dir: String, l: Layout): CorpusPaths = {
    // the LAYOUT keys the paths, not just the marker: a marker-only key
    // would let an old layout's marker validate a different layout's
    // overwritten parquet (stale-corpus aliasing)
    val p = CorpusPaths(s"$dir/docs_${l.hashCode}.parquet",
      s"$dir/embeddings_${l.hashCode}.parquet",
      s"$dir/delta_new_${l.hashCode}.parquet",
      s"$dir/delta_mix_${l.hashCode}.parquet")
    val marker = new java.io.File(s"$dir/_done_${l.hashCode}")
    def built = marker.exists() &&
      Seq(p.docs, p.vecs, p.deltaNew, p.deltaMix)
        .forall(x => new java.io.File(x, "_SUCCESS").exists())
    if (!built) graft.BuildOnce.locked(new java.io.File(dir)) {
      if (!built) { // re-check: the race loser finds the winner's corpus
        docs(spark, l).write.mode("overwrite").parquet(p.docs)
        embeddings(spark, l).write.mode("overwrite").parquet(p.vecs)
        deltaNewDocs(spark, l).write.mode("overwrite").parquet(p.deltaNew)
        deltaMixDocs(spark, l).write.mode("overwrite").parquet(p.deltaMix)
        marker.createNewFile()
      }
    }
    p
  }

  /** Run `action`, returning its row count plus the soak row: its wall
    * seconds and aggregate shuffle traffic, read from [[Measure.during]]. */
  def measure(spark: SparkSession, stage: String, note: String = "")
             (action: => Long): (Long, StageMetrics) = {
    val (rows, m) = Measure.during(spark)(action)
    (rows, StageMetrics(stage, rows, m.wallS,
      m.shuffleReadBytes / 1048576.0, m.shuffleWriteBytes / 1048576.0, note))
  }

  private def bucketStats(side: String, bands: DataFrame, maxBucket: Int,
                          predicted: Double,
                          bandsWithoutPlanted: DataFrame): BucketStats = {
    val occ = bands.groupBy(col("band"), col("bucket")).count()
    val row = occ.agg(count(lit(1)), avg(col("count")), max(col("count")),
      sum(when(col("count") > maxBucket, 1L).otherwise(0L))).head()
    val cappedClean = bandsWithoutPlanted
      .groupBy(col("band"), col("bucket")).count()
      .filter(col("count") > maxBucket).count()
    BucketStats(side, row.getLong(0), row.getDouble(1), row.getLong(2),
      row.getLong(3), predicted, cappedClean)
  }

  /** The full instrumented run. `dir` holds the materialized corpus. */
  def run(spark: SparkSession, dir: String,
          l: Layout = Layout()): Report = {
    import spark.implicits._
    val paths = writeCorpus(spark, dir, l)
    val docsPath = paths.docs
    val allDocs = spark.read.parquet(paths.docs)
    val allVecs = spark.read.parquet(paths.vecs)

    val mhCfg = MinHashConfig.derive(jaccardConfirm = 0.8)
    // dedup regime: planted copies sit at cosine ~0.9998 (plane agreement
    // ~0.99); 0.95 is the conservative sizing input, confirm at 0.9
    val lshCfg = EmbedLshConfig.derive(l.totalVecs, dim = l.dim,
      targetBucket = 64, planeAgreement = 0.95)
      .copy(cosineConfirm = 0.9)
    val ivfCfg = IvfConfig.forCorpus(allVecs, recallTarget = 0.8,
      cellHitRate = 0.6, minCell = 30)

    val stages = scala.collection.mutable.ArrayBuffer[StageMetrics]()

    // -- text side ---------------------------------------------------------
    // persist BEFORE measuring: the count inside the window materializes the
    // cache, so the full pair-generation cost lands in THIS stage and CC
    // reads the cached pairs instead of re-running the pipeline
    val pairs = NearDup.minhashPairs(allDocs, mhCfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, mPairs) = measure(spark, "minhash pairs (full)",
      s"${l.totalDocs} docs, ${mhCfg.numHashes} hashes x ${mhCfg.bands} bands") {
      pairs.count()
    }
    stages += mPairs

    // delta = the middle member of every planted family (exactly famCount
    // docs — bounded to the base range so no chain/mega doc slips in and
    // the published count is the measured count)
    val deltaCond = col("doc_id") < l.nDocs && col("doc_id") % l.famPeriod === 1
    val delta = allDocs.filter(deltaCond)
    val history = allDocs.filter(!deltaCond)
    val (_, mInc) = measure(spark, "minhash pairs (incremental)",
      s"delta = ${l.famCount} docs (1%); signature stage stands in for the persisted index") {
      NearDup.minhashPairsIncremental(history, delta, mhCfg).count()
    }
    stages += mInc

    val (_, sPairs) = measure(spark, "simhash pairs",
      "28-bit, 5 pigeonhole blocks") {
      NearDup.simhashPairs(allDocs).count()
    }
    stages += sPairs

    // -- clustering --------------------------------------------------------
    var cc: ConnectedComponents.Result = null
    val (ccVertices, ccM) = measure(spark, "connected components",
      "min-label + pointer jumping on the confirmed pairs") {
      cc = ConnectedComponents.run(pairs)
      cc.labels.count()
    }
    stages += ccM
    val labels = cc.labels.persist()
    val ccClusters = labels.select(col("label")).distinct().count()
    val ccRoundBound =
      math.ceil(math.log(ccVertices.toDouble.max(2)) / math.log(2)).toInt + 2

    // planted-family recovery: family {r, r+1, r+2} recovered when all its
    // members carry one label (isolated members never enter `labels`, so a
    // complete family = 3 rows, 1 label)
    val famRecovered = labels
      .filter(col("id") < l.nDocs && col("id") % l.famPeriod < 3)
      .withColumn("fam", col("id") - col("id") % l.famPeriod)
      .groupBy(col("fam"))
      .agg(countDistinct(col("label")).as("nl"), count(lit(1)).as("n"))
      .filter(col("nl") === 1 && col("n") === 3)
      .count()
    val chainClusterSize = labels
      .filter(col("id") >= l.chainStart && col("id") < l.chainStart + l.chainLen)
      .groupBy(col("label")).count()
      .agg(max(col("count"))).head().getLong(0)

    // -- embedding side ----------------------------------------------------
    val (embedPairs, ePairs) = measure(spark, "embed near-dup pairs",
      s"${l.totalVecs} vecs, ${lshCfg.bands} bands x ${lshCfg.bits} bits, confirm >= ${lshCfg.cosineConfirm}") {
      NearDup.embedCosinePairs(allVecs, lshCfg).count()
    }
    stages += ePairs

    // SemDeDup ([[Ann.semDedup]]) on the POST-EXACT-DEDUP corpus — the
    // identical mega-block is the exact pass's catch (the operator doc
    // states the precondition: a byte-identical family all lands in one
    // cell and would pay |family|²/2 pairs there); cells bound the
    // within-cell quadratic at ~(n/k)² each. Stage output = dropped
    // vectors (one per recovered planted pair that shares a cell).
    val semMaxCell = lshCfg.maxBucket
    val cleanVecs = allVecs.filter(col("vec_id") < l.vecMegaStart)
    var semCappedClean = -1L
    val (semDrops, sem) = measure(spark, "semantic dedup (SemDeDup)",
      s"k=${ivfCfg.numCentroids} trained cells bound within-cell pairs; post-exact-dedup corpus") {
      val matrix = Ann.collectCentroids(
        Ann.kmeansFit(cleanVecs, k = ivfCfg.numCentroids, iters = 2))
      // ONE assignment pass feeds both the cap diagnostic and the dedup
      // (the r8 first cut recomputed it inside semDedup — 2x the stage)
      val assigned = Ann.semAssign(cleanVecs, matrix)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      semCappedClean = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("cn")).filter(col("cn") > semMaxCell).count()
      val n = Ann.semDedupAssigned(assigned, cosineConfirm = 0.9,
        maxCell = semMaxCell).filter(!col("keep")).count()
      assigned.unpersist()
      n
    }
    stages += sem

    // The skew refusal, measured: run the CAPPED operator on the RAW
    // corpus (exact-dedup precondition deliberately violated). The planted
    // identical block lands in ONE cell, that cell alone exceeds maxCell,
    // and the operator completes with the cell skipped instead of paying
    // |block|²/2 ≈ 2M pairs on one reducer.
    var semCappedRaw = 0L
    var semMegaCellCapped = false
    val (_, semRaw) = measure(spark, "semantic dedup (capped, raw corpus)",
      s"maxCell=$semMaxCell refuses the ${l.vecMegaSize}-vector identical cell") {
      val matrixRaw = Ann.collectCentroids(
        Ann.kmeansFit(allVecs, k = ivfCfg.numCentroids, iters = 2))
      val assignedRaw = Ann.semAssign(allVecs, matrixRaw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = assignedRaw.groupBy(col("cell"))
        .agg(count(lit(1)).as("cn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      semCappedRaw = counts.filter(col("cn") > semMaxCell).count()
      val megaCell = assignedRaw
        .filter(col("vec_id") === l.vecMegaStart)
        .select(col("cell")).head().getLong(0)
      semMegaCellCapped = counts
        .filter(col("cell") === megaCell && col("cn") > semMaxCell)
        .count() == 1L
      counts.unpersist()
      val n = Ann.semDedupAssigned(assignedRaw, cosineConfirm = 0.9,
        maxCell = semMaxCell).filter(!col("keep")).count()
      assignedRaw.unpersist()
      n
    }
    stages += semRaw

    // -- text curation (r7 verdict #5): the three newest scoring passes on
    // the full soak corpus, same shapes as their catalog rows ------------

    // boilerplate — [[TextCuration.boilerplate]], the SAME operator body
    // the catalog's q_text_boilerplate ships (r8 review: the soak carried
    // a copy-pasted pipeline that a catalog fix would not have reached).
    // The planted structure gives exact expectations: every mega doc is
    // 100% boilerplate (2500 identical docs), family docs are flagged
    // (3 docs share all un-mutated windows), and NO un-planted doc is
    // flagged (md5 words make collisions impossible in practice).
    var boilerMegaFull = -1L; var boilerNonPlantedFlagged = -1L
    val (_, boiler) = measure(spark, "boilerplate (paragraph dedup)",
      "16-token windows, flag >= 3 distinct docs") {
      val perDoc = TextCuration.boilerplate(allDocs,
          windowTokens = 16, minDocs = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bound to the mega RANGE — the r9 split/hot plants live above it
      boilerMegaFull = perDoc
        .filter(col("doc_id") >= l.megaStart && col("doc_id") < l.splitStart &&
          col("n_boiler") === col("n_windows")).count()
      boilerNonPlantedFlagged = perDoc
        .filter(col("doc_id") < l.nDocs &&
          col("doc_id") % l.famPeriod >= 3 && col("n_boiler") > 0).count()
      val n = perDoc.count()
      perDoc.unpersist()
      n
    }
    stages += boiler

    // containment ([[NearDup.containmentPairs]]): planted arithmetic —
    // a family member shares its root's shingles except the ≤ 3 windows
    // its one mutated token touches ⇒ root→member containment ≥ 35/38 ≈
    // 0.921 > 0.9: all 2·famCount root→member pairs confirm. The two
    // MEMBERS differ at two ADJACENT positions (r+1, r+2 mutate tokens
    // (r+1)%40, (r+2)%40): interior positions touch 4 distinct windows
    // (34/38 ≈ 0.894 < 0.9, below threshold), but when r%40 = 0 the
    // positions are 1 and 2 and the window range CLIPS at the text edge —
    // 3 affected windows, 35/38 ≥ 0.9 — so exactly the famCount/2
    // edge-position families contribute a member↔member pair as well
    // (first measured, then derived; the r8 first cut predicted 0 and the
    // soak caught the edge case). Chain ≈ 52/58 ≈ 0.897 stays below. The
    // identical mega-family excludes ITSELF: every one of its shingles
    // has df = 2500 > cap, so its docs have zero discriminative shingles
    // and the |family|² term never forms (the measured form of "exact
    // dedup is the right tool for identical text").
    var contRootPairs = -1L
    var contMemberPairs = -1L
    var contOther = -1L
    val (_, contM) = measure(spark, "containment pairs",
      s"df <= ${mhCfg.maxBucket} discriminative shingles; mega family self-excluded") {
      val cp = NearDup.containmentPairs(allDocs, maxDf = mhCfg.maxBucket)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      contRootPairs = cp.filter(col("doc_a") < l.nDocs &&
        col("doc_a") % l.famPeriod === 0 &&
        col("doc_b") - col("doc_a") <= 2).count()
      contMemberPairs = cp.filter(col("doc_a") < l.nDocs &&
        col("doc_a") % l.famPeriod === 1 &&
        col("doc_b") === col("doc_a") + 1).count()
      val n = cp.count()
      contOther = n - contRootPairs - contMemberPairs
      cp.unpersist()
      n
    }
    stages += contM

    // containment maxDf sweep (r8 verdict #2): the Σ df² bound's cost
    // lever, measured. The planted families' shingles have df ≈ 3 and the
    // mega family self-excludes at ANY cap, so a 10× tighter cap must
    // keep every confirmed pair — what it buys is the shuffle delta the
    // table shows (on this corpus the df distribution is bimodal — df ≈ 3
    // or df > 1000 — so the saving is small; the lever matters on corpora
    // with mid-df boilerplate mass).
    var contPairs100 = -1L
    val (_, cont100) = measure(spark, "containment pairs (maxDf=100)",
      "sweep: 10x tighter df cap — recall at the planted families must hold") {
      contPairs100 = NearDup.containmentPairs(allDocs, maxDf = 100).count()
      contPairs100
    }
    stages += cont100

    // minhash-est calibration (r8 verdict #1): the signature-only Jaccard
    // estimate vs the exact confirmed Jaccard, on every confirmed pair.
    // E[est] = J, σ ≈ √(J(1−J)/numHashes) ≈ 0.084 at J = 0.85, n = 18 —
    // the measured mean/max error is the number a production prefilter
    // threshold must budget for.
    var estPairs = -1L; var estMeanErrPpm = -1L; var estMaxErrPpm = -1L
    val (_, estM) = measure(spark, "minhash-est calibration",
      s"${mhCfg.numHashes}-hash signature estimate vs exact Jaccard, confirmed pairs") {
      val est = NearDup.minhashEstimate(allDocs,
          pairs.select(col("doc_a"), col("doc_b")), mhCfg)
        .join(pairs, Seq("doc_a", "doc_b"))
        .withColumn("err",
          abs(col("est_ppm") - (col("jac") * 1e6).cast("long")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      estPairs = est.count()
      val r = est.agg(floor(avg(col("err"))).cast("long"),
        max(col("err")).cast("long")).head()
      estMeanErrPpm = r.getLong(0); estMaxErrPpm = r.getLong(1)
      est.unpersist()
      estPairs
    }
    stages += estM

    // -- bloom-gated incremental exact dedup (r8 verdict #1): the
    // production-ingest path, measured both ways. The history index is
    // its own stage (the persisted artifact a real ingest maintains);
    // then an ALL-NEW delta (the common case: ≥ 99% of rows must bypass
    // the history join on a probe miss — only the ~1% fpp pays the
    // confirm join) and a HIGH-DUP delta (half verbatim corpus copies:
    // a dup can NEVER bypass — blooms have no false negatives — so the
    // output must be exactly the new half).
    val histSha = allDocs
      .select(sha2(col("text"), 256).as("sha")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (bloomHistRows, histM) = measure(spark, "exact-dedup history index",
      "distinct sha-256 over the corpus — the persisted artifact") {
      histSha.count()
    }
    stages += histM
    // `leakIdsBelow`: count output ids under this bound from the PERSISTED
    // gate result — a leaked dup surfaces as an output id in the dup band
    // (the result-equivalence check the operator's proof rests on). Read
    // off the cached g rather than re-running the whole gate pipeline a
    // third time (r9 review).
    def gate(name: String, note: String, deltaPath: String,
             leakIdsBelow: Long = Long.MinValue): (Long, Long, Long) = {
      var out = -1L; var bypass = -1L; var leaked = -1L
      val (_, m) = measure(spark, name, note) {
        val g = ExactDedup.bloomGatedNew(histSha,
            spark.read.parquet(deltaPath)
              .select(col("doc_id"), sha2(col("text"), 256).as("sha")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out = g.count()
        bypass = g.filter(!col("probe_hit")).count()
        if (leakIdsBelow != Long.MinValue)
          leaked = g.filter(col("doc_id") < leakIdsBelow).count()
        g.unpersist()
        out
      }
      stages += m
      (out, bypass, leaked)
    }
    val (bloomAllNewOut, bloomAllNewBypass, _) = gate("bloom gate (all-new delta)",
      s"${l.deltaNew} new docs; bypass = probe misses that skip the history join",
      paths.deltaNew)
    val (bloomMixedOut, bloomMixedBypass, bloomMixedDupLeaked) =
      gate("bloom gate (high-dup delta)",
        s"${l.deltaMixDup} verbatim corpus copies + ${l.deltaMixNew} new docs",
        paths.deltaMix, leakIdsBelow = l.deltaMixNewIdBase)
    histSha.unpersist()

    // -- suffix/prefix boundary dedup (r8 verdict #1): planted-seam
    // recovery + the hot-boundary cap, on the operator's own stages.
    var seamsFound = -1L; var boundaryOther = -1L; var megaHotLeaked = -1L
    val (_, bM) = measure(spark, "suffix/prefix boundary pairs",
      s"k=4 boundary hash join; hot boundaries capped at ${mhCfg.maxBucket} both sides") {
      val bp = NearDup.boundaryPairs(allDocs, k = 4,
          maxBucket = mhCfg.maxBucket)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      seamsFound = bp.filter(col("doc_a") >= l.splitStart &&
        col("doc_a") < l.splitStart + 2L * l.splitPairs &&
        (col("doc_a") - l.splitStart) % 2 === 0 &&
        col("doc_b") === col("doc_a") + 1).count()
      megaHotLeaked = bp.filter(col("doc_a") >= l.megaStart &&
        col("doc_a") < l.megaStart + l.megaSize &&
        col("doc_b") >= l.hotStart).count()
      val n = bp.count()
      boundaryOther = n - seamsFound - megaHotLeaked
      bp.unpersist()
      n
    }
    stages += bM
    // cap diagnostics on the operator's own hash stage: exactly the
    // planted hot values must sit over the cap (head side: the mega
    // family's shared head AND the mega-tail value the hot docs reuse as
    // their head; tail side: the mega family's shared tail) — organic
    // boundaries never
    val bh = NearDup.boundaryHashes(allDocs, k = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cappedHeads = bh.groupBy(col("head_h")).count()
      .filter(col("count") > mhCfg.maxBucket).count()
    val cappedTails = bh.groupBy(col("tail_h")).count()
      .filter(col("count") > mhCfg.maxBucket).count()
    bh.unpersist()

    // -- AQE skew-join (r8 verdict #6): PlanSweep allowlists the
    // corpus×corpus shuffled joins on the argument that AQE splits
    // runtime skew; measure that claim instead of arguing it. Half the
    // corpus shares ONE join key (the planted skew), broadcast is
    // disabled (modeling a genuinely big×big join — a dim side this
    // small would be broadcast, PlanSpec asserts that elsewhere), and
    // the skew thresholds are scaled to the corpus MB exactly as a
    // 100 TB job scales them to its partition sizes. The assertion is
    // that OptimizeSkewedJoin actually fired (skew=true in the final
    // adaptive plan) and split the hot partition.
    var aqeSkewFired = false; var aqeSkewedSplits = -1L
    val (aqeJoinRows, aqeM) = measure(spark, "AQE skew-join split",
      "half the corpus on one key; skew thresholds scaled to corpus MB") {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      val d2 = s2.read.parquet(docsPath)
      val left = d2.select(
        when(col("doc_id") % 2 === 0, 0L).otherwise(col("doc_id")).as("k"),
        col("text"))
      val right = d2.select(col("doc_id").as("k"),
        length(col("text")).as("rlen"))
      val j = left.join(right, "k")
      // drive the Dataset's OWN QueryExecution (count() would build a
      // fresh one and the adaptive plan we inspect would never execute)
      val n = j.queryExecution.toRdd.count()
      val finalPlan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      aqeSkewFired = finalPlan.toString.contains("skew=true")
      // query stages are LEAF nodes — a plain collect never reaches the
      // AQEShuffleRead inside them, so walk into each stage's plan
      def skewSplits(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        val own =
          if (p.nodeName == "AQEShuffleRead")
            p.metrics.get("numSkewedSplits").map(_.value).getOrElse(0L)
          else 0L
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case _ => p.children
        }
        own + kids.map(skewSplits).sum
      }
      aqeSkewedSplits = skewSplits(finalPlan)
      n
    }
    stages += aqeM

    // top-k per group, both plans (B65 / q_topk_agg), with the PAYLOAD the
    // production question carries ("the 5 largest docs per group, with
    // their text"). HONEST FINDING, first measured here: Spark 4's
    // InferWindowGroupLimit bounds the window form's exchange too (a
    // map-side WindowGroupLimit keeps <= k rows per group per partition),
    // so shuffle volume does NOT separate the plans. What separates them:
    // the window plan's group-limit sits on a per-partition Sort of the
    // FULL rows (payload included — O(n log n) full-width per partition),
    // while TopKAgg streams once with an O(k) buffer over (score, id)
    // alone and fetches the <= 320 winners' text with a broadcast join.
    // Both rows below carry that story; answer equality on
    // (grp, score, id, text-md5) is asserted (unmeasured) right after.
    val tkIn = allDocs.select((col("doc_id") % 64).as("grp"),
      length(col("text")).cast("double").as("score"), col("doc_id").as("id"),
      col("text"))
    val tkWindow = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
      tkIn.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("grp"), col("score"), col("id"), md5(col("text")).as("tmd5"))
    }
    val (_, tkWinM) = measure(spark, "top-5 per group + payload (window group-limit)",
      s"64 groups over ${l.totalDocs} docs — WindowGroupLimit bounds the exchange " +
        "but full-width-sorts every input partition first") {
      tkWindow.count()
    }
    stages += tkWinM
    val tkAgged = {
      val topk = graft.functions.TopKAgg.topK(spark, 5)
      val winners = tkIn
        .groupBy(col("grp")).agg(topk(col("score"), col("id")).as("top"))
        .select(col("grp"), explode(col("top")).as("p"))
        .select(col("grp"), col("p._1").as("score"), col("p._2").as("id"))
      allDocs.select(col("doc_id").as("id"), md5(col("text")).as("tmd5"))
        .join(broadcast(winners), "id")
        .select(col("grp"), col("score"), col("id"), col("tmd5"))
    }
    val (_, tkAggM) = measure(spark, "top-5 per group + payload (bounded aggregator)",
      "TopKAgg streams (score,id) with an O(k) buffer — no sort anywhere; " +
        "winners' text via explicit broadcast join") {
      tkAgged.count()
    }
    stages += tkAggM
    require(tkAgged.except(tkWindow).isEmpty && tkWindow.except(tkAgged).isEmpty,
      "TopKAgg answer diverged from the window top-k on the soak corpus")

    // BM25 (q_text_bm25's shape): 3 chain-seed query terms (each lives in
    // ~10 chain docs), per-doc conditional-sum tf, 1-row broadcast df +
    // corpus stats, TakeOrdered top-20
    val qterms = Seq(100, 200, 300).map { x =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"-7_$x".getBytes("UTF-8")).map("%02x".format(_)).mkString
      h.substring(0, 6)
    }
    val (_, bm25) = measure(spark, "BM25 top-20",
      s"terms from the chain seed (df ~ 10 docs each)") {
      TextCuration.bm25TopK(allDocs, qterms, k = 20).count()
    }
    stages += bm25

    // bigram-LM NLL (q_text_lm_score's shape): corpus-trained add-one
    // bigram model, integer micro-nat per-doc sums. Semantic invariant:
    // the 2500 identical mega docs collapse to ONE distinct NLL, and it is
    // LOWER (more probable) than the un-planted average — their bigrams
    // occur 2500× each.
    var lmMegaDistinct = -1L; var lmMegaAvgMicro = 0L; var lmBaseAvgMicro = 0L
    val (_, lm) = measure(spark, "bigram-LM NLL",
      "add-one smoothing, integer micro-nats") {
      val nll = TextCuration.bigramNll(allDocs)
        .select(col("doc_id"), col("nll_micro").as("nll"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bound to the mega RANGE — the r9 split/hot plants live above it
      // (each of those groups has its OWN constant NLL: c12/c1/vocab are
      // corpus-level, so structurally identical docs score identically)
      val mega = nll.filter(col("doc_id") >= l.megaStart &&
        col("doc_id") < l.splitStart)
      lmMegaDistinct = mega.select(col("nll")).distinct().count()
      lmMegaAvgMicro = mega
        .agg(floor(avg(col("nll"))).cast("long")).head().getLong(0)
      lmBaseAvgMicro = nll.filter(col("doc_id") < l.nDocs)
        .agg(floor(avg(col("nll"))).cast("long")).head().getLong(0)
      val n = nll.count()
      nll.unpersist()
      n
    }
    stages += lm

    // -- streaming legs (r7 verdict #4): multi-batch state telemetry -----
    // the telemetry folds over StreamingQuery.recentProgress, which keeps
    // only the last numRecentProgressUpdates batches (default 100): a
    // layout whose batch count (streamFiles + trailing eviction batches)
    // neared that cap would silently truncate droppedLate/maxStateRows
    // and break the spec's exact late-drop oracle (r8 advice) — raise the
    // cap well above the batch count. On a CHILD session, so the override
    // dies with the legs instead of leaking into every later streaming
    // query on the caller's session (r9 review; same scoping the AQE
    // skew stage and StreamingQ.mbSession use).
    val streamSession = spark.newSession()
    streamSession.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(100, l.streamFiles * 4 + 20).toString)
    val dedupLeg = streamLeg(streamSession, "streaming dedup", dir, l) { src =>
      src.withWatermark("ts", "300 seconds")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
    }
    val joinLeg = streamLeg(streamSession, "stream-stream interval join", dir, l) { src =>
      val clicks = src.filter(col("typ") === "click")
        .select(col("user_id"), col("ts").as("cts"))
        .withWatermark("cts", "300 seconds")
      val purch = src.filter(col("typ") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "300 seconds")
      clicks.join(purch, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 300 seconds"))
    }
    val streamLegs = Seq(dedupLeg, joinLeg)

    var cents: DataFrame = null
    val (_, km) = measure(spark, "k-means fit (IVF trainer)",
      s"k=${ivfCfg.numCentroids}, 2 Lloyd iterations") {
      cents = Ann.kmeansFit(allVecs, k = ivfCfg.numCentroids, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce"))
        .persist()
      cents.count()
    }
    stages += km
    val (_, ivf) = measure(spark, "IVF top-10 (trained)",
      s"nprobe=${ivfCfg.nprobe}, 10 queries") {
      Ann.ivfTopK(allVecs, col("vec_id") < 10, k = 10, ivfCfg, cents).count()
    }
    stages += ivf

    // -- bucket statistics -------------------------------------------------
    val embBands = Ann.lshBands(allVecs, lshCfg)
    val embBandsClean = Ann.lshBands(
      allVecs.filter(col("vec_id") < l.vecMegaStart), lshCfg)
    val embStats = bucketStats("embed LSH", embBands, lshCfg.maxBucket,
      lshCfg.expectedOccupancy(l.totalVecs), embBandsClean)

    // the operator's OWN banding stage (NearDup.minhashBands), so the
    // statistics measure exactly the geometry minhashPairs pairs on
    def mhBands(d: DataFrame): DataFrame =
      NearDup.minhashBands(d, mhCfg).withColumnRenamed("sig", "bucket")
    // minhash buckets are sparse hash tuples: "predicted" occupancy is ~1
    // (only real near-dup groups share a signature slice); "clean"
    // excludes exactly the identical mega-family range (the split/hot
    // plants live ABOVE it and must count as ordinary corpus)
    val mhStats = bucketStats("minhash LSH", mhBands(allDocs), mhCfg.maxBucket,
      1.0, mhBands(allDocs.filter(
        !(col("doc_id") >= l.megaStart && col("doc_id") < l.splitStart))))

    // -- model apply (B71/B75): the two scoring dataflows contrasted -------
    // join+agg pays one token-row shuffle on doc_id; the broadcast-map UDF
    // (the streaming form) pays ZERO shuffle. Answers must be identical —
    // the contrast is pure plan economics. The `filter(logit != MinValue)`
    // inside each count() references the score column so Catalyst cannot
    // prune the scoring work out from under the row count.
    val saModel = LinearScorer.model(allDocs, minCount = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    saModel.count() // materialize: both legs read the same cached model
    val maJoinScores = LinearScorer.score(allDocs, saModel, 0L)
      .select(col("doc_id"), col("logit_micro"))
    val (maDocs, maJoinM) = measure(spark, "model apply (broadcast join + per-doc agg)",
      s"${l.totalDocs} docs; token rows shuffle once on doc_id") {
      maJoinScores.filter(col("logit_micro") =!= Long.MinValue).count()
    }
    stages += maJoinM
    val maScoreF = LinearScorer.scoreUdf(saModel)
    val maUdfScores = allDocs.select(col("doc_id"),
      maScoreF(col("text")).as("logit_micro"))
    val (_, maUdfM) = measure(spark, "model apply (broadcast-map UDF, shuffle-free)",
      "the streaming/online form: one UDF call per doc row, no explode, no agg") {
      maUdfScores.filter(col("logit_micro") =!= Long.MinValue).count()
    }
    stages += maUdfM
    require(maJoinScores.except(maUdfScores).isEmpty &&
      maUdfScores.except(maJoinScores).isEmpty,
      "broadcast-map UDF scores diverged from the join+agg scores")
    saModel.unpersist()

    // -- quantile sketch (B72): compaction ACTIVE at a 100 TB-realistic ----
    // capacity, against the exact cumulative-histogram order statistic.
    // 105k values >> capacity 256, so every partial overflows and the
    // sketch runs in its approximate regime — the regime the catalog's
    // exact-capacity query never exercises. The value is the doc length
    // DISAMBIGUATED by doc_id (length·1000 + id%1000): raw lengths are so
    // heavily tied that any returned value's rank interval swallows the
    // target and the measured error reads 0 — near-unique values make the
    // compaction error actually visible. Rank error is measured per p.
    val qsPs = Seq(0.25, 0.5, 0.75, 0.875)
    val qsCap = 256
    val lens = allDocs.select(
        (length(col("text")) * 1000 + col("doc_id") % 1000)
          .cast("double").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qsN = lens.count()
    val qsTargets = qsPs.map(p => math.ceil(p * qsN).toLong.max(1L))
    val (_, qexM) = measure(spark, "exact discrete quantiles (cumulative histogram)",
      "one sort-shuffle of the distinct-length histogram (q_events_anomaly form)") {
      val h = lens.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val cw = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
        .rowsBetween(Long.MinValue, 0)
      val cum = h.withColumn("cum", sum(col("c")).over(cw))
      val aggs = qsTargets.zipWithIndex.map { case (t, i) =>
        min(when(col("cum") >= t, col("x"))).as(s"q$i") }
      cum.agg(aggs.head, aggs.tail: _*).head(); qsN
    }
    stages += qexM
    val qsAgg = graft.functions.QuantileSketch.quantiles(spark, qsCap, qsPs)
    var qsVals: Seq[Double] = Seq.empty
    val (_, qskM) = measure(spark, s"quantile sketch (capacity $qsCap, compacting)",
      "single pass, bounded buffers, no sort of the data anywhere") {
      qsVals = lens.agg(qsAgg(col("x")).as("q")).head().getSeq[Double](0); qsN
    }
    stages += qskM
    // rank error of each sketch answer: distance from the target rank to
    // the value's true rank interval [count(<v)+1, count(<=v)]
    val qsErrCols = qsVals.zipWithIndex.flatMap { case (v, i) => Seq(
      sum(when(col("x") < v, 1L).otherwise(0L)).as(s"lo$i"),
      sum(when(col("x") <= v, 1L).otherwise(0L)).as(s"hi$i")) }
    val qsErrRow = lens.agg(qsErrCols.head, qsErrCols.tail: _*).head()
    val qsRankErrs = qsTargets.zipWithIndex.map { case (t, i) =>
      val lo = qsErrRow.getAs[Long](s"lo$i") + 1
      val hi = qsErrRow.getAs[Long](s"hi$i")
      if (t < lo) lo - t else if (t > hi) t - hi else 0L
    }
    val qsErrBound = (math.ceil(math.log(qsN.toDouble / qsCap) / math.log(2)) *
      qsN / qsCap).toLong
    require(qsRankErrs.max <= qsErrBound,
      s"sketch rank errors $qsRankErrs exceed the level bound $qsErrBound")
    lens.unpersist()

    // -- product quantization (B79): codes + ADC on the soak corpus -------
    // Train the 16×16 codebooks, encode all 22k vectors to 8-byte codes,
    // then answer the 500 planted-dup queries BOTH ways: ADC over codes
    // (table lookups, never a raw corpus vector) vs exact vec_dot over raw
    // vectors. The planted partner (vec_id−1, a 2% perturbation) must
    // surface in the ADC top-3 — quantization-robust retrieval measured on
    // plants, not asserted. Mega-block vectors are not queried (2000
    // identical vectors tie by construction; exact dedup's job, as
    // everywhere else in the soak).
    val pqCfg = PqConfig()
    val pqCb = Pq.train(allVecs, pqCfg)
    val pqCodes = Pq.encode(allVecs, pqCfg, pqCb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, pqEncM) = measure(spark, "PQ encode (all vecs -> 8-byte codes)",
      s"${l.totalVecs} vecs, ${pqCfg.m}x${pqCfg.k} trained codebooks") {
      pqCodes.count() / pqCfg.m
    }
    stages += pqEncM
    val isDupQuery = col("vec_id") % l.vecDupPeriod === 1 &&
      col("vec_id") < l.nVecs
    var pqAdc: DataFrame = null
    val (pqQueries, pqAdcM) = measure(spark,
      "PQ ADC top-3 for the 500 planted-dup queries",
      "scan touches codes + broadcast distance tables only") {
      pqAdc = Pq.adcTopK(allVecs, isDupQuery, 3, pqCfg, pqCb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pqAdc.filter(col("rank") === 1).count()
    }
    stages += pqAdcM
    val (_, pqExactM) = measure(spark, "exact top-3 (raw vectors, same queries)",
      "the uncompressed contrast: vec_dot against every raw vector") {
      Ann.exactTopK(allVecs, isDupQuery, 3).count() / 3
    }
    stages += pqExactM
    val pqPartnerHits = pqAdc
      .filter(col("vec_id") === col("qid") - 1).count()
    pqAdc.unpersist(); pqCodes.unpersist()

    pairs.unpersist(); labels.unpersist(); cents.unpersist()

    Report(l, mhCfg, lshCfg, ivfCfg, stages.toSeq,
      Seq(mhStats, embStats),
      cc.rounds, ccRoundBound, ccVertices, ccClusters,
      famRecovered, chainClusterSize,
      embedPairs, l.vecDupCount.toLong,
      semDrops, semCappedClean, semCappedRaw, semMegaCellCapped,
      semMaxCell,
      boilerMegaFull, boilerNonPlantedFlagged,
      lmMegaDistinct, lmMegaAvgMicro, lmBaseAvgMicro,
      contRootPairs, contMemberPairs, contOther, contPairs100,
      estPairs, estMeanErrPpm, estMaxErrPpm,
      bloomHistRows, bloomAllNewOut, bloomAllNewBypass,
      bloomMixedOut, bloomMixedBypass, bloomMixedDupLeaked,
      seamsFound, boundaryOther, megaHotLeaked, cappedHeads, cappedTails,
      aqeJoinRows, aqeSkewFired, aqeSkewedSplits,
      streamLegs,
      maDocs = maDocs,
      maUdfShuffleMB = maUdfM.shuffleReadMB + maUdfM.shuffleWriteMB,
      maJoinShuffleMB = maJoinM.shuffleReadMB + maJoinM.shuffleWriteMB,
      qsCapacity = qsCap, qsN = qsN, qsRankErrs = qsRankErrs,
      qsErrBound = qsErrBound,
      pqQueries = pqQueries, pqPartnerHits = pqPartnerHits)
  }

  /** BATCHED BPE at tokenizer-training scale (r14 verdict #2): ≥256
    * effective merges over a WIDE synthetic vocabulary (the fixtures'
    * 31 word types exhaust after a handful of merges — a tokenizer-
    * training corpus has millions), measuring that ROUNDS, not merges,
    * bound the Spark job count of distributed training. Deterministic
    * LCG-generated words with a Zipf-ish frequency tail; a 16-merge
    * SEQUENTIAL distributed run of the same corpus calibrates the
    * per-round cost the batching amortizes. The vocabulary is under
    * [[Bpe.DriverSymbolCap]], so the driver-resident rows show what the
    * catalog entries run: the same merges with no per-round job. */
  def runBpeBatchedSoak(spark: SparkSession, nWords: Int = 20000,
                        totalMerges: Int = 256, batchCap: Int = 64): String = {
    import spark.implicits._
    // deterministic synthetic vocabulary: 8–16 lowercase chars per word,
    // frequency 1 + nWords/(rank+1) (Zipf-ish head)
    def lcg(x: Long): Long = x * 6364136223846793005L + 1442695040888963407L
    val words = (0 until nWords).map { i =>
      var x = lcg(i.toLong + 7)
      // abs(x % n), not abs(x) % n: equal everywhere except Long.MinValue,
      // where abs returns MinValue and the draw went negative (r15 advice)
      val len = 8 + math.abs(x % 9).toInt
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        x = lcg(x)
        sb += ('a' + math.abs(x % 26).toInt).toChar
      }
      (sb.toString, 1 + nWords / (i + 1))
    }
    val docs = spark.createDataset(words).toDF("w", "f")
      .select(explode(expr("transform(sequence(1, f), i -> w)")).as("text"))
      .repartition(32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = docs.count()
    val nSymbols = words.map(_._1.length + 1L).sum

    /** One timed training run: merge table (in round order), rounds, wall s. */
    def train(merges: Int, batch: Int, cap: Int) = {
      val ((rows, rounds), m) = Measure.during(spark) {
        val run = Bpe.induce(docs, merges, batch, applyLast = false, cap = cap)
        run.vocab.release()
        (run.table.collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq,
          run.rounds)
      }
      (rows, rounds, m.wallS)
    }
    val (seq16, _, seqSecs) = train(16, 1, cap = 0)
    val (batched, rounds, batSecs) = train(totalMerges, batchCap, cap = 0)
    val (drvBatched, drvRounds, drvBatSecs) = train(totalMerges, batchCap, Bpe.DriverSymbolCap)
    val (drvSeq, _, drvSeqSecs) = train(totalMerges, 1, Bpe.DriverSymbolCap)
    docs.unpersist(blocking = false)

    // the theorem holds on the soak corpus too: the first 16 batched
    // merges equal the sequential 16, and both paths learn one table
    val agree = batched.take(16) == seq16
    val pathsAgree = drvBatched == batched && drvSeq == batched && drvRounds == rounds
    val extrapSeq = seqSecs / 16.0 * totalMerges

    val sb = new StringBuilder
    sb ++= s"\n## Batched BPE soak (r14): $totalMerges merges, $nWords-type vocabulary\n\n"
    sb ++= s"Corpus: $nRows occurrence rows over $nWords deterministic word " +
      s"types ($nSymbols symbols, Zipf-ish frequencies), measured at " +
      s"local[${spark.sparkContext.defaultParallelism}]. Distributed sequential " +
      "training pays one argmax collect + one vocabulary rewrite PER MERGE; the " +
      "batched form (exact-safe disjoint prefixes — proof on Bpe.safePrefix, " +
      "theorem pinned in BpeSpec and on this soak corpus below) pays them per " +
      s"ROUND. The vocabulary is under Bpe.DriverSymbolCap (${Bpe.DriverSymbolCap} " +
      "symbols), so the catalog path trains it driver-resident: one bounded " +
      "collect, then every round on the driver's incremental pair index; the " +
      "distributed column forces the rounds onto Spark.\n\n"
    sb ++= "| metric | distributed | driver-resident |\n| --- | --- | --- |\n"
    sb ++= s"| effective merges | ${batched.length} | ${drvBatched.length} |\n"
    sb ++= s"| rounds (batched) | $rounds | $drvRounds |\n"
    sb ++= f"| merges per round | ${batched.length.toDouble / rounds}%.1f | " +
      f"${drvBatched.length.toDouble / drvRounds}%.1f |\n"
    sb ++= f"| batched wall | $batSecs%.1f s | $drvBatSecs%.1f s |\n"
    sb ++= f"| sequential 16-merge wall (calibration) | $seqSecs%.1f s | — |\n"
    sb ++= f"| sequential $totalMerges-merge wall | $extrapSeq%.0f s (extrapolated) | " +
      f"$drvSeqSecs%.1f s (measured) |\n"
    sb ++= f"| batched speedup over sequential at $totalMerges merges | " +
      f"${extrapSeq / math.max(1e-9, batSecs)}%.1fx | " +
      f"${drvSeqSecs / math.max(1e-9, drvBatSecs)}%.1fx |\n"
    sb ++= s"| first-16 batched ≡ sequential | $agree | — |\n"
    sb ++= s"| driver-resident ≡ distributed (all $totalMerges merges, rounds) | $pathsAgree | $pathsAgree |\n"
    sb ++= "\nDistributed, at a production 32k-merge vocabulary the same ratio is " +
      "the difference between 32k driver round-trips and " +
      "32k/(merges-per-round) rounds — rounds, not merges, bound the " +
      "job count. Driver-resident, a round is a walk of the merged pair's " +
      "posting list, and batching no longer buys much.\n"
    sb.toString
  }

  /** Graph-ANN LIFECYCLE at 10× for SCALE.md (B95 build / B119 insert /
    * B120 serve / B122 delete): build the index ONCE over the soak
    * corpus, then measure that every maintenance/serving operation is
    * DELTA-proportional — the whole point of holding a neighbor graph
    * instead of rebuilding. The soak corpus's 2000-vector identical mega
    * block exercises the LSH cap refusal during the build (capped buckets
    * seed no candidates — the same refusal every blocking shape here
    * enforces). buildK=10 (the mid recall dial) keeps the build's
    * (2·buildK)²·n candidate budget honest without paying the top dial's
    * 2.25× in a measurement harness. */
  def runKnnLifecycleSoak(spark: SparkSession, dir: String,
                          l: Layout = Layout(nVecs = 20000)): String = {
    import org.apache.spark.storage.StorageLevel
    // the embedding corpus, written once per size (marker `_VECOK_<nVecs>`)
    val vecsPath = s"$dir/vecs_${l.nVecs}"
    graft.BuildOnce(new java.io.File(dir), s"_VECOK_${l.nVecs}") {
      embeddings(spark, l).write.mode("overwrite").parquet(vecsPath)
    }
    val cfg = EmbedLshConfig(bands = 8, bits = 9,
      prime = EmbedLshConfig.primeAtLeast(72), dim = l.dim,
      maxBucket = 1000, cosineConfirm = 0.45)
    val k = 5
    val isNew = col("vec_id") % 100 === 7 // ~1% arrivals / queries
    val isDel = col("vec_id") % 100 === 3 // ~1% erasures
    val vecs = spark.read.parquet(vecsPath).select(col("vec_id"), col("e"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = vecs.count()
    val corpus = vecs.filter(!isNew).persist(StorageLevel.MEMORY_AND_DISK)
    val nOld = corpus.count()

    var g: DataFrame = null
    val (gRows, mBuild) = measure(spark, "build (NN-descent, 2 rounds)",
      s"buildK=10 working lists over $nOld vecs; mega block cap-refused") {
      g = Ann.knnGraph(corpus, k, cfg, rounds = 2, buildK = 10)
      g.count()
    }
    val (insRows, mIns) = measure(spark, "insert 1% delta",
      "LSH mates + 2-hop frozen walk + both re-ranks (knnInsertInto)") {
      Ann.knnInsertInto(vecs, isNew, g, k, cfg, hops = 2).count()
    }
    val (srvRows, mSrv) = measure(spark, "serve 1% as queries",
      "same walk, no reverse update (knnSearchInto)") {
      Ann.knnSearchInto(vecs, isNew, g, k, cfg, hops = 2).count()
    }
    val (delRows, mDel) = measure(spark, "delete 1% + repair",
      "tombstone + donated-adjacency re-rank of affected lists (knnDeleteFrom)") {
      Ann.knnDeleteFrom(corpus, isDel, g, k).count()
    }
    corpus.unpersist(blocking = false)
    vecs.unpersist(blocking = false)

    val sb = new StringBuilder
    sb ++= s"\n## Graph-ANN lifecycle at 10x (r14): build once, maintain/serve delta-proportional\n"
    sb ++= s"\nIndex over $nOld of $n soak vectors (1% held out as " +
      "arrivals/queries, 1% of the corpus erased); k=5, buildK=10, " +
      "8 bands x 9 bits, 2 NN-descent rounds:\n\n"
    sb ++= "| op | output rows | wall s | shuffle R MB | shuffle W MB | notes |\n"
    sb ++= "| --- | ---: | ---: | ---: | ---: | --- |\n"
    for ((rows, m) <- Seq((gRows, mBuild), (insRows, mIns), (srvRows, mSrv),
      (delRows, mDel)))
      sb ++= f"| ${m.stage} | $rows | ${m.seconds}%.1f | ${m.shuffleReadMB}%.1f | ${m.shuffleWriteMB}%.1f | ${m.note} |%n"
    sb ++= f"\nThe build pays the (2·buildK)²·n candidate budget once " +
      f"(${mBuild.seconds}%.0f s here); insert/serve/delete ride the " +
      "FROZEN graph at 1%-delta cost — " +
      f"${mIns.seconds / mBuild.seconds * 100}%.0f%% / " +
      f"${mSrv.seconds / mBuild.seconds * 100}%.0f%% / " +
      f"${mDel.seconds / mBuild.seconds * 100}%.0f%% of the build wall " +
      "respectively, with shuffle bounded by the delta's candidate sets, " +
      "never the corpus re-paired against itself. Serving is strictly " +
      "cheaper than insertion (no reverse re-rank of the old lists); " +
      "deletion touches only the <= k·|deleted| affected lists.\n"
    sb.toString
  }

  def renderMarkdown(r: Report): String = {
    val sb = new StringBuilder
    sb ++= "# SCALE — measured soak of the dedup/ANN/CC path\n\n"
    sb ++= s"Corpus: **${r.layout.totalDocs} documents** (${r.layout.famCount} " +
      s"planted 3-doc near-dup families, one ${r.layout.chainLen}-doc chain, " +
      s"one ${r.layout.megaSize}-doc identical mega-family, " +
      s"${r.layout.splitPairs} split-document pairs sharing a 4-token seam, " +
      s"${r.layout.hotSize} hot-boundary docs reusing the mega family's tail " +
      "as their head) and " +
      s"**${r.layout.totalVecs} embeddings** (${r.layout.vecDupCount} planted " +
      s"dup pairs, one ${r.layout.vecMegaSize}-vector identical block) — " +
      "~10x the sf0.1 fixtures, deterministic (pure md5 arithmetic).\n" +
      "Regenerate: `sbt \"Test/runMain graft.Scale base\"`. Invariants are\n" +
      "asserted by `ScaleSoakSpec` (tagged `graft.Slow`).\n\n"
    sb ++= s"Derived configs: minhash ${r.minhashCfg.numHashes} hashes x " +
      s"${r.minhashCfg.bands} bands (confirm ${r.minhashCfg.jaccardConfirm}); " +
      s"embed LSH ${r.embedCfg.bands} bands x ${r.embedCfg.bits} bits " +
      s"(confirm ${r.embedCfg.cosineConfirm}); IVF k=${r.ivfCfg.numCentroids}, " +
      s"nprobe=${r.ivfCfg.nprobe} — all from `derive`/`forCorpus`, " +
      "no hand-picked numbers.\n\n"
    sb ++= "## Per-stage cost\n\n"
    sb ++= "| stage | output rows | wall s | shuffle read MB | shuffle write MB | notes |\n"
    sb ++= "| --- | ---: | ---: | ---: | ---: | --- |\n"
    r.stages.foreach { s =>
      sb ++= f"| ${s.stage} | ${s.outRows} | ${s.seconds}%.1f | ${s.shuffleReadMB}%.1f | ${s.shuffleWriteMB}%.1f | ${s.note} |\n"
    }
    sb ++= "\n## Bucket occupancy vs prediction\n\n"
    sb ++= "| side | buckets | mean occ | max occ | predicted occ | capped (> maxBucket) | capped excl. planted mega-family |\n"
    sb ++= "| --- | ---: | ---: | ---: | ---: | ---: | ---: |\n"
    r.buckets.foreach { b =>
      sb ++= f"| ${b.side} | ${b.buckets} | ${b.meanOcc}%.1f | ${b.maxOcc} | ${b.predictedOcc}%.1f | ${b.capped} | ${b.cappedWithoutPlanted} |\n"
    }
    sb ++= "\n## Clustering\n\n"
    sb ++= f"- connected components: **${r.ccRounds} rounds** over " +
      f"${r.ccVertices} vertices / ${r.ccClusters} clusters " +
      f"(pointer-jump bound ceil(log2 n)+2 = ${r.ccRoundBound}) — includes " +
      f"the ${r.layout.chainLen}-doc chain, which plain label propagation " +
      f"would need ${r.layout.chainLen} rounds for\n"
    sb ++= f"- planted 3-doc families recovered as single clusters: " +
      f"**${r.famRecovered} / ${r.layout.famCount}**\n"
    sb ++= f"- chain component recovered: ${r.chainClusterSize} / ${r.layout.chainLen} docs under one label\n"
    sb ++= f"- embed near-dup pairs confirmed: **${r.embedPairs} / ${r.embedPlanted} planted** " +
      "(identical mega-block excluded by the bucket cap — exact dedup's job)\n"
    sb ++= f"- SemDeDup drops on the post-exact-dedup corpus: " +
      f"**${r.semDrops} / ${r.embedPlanted} planted pairs** with " +
      f"**${r.semCappedClean} cells capped** (maxCell=${r.semMaxCell}); on " +
      f"the RAW corpus (precondition violated) the cap fires on " +
      f"**${r.semCappedRaw} cell(s)** — " +
      (if (r.semMegaCellCapped) "exactly the planted identical block's cell"
       else "NOT the mega cell (invariant violated)") +
      " — so the |cell|² term stays bounded instead of paying " +
      f"~${r.layout.vecMegaSize.toLong * (r.layout.vecMegaSize - 1) / 2} pairs on one reducer\n"
    sb ++= "\n## Text curation on the soak corpus\n\n"
    sb ++= f"- boilerplate: all **${r.boilerMegaFull} / ${r.layout.megaSize}** " +
      "identical mega docs are 100% boilerplate windows; " +
      f"**${r.boilerNonPlantedFlagged}** un-planted docs flagged (must be 0 — " +
      "the pass never taxes organic text)\n"
    sb ++= f"- containment: **${r.contRootPairs} / ${2 * r.layout.famCount}** " +
      "root→member pairs (≥ 35/38 shared discriminative shingles) plus " +
      f"**${r.contMemberPairs} / ${r.layout.famCount / 2}** member↔member " +
      "pairs from the edge-position families (mutations at tokens 1–2 clip " +
      f"to 3 affected windows ⇒ 35/38 ≥ 0.9), and **${r.contOther}** others " +
      "(must be 0: interior member↔member ≈ 0.894 and chain ≈ 0.897 sit " +
      "below the 0.9 threshold, and the identical mega-family " +
      "self-excludes — every shingle above the df cap)\n"
    sb ++= f"- bigram-LM NLL: the mega family collapses to " +
      f"**${r.lmMegaDistinct} distinct score(s)** at ${r.lmMegaAvgMicro} " +
      f"micro-nats vs **${r.lmBaseAvgMicro}** un-planted average — " +
      "2500×-repeated bigrams ARE more probable, so the perplexity filter " +
      "ranks them as such\n"
    sb ++= f"- containment maxDf sweep: **${r.contPairs100} pairs at " +
      f"maxDf=100 vs ${r.contRootPairs + r.contMemberPairs + r.contOther} " +
      "at maxDf=1000** — planted-family recall is cap-invariant (family " +
      "shingles have df ≈ 3; the mega family self-excludes at any cap), " +
      "so the cap is purely the Σ df² cost lever the operator scaladoc " +
      "derives; compare the two containment rows above for the shuffle " +
      "delta\n"
    sb ++= f"- minhash-est calibration: on **${r.estPairs}** confirmed " +
      f"pairs the signature-only estimate sits **${r.estMeanErrPpm} ppm " +
      f"mean / ${r.estMaxErrPpm} ppm max** from the exact Jaccard — the " +
      "error budget a signature-prefilter threshold must carry (σ ≈ " +
      "√(J(1−J)/numHashes), measured not assumed)\n"
    sb ++= "\n## Incremental ingest — bloom gate and boundary dedup\n\n"
    sb ++= f"- bloom gate, all-new delta: **${r.bloomAllNewBypass} / " +
      f"${r.layout.deltaNew}** rows bypassed the history join on a probe " +
      f"miss (history index: ${r.bloomHistRows} shas; output " +
      f"${r.bloomAllNewOut} rows ≡ the plain anti-join) — the common " +
      "ingest case pays ~zero join cost, only the ~1% fpp confirms\n"
    sb ++= f"- bloom gate, high-dup delta: output **${r.bloomMixedOut} / " +
      f"${r.layout.deltaMixNew} planted-new** rows, ${r.bloomMixedDupLeaked} " +
      f"dup leaked (must be 0 — blooms have no false negatives), " +
      f"${r.bloomMixedBypass} bypassed (≈ the new half; a dup can never " +
      "bypass)\n"
    sb ++= f"- boundary dedup: **${r.seamsFound} / ${r.layout.splitPairs}** " +
      f"planted split-document seams found, ${r.boundaryOther} other pairs " +
      "(must be 0 — md5-word corpora have no accidental 4-token seams); " +
      f"the planted ${r.layout.megaSize}-tail × ${r.layout.hotSize}-head " +
      f"hot boundary produced **${r.megaHotLeaked} pairs** (cap refused " +
      "both sides of what would be 3.75 M pairs on one value); capped " +
      f"boundary values: ${r.cappedHeads} head / ${r.cappedTails} tail — " +
      "exactly the planted ones\n"
    sb ++= "\n## AQE skew-join (the allowlist argument, measured)\n\n"
    sb ++= f"- half the corpus on one join key, broadcast disabled, " +
      f"thresholds scaled to corpus MB: OptimizeSkewedJoin " +
      (if (r.aqeSkewFired) "**fired** (skew=true in the final plan)"
       else "**DID NOT FIRE** (invariant violated)") +
      f", splitting the hot partition into **${r.aqeSkewedSplits} " +
      f"pieces** (${r.aqeJoinRows} join rows, count-verified against the " +
      "planted layout) — the runtime half of the skew story whose manual " +
      "half is `Skew.saltedJoin`\n"
    sb ++= "\n## Streaming legs — state is watermark-bound, not input-bound\n\n"
    sb ++= "| leg | batches | input rows | max state rows | final state rows | late dropped | emitted | max state MB | wall s |\n"
    sb ++= "| --- | ---: | ---: | ---: | ---: | ---: | ---: | ---: | ---: |\n"
    r.streamLegs.foreach { s2 =>
      sb ++= f"| ${s2.op} | ${s2.batches} | ${s2.totalIn} | ${s2.maxStateRows} | ${s2.finalStateRows} | ${s2.droppedLate} | ${s2.emitted} | ${s2.maxStateMB}%.1f | ${s2.seconds}%.1f |\n"
    }
    sb ++= "\nEvery leg's max state stays a small fraction of the input: the\n" +
      "watermark evicts each 600 s file's state once the next file's\n" +
      "timestamps pass it, so state size tracks the WINDOW (what 100 TB\n" +
      "streaming needs), and the planted 1-in-97 late events are dropped\n" +
      "by the watermark, never buffered.\n"
    sb ++= "\n## Model apply & quantile sketch (classifier + order statistics at scale)\n\n"
    sb ++= f"- model apply: join+agg and broadcast-map-UDF forms agree " +
      f"doc-for-doc on **${r.maDocs}** docs; shuffle **${r.maJoinShuffleMB}%.1f MB** " +
      f"(join+agg) vs **${r.maUdfShuffleMB}%.1f MB** (UDF) — the UDF form is the " +
      "stream-safe zero-shuffle plan, the join form keeps scoring inside " +
      "codegen when a batch pass is already shuffling\n"
    sb ++= f"- quantile sketch: capacity ${r.qsCapacity} over n=${r.qsN} " +
      f"near-unique doc-length draws (compaction ACTIVE) → per-p rank errors " +
      f"**${r.qsRankErrs.mkString("/")}** rows vs level bound " +
      f"**${r.qsErrBound}** (ε=${if (r.qsN > 0) r.qsRankErrs.max * 1000000 / r.qsN else 0} ppm " +
      "of n) against the exact histogram quantile — the memory/accuracy " +
      "dial measured, not asserted\n"
    sb ++= f"- product quantization: **${r.pqPartnerHits} / ${r.pqQueries}** " +
      "planted-dup partners surface in the ADC top-3 scanned over 8-byte " +
      "CODES — 2-percent perturbations survive 32× compression. The ADC " +
      "row above is the MAP-SIDE scan shape (broadcast lookup tables in a " +
      "per-row UDF + bounded TopKAgg — only n_q·k rows ever shuffle); the " +
      "relational explode-join first cut measured 37 s / 1.7 GB shuffle on " +
      "this same leg before the rewrite (kept in the Pq scaladoc as the " +
      "counter-example), vs the raw-vector vec_dot contrast row — PQ's win " +
      "is the 32× smaller index plus the IVF cell bound (q_embed_ivfpq), " +
      "not the arithmetic\n"
    sb ++= "\n## Reading the table at 100 TB\n\n"
    sb ++= "- Shuffle bytes scale with corpus size, not its square: signature\n" +
      "  aggregation moves one row per document, candidate generation moves\n" +
      "  one row per (band, bucket) member, and the confirm join moves only\n" +
      "  capped-bucket pair candidates. No stage materializes all-pairs.\n"
    sb ++= "- The cap fires exclusively on the planted identical family (the\n" +
      "  column above proves zero cap hits without it), so near-dup recall\n" +
      "  is not silently traded for skew protection on a typical corpus.\n"
    sb ++= "- CC rounds grow with log(cluster diameter), not corpus size —\n" +
      "  the measured rounds sit under the bound with the worst-case chain\n" +
      "  planted deliberately.\n"
    sb ++= "- The SemDeDup stage recovers slightly fewer planted pairs than\n" +
      "  the LSH stage (cells are HARD partitions — a pair straddling a\n" +
      "  cell boundary is invisible to the within-cell join; banded LSH\n" +
      "  has no such boundary). That is the method's documented recall\n" +
      "  trade for bounding the quadratic, measured here instead of\n" +
      "  asserted away.\n"
    sb.toString
  }

  /** STREAMING-CDC fold at scale (r16; SURVEY.md §2 B134): the
    * [[StreamCdc]] economics claim — per-batch cost is O(batch + keys),
    * reading only the latest predecessor version, never the changelog
    * history — measured on a 2M-key synthetic changelog. Timeline:
    * batch 0 inserts every key; batch 1 updates ~10%; batch 2 deletes
    * ~14% AND carries a LATE seq-0 update for ~9% of keys (the
    * out-of-order event the seq-merge must reject at scale, not just in
    * the spec's hand-built case). Deterministic integer arithmetic
    * throughout; ScaleSoakSpec asserts the analytic live-table count and
    * the late-update rejection on a sample. */
  def runCdcSoak(spark: SparkSession, dir: String,
                 nKeys: Long = 2000000L): String = {
    import spark.implicits._
    val root = s"$dir/cdc_soak"
    val rootF = new java.io.File(root)
    if (rootF.exists()) graft.Fs.deleteRecursively(rootF)
    rootF.mkdirs()
    val nBuckets = StreamCdc.DefaultBuckets
    // the same deterministic key→bucket map applyBatch materializes
    def bkt = pmod(xxhash64(col("k")), lit(nBuckets.toLong)).cast("int")
    def keys = spark.range(nKeys).select(col("id").as("k"))
    val ins = keys.select(col("k"), lit(1L).as("seq"), lit("I").as("op"),
      (col("k") * 37 % 1000000 + 100).as("price_cents"))
    val upd = keys.filter(col("k") % 10 === 3)
      .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
        (col("k") * 41 % 1000000 + 100).as("price_cents"))
    val del = keys.filter(col("k") % 7 === 0)
      .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("price_cents"))
    val late = keys.filter(col("k") % 11 === 0)
      .select(col("k"), lit(0L).as("seq"), lit("U").as("op"),
        lit(999999999L).as("price_cents"))
    // batch 3 — the bucket-pruning regime: a NARROW update confined to 2
    // of the 32 buckets (live keys only: k%50==0 never collides with the
    // %10≡3 updates or the %7 deletes), so the fold must read and rewrite
    // 2/32 of the key space, not all of it
    val narrow = keys.filter(bkt < 2 && col("k") % 50 === 0 &&
        col("k") % 7 =!= 0)
      .select(col("k"), lit(4L).as("seq"), lit("U").as("op"),
        (col("k") * 43 % 1000000 + 100).as("price_cents"))
    val nNarrow = narrow.count()
    val batches = Seq(
      ("insert 2M keys (32/32 buckets)", ins),
      ("update 10% (32/32 buckets)", upd),
      ("delete 14% + late seq-0 update 9% (32/32)", del.unionByName(late)),
      (s"narrow update $nNarrow keys (2/32 buckets)", narrow))
    val ms = batches.zipWithIndex.map { case ((note, b), i) =>
      val (_, m) = measure(spark, s"batch $i: $note",
        "within-batch max_by + merge vs TOUCHED buckets of latest version") {
        StreamCdc.applyBatch(b, i.toLong, root)
        spark.read.parquet(s"$root/v$i/data").count()
      }
      m
    }
    // bytes actually written per version — the write-amplification claim
    // measured on disk, not inferred from shuffle counters
    val hconf = spark.sessionState.newHadoopConf()
    def dataBytes(v: Int): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$root/v$v/data")
      p.getFileSystem(hconf).getContentSummary(p).getLength
    }
    val vBytes = (0 to 3).map(dataBytes)
    val v3Dirs = new java.io.File(s"$root/v3/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    val live = StreamCdc.readLatest(spark, root)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nLive = live.count()
    // analytic expectation: every key survives except the %7 deletes
    // (the late seq-0 updates never resurrect — seq 0 < any snapshot seq;
    // batch 3's narrow updates touch only never-deleted keys)
    val nDel = (nKeys + 6) / 7
    val expectLive = nKeys - nDel
    // late-update rejection on the %11 & !%7 & !%10==3 slice: price must
    // still be the INSERT's, never 999999999
    val lateWrong = live.filter(col("k") % 11 === 0 &&
      col("price_cents") === 999999999L).count()
    // the narrow updates must be visible in the latest read (buckets 0-1
    // resolve to v3, the other 30 to v2 — the manifest-resolved union)
    // bucket predicate included: without it, keys whose INSERT price
    // collides with the batch-3 formula (k*37 ≡ k*43 mod 1e6) overcount
    val narrowSeen = live.filter(bkt < 2 &&
      col("k") % 50 === 0 && col("k") % 7 =!= 0 &&
      col("price_cents") === col("k") * 43 % 1000000 + 100).count()
    live.unpersist(blocking = false)
    val sb = new StringBuilder
    sb ++= s"\nChangelog over $nKeys keys, folded by " +
      s"`StreamCdc.applyBatch` into the $nBuckets-bucket versioned layout " +
      "(within-batch latest-wins + full-outer seq-merge against the " +
      "TOUCHED buckets of the latest predecessor version — never the " +
      "changelog history, never untouched buckets):\n\n"
    sb ++= "| batch | rows in | snapshot rows written | wall s " +
      "| shuffle R MB | shuffle W MB | parquet MB written |\n"
    sb ++= "| --- | ---: | ---: | ---: | ---: | ---: | ---: |\n"
    val nLate = (nKeys + 10) / 11 // ceil: k=0 is a carrier, like nDel's form
    val rowsIn = Seq(nKeys, nKeys / 10, nDel + nLate, nNarrow)
    ms.zipWithIndex.foreach { case (m, i) =>
      sb ++= f"| ${m.stage} | ${rowsIn(i)} | ${m.outRows} | ${m.seconds}%.1f " +
        f"| ${m.shuffleReadMB}%.1f | ${m.shuffleWriteMB}%.1f " +
        f"| ${vBytes(i) / 1048576.0}%.1f |\n"
    }
    sb ++= s"\nLive table after batch 3: $nLive rows (analytic $expectLive " +
      s"— every key minus the $nDel deletes; the late seq-0 updates were " +
      s"rejected on all $nLate carriers, $lateWrong leaks; all $narrowSeen " +
      s"narrow updates visible through the manifest-resolved read). " +
      s"Batches 0-2 touch every bucket (uniformly-hashed keys ≫ $nBuckets " +
      "— the honest bound: pruning helps exactly when a batch's key " +
      "spread is below the bucket count, same as a table format's " +
      "file-level MERGE), but batch 3's 2/32-bucket update wrote " +
      f"${vBytes(3) / 1048576.0}%.1f MB vs batch 2's " +
      f"${vBytes(2) / 1048576.0}%.1f MB (${v3Dirs} bucket dirs on disk) — " +
      "per-version write ∝ touched buckets, the r16 verdict's O(keys) " +
      "write-amplification finding closed. Old versions age out via " +
      "`StreamCdc.vacuum`, which keeps exactly the bucket dirs surviving " +
      "manifests still reference.\n"
    require(nLive == expectLive,
      s"live count $nLive != analytic $expectLive — CDC fold broken at scale")
    require(lateWrong == 0L,
      s"$lateWrong late seq-0 updates overwrote newer state")
    require(narrowSeen == nNarrow,
      s"narrow-bucket updates visible: $narrowSeen of $nNarrow — manifest read broken")
    require(v3Dirs <= 2, s"narrow batch wrote $v3Dirs bucket dirs, expected <= 2")
    require(vBytes(3) * 5 < vBytes(2),
      s"narrow batch wrote ${vBytes(3)} B vs full fold ${vBytes(2)} B — pruning ineffective")
    sb.toString
  }
}
