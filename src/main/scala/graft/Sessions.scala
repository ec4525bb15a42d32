package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Every entry point (Verify, Bench, tests, CLI) builds its session here so
  * the oracle-critical settings are pinned in exactly one place:
  *
  *  - UTC session timezone (timestamp determinism vs the DuckDB oracle);
  *  - AQE on (runtime coalescing / skew-join splitting — the 100 TB posture);
  *  - shuffle partitions sized to the local core count, NOT the 200
  *    default (on a real cluster this is set per-job to ~2-3x total cores);
  *  - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns load as epoch-nano
  *    longs instead of throwing (Spark has no nanos timestamp); TsNorm then
  *    normalizes that long — or a TIMESTAMP / TIMESTAMP_NTZ column, the
  *    other encodings fixtures arrive in — at the loader boundary;
  *  - parallel file listing at one task per core (the shuffle-partition
  *    count), NOT the 10,000 default: a listing of more than 32 paths —
  *    each micro-batch of a file stream source past 32 files lists its
  *    files again — runs as a Spark job, which otherwise gets one task per
  *    path. It stays a distributed job on a cluster.
  */
object Sessions {
  /** Effective local core count — `$SPARK_GRAFT_CPUS`, default the
    * host's available processors. */
  private def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Default shuffle partitions SCALE WITH the effective core count
    * (r17 verdict #1's wart: a pinned 32 was tuned to the 32-thread
    * harness and made an 8-cpu run shuffle into 4x more partitions than
    * cores) — one partition per core locally; on a real cluster this is
    * set per-job to ~2-3x total cores and AQE coalesces from there. */
  def builder(master: String = s"local[$envCpus]",
              shufflePartitions: Int = envCpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(graft.functions.VectorExprs.register)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // pinned explicitly: hive jars ARE on the unmanaged classpath, and a
      // hive catalog would put a Derby metastore lock under the repo root —
      // making two concurrent JVMs (Bench alongside Verify) mutually
      // exclusive. The engine needs no persistent catalog: bucketed-table
      // DDL re-registers per session from the _built fixture markers.
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shuffle-partition count for a STATEFUL streaming job. Stateful
    * streaming partitions are state-store instances, pinned for the life of
    * the checkpoint (HDFSBackedStateStoreProvider/RocksDB keep one store
    * per partition) — so they must be sized to the STATE key space, not to
    * the OLAP scan default:
    *
    *  - too many: thousands of near-empty state stores, each paying
    *    snapshot/maintenance overhead per micro-batch (the 200-default
    *    failure mode for a 150-key job);
    *  - too few: state keys per partition outgrow executor memory (or a
    *    RocksDB instance), and ONE hot store serializes the batch.
    *
    * `keysPerPartition` is the real knob: how many keys one store should
    * hold (bounded by executor memory / state row size; 10k–1M typical).
    * The result is clamped to [1, 8 × totalCores] — beyond a few stores
    * per core there is no parallelism left to win, only maintenance to pay.
    * AvailableNow/foreachBatch jobs size the same way (the scoped child
    * sessions in StreamingQ pin 8 for the 150–1500-key harness: 1500/200 →
    * 8 under a 32-thread local master). */
  def statefulShufflePartitions(expectedKeys: Long, keysPerPartition: Long,
                                totalCores: Int): Int = {
    require(expectedKeys >= 0 && keysPerPartition > 0 && totalCores > 0)
    val byState = math.ceil(expectedKeys.toDouble / keysPerPartition).toLong
    math.max(1L, math.min(byState, 8L * totalCores)).toInt
  }
}
