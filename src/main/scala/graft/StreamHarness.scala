package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one harness behind every bounded micro-batch run — the catalog's
  * `q_stream_*` entries, Bench's harness floors and the scale soak's
  * stream legs (the paper's polled directory read in bounded batches, as a
  * file-stream source with `foreachBatch`). Three parts:
  *
  *  - a SPLIT SOURCE: each split is one parquet file `batch<k>.parquet`
  *    with a pinned modification time, read one file per micro-batch
  *    oldest first, so micro-batch k delivers exactly split k;
  *  - a SCRATCH ROOT per run for the sinks and the checkpoint;
  *  - a BOUNDED RUNNER: `Trigger.AvailableNow`, waited on for at most
  *    [[TimeoutMs]]. A query still running then is stopped and thrown,
  *    never read — a partial sink would surface as a baffling
  *    nondeterministic oracle mismatch. A query that failed rethrows its
  *    `StreamingQueryException`.
  */
object StreamHarness {
  /** The wait bound of every bounded run. */
  val TimeoutMs: Long = 300000L

  /** Write split k of `parts` as the single file `dir/batch<k>.parquet`
    * with modification time (k+1)·10^6 ms — the file-stream source orders
    * files by modification time, so batch order is deterministic. */
  def writeSplit(dir: File, parts: Seq[DataFrame]): Unit =
    parts.zipWithIndex.foreach { case (df, k) =>
      val tmp = new File(dir, "_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(dir, s"batch$k.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1000000L * (k + 1))
      Fs.deleteRecursively(tmp)
    }

  /** The split files under `dir` as a stream, one file per micro-batch.
    * The schema is explicit: inferring it from the files can launch a job,
    * which would land in the measured run. */
  def readSplit(s: SparkSession, dir: File, schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(dir.getAbsolutePath)

  /** [[readSplit]] over `dir`, writing `parts` there first unless an
    * earlier call (in any JVM) already did ([[BuildOnce]]). */
  def splitSource(s: SparkSession, dir: File, schema: StructType)
                 (parts: => Seq[DataFrame]): DataFrame = {
    BuildOnce(dir)(writeSplit(dir, parts))
    readSplit(s, dir, schema)
  }

  /** `target/qscratch/<tag>_<sf>`: the home of the build-once split dirs,
    * keyed by the fixture dir `sf`. */
  def scratchDir(tag: String, sf: String): File =
    new File(s"target/qscratch/${tag}_${sf.replaceAll("[^a-zA-Z0-9.]", "_")}")

  /** `scratchDir(tag, sf)` + `_p<pid>`, emptied and created. Pid-scoped:
    * this root is DELETED and rebuilt per invocation (the sink is the
    * query's output), so unlike the build-once fixtures it can never be
    * shared — a concurrent Bench ∥ Verify pair would delete each other's
    * in-flight sink. Dirs die with `sbt clean`. */
  def scratchRoot(tag: String, sf: String): File = {
    val root = new File(s"${scratchDir(tag, sf).getPath}_p${ProcessHandle.current().pid()}")
    Fs.deleteRecursively(root)
    root.mkdirs()
    root
  }

  /** Start `w` with `Trigger.AvailableNow` and return the query once it
    * has finished (see the object doc for the bound and the failure). */
  private def run(w: DataStreamWriter[Row], name: String): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(TimeoutMs)) {
      q.stop()
      throw new IllegalStateException(s"streaming query $name still running " +
        s"after ${TimeoutMs / 1000} s — refusing to read a partial sink")
    }
    q
  }

  /** [[run]] `df` through a `foreachBatch` body, checkpointed at
    * `root/_ckpt`. */
  def foreachBatch(df: DataFrame, root: File)
                  (body: (DataFrame, Long) => Unit): StreamingQuery =
    run(df.writeStream
      .option("checkpointLocation", new File(root, "_ckpt").getPath)
      .foreachBatch(body), root.getName)

  /** [[run]] `df` into a memory sink named `name` and return its contents. */
  def toTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val s = df.sparkSession
    s.catalog.dropTempView(name)
    run(df.writeStream.format("memory").queryName(name).outputMode(mode), name)
    s.table(name)
  }
}
