package org.apache.spark.sql

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.internal.SQLConf

/** Access shim for graft's ingestion poll (the [[GraftInternalRows]]
  * precedent): the files a frame's file scans read, taken from the
  * `FileScanRDD` partitions under its physical plan. Planning lists
  * nothing the frame's source has not already listed, and no job runs.
  * Works on a batch `binaryFile` frame and on a stream's `foreachBatch`
  * frame, which is a LogicalRDD over the micro-batch's own scan RDD.
  * `Dataset.inputFiles` is no substitute: it spells paths as `file:///…`
  * URIs where the `path` column holds `file:/…`, and a `foreachBatch`
  * frame has none. */
object GraftScanFiles {

  /** One file of a scan: the path spelled as Hadoop's `Path.toString`,
    * which is how the `binaryFile` source fills its `path` column, its
    * length in bytes and the index of the scan partition that reads it. */
  final case class ScannedFile(path: String, length: Long, partition: Int)

  /** Every file the frame's file scans read, once per read: a path may
    * repeat when the source reads it twice. Empty for a frame with no file
    * scan. */
  def of(df: DataFrame): Seq[ScannedFile] = {
    val seen = mutable.Set[Int]()
    def scans(rdd: RDD[_]): Seq[FileScanRDD] =
      if (!seen.add(rdd.id)) Nil
      else rdd match {
        case f: FileScanRDD => Seq(f)
        case r => r.dependencies.flatMap(d => scans(d.rdd))
      }
    for {
      scan <- scans(df.queryExecution.toRdd)
      part <- scan.filePartitions
      file <- part.files.toSeq
    } yield ScannedFile(file.toPath.toString, file.length, part.index)
  }

  /** The session's `spark.sql.adaptive.advisoryPartitionSizeInBytes`. */
  def advisoryPartitionBytes(ss: SparkSession): Long =
    ss.asInstanceOf[classic.SparkSession].sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
