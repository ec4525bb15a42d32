package graft.ingestion

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import org.apache.commons.io.FilenameUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import model._

/** ZIP-entry explode (SURVEY.md A3/B47): one ZIP → N records, one per
  * non-directory entry (reference MetadataIngestionServiceImpl.java:137–152).
  *
  * Implemented as a typed `flatMap` — a generator runs inside the scan stage
  * (iterator-pipelined, no shuffle), which is the Spark-native equivalent of
  * the reference's single-pass `ZipInputStream` loop. A corrupt or empty
  * archive yields one error row (EXTRACT_ZIP ≙ :155–158) instead of failing
  * the job — per-unit error isolation (A15).
  *
  * The pipeline calls [[explodeOne]] once per ZIP inside its fate kernel
  * (`MetadataPipeline.zipFate`); [[entries]] is the record-level form.
  */
object ZipExplode {

  /** Explode `(path, content)` binary rows into per-entry rows.
    * Expects columns: `path`, `content` (from the binaryFile source). */
  def entries(spark: SparkSession, zips: DataFrame): Dataset[ZipEntryRow] = {
    import spark.implicits._
    zips
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) => explodeOne(path, content) }
  }

  /** Pure per-ZIP explode — also the JVM-oracle reimplementation used by the
    * property tests (SURVEY.md §5.2-2). */
  def explodeOne(path: String, content: Array[Byte]): Seq[ZipEntryRow] = {
    val zipName = FilenameUtils.getName(path)
    val isbn = extractIsbn(zipName).getOrElse("")
    def row(entry: String, key: String, bytes: Array[Byte], err: Option[String]) =
      ZipEntryRow(path, zipName, isbn, entry, key, bytes, err)
    try {
      val zin = new ZipInputStream(new ByteArrayInputStream(content))
      val out = Iterator
        .continually(zin.getNextEntry)
        .takeWhile(_ != null)
        .filterNot(_.isDirectory) // skip non-data entries (ref :142)
        .map { e =>
          val bytes = zin.readAllBytes()
          // record key = entry basename without extension (ref :146)
          row(e.getName, FilenameUtils.getBaseName(e.getName), bytes, None)
        }
        .toVector
      if (out.isEmpty) Seq(row("", "", Array.emptyByteArray, Some(ErrorCode.ExtractZip)))
      else out
    } catch {
      case _: Exception =>
        Seq(row("", "", Array.emptyByteArray, Some(ErrorCode.ExtractZip)))
    }
  }

  /** A2: ISBN-13 from the ZIP filename (reference delegates to the utils
    * library; contract at MetadataIngestionExecuter.java:56–62). Tolerates
    * surrounding junk and whitespace (ref :96 uses trim()). */
  def extractIsbn(zipName: String): Option[String] =
    "(97[89][0-9]{10})".r.findFirstIn(zipName.trim)
}
