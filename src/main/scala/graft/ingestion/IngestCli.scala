package graft.ingestion

import org.apache.spark.sql.streaming.Trigger

import graft.Sessions
import model.IngestionConfig

/** A20/A16: operational entry points for the ingestion pipeline.
  *
  *   sbt "runMain graft.ingestion.IngestCli <inputDir> <warehouseDir>"            # one batch pass (≙ JMX manual trigger)
  *   sbt "runMain graft.ingestion.IngestCli <inputDir> <warehouseDir> --stream"   # 10 s poll loop (≙ the Quartz cron, alfresco-global.properties:7)
  *   sbt "runMain graft.ingestion.IngestCli <inputDir> <warehouseDir> --once"     # streaming one-shot (Trigger.AvailableNow + checkpoint)
  */
object IngestCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IngestCli <inputDir> <warehouseDir> [--stream|--once]")
    val cfg = IngestionConfig(inputDir = args(0), warehouseDir = args(1))
    val spark = Sessions.get()
    args.drop(2).headOption match {
      case Some("--stream") =>
        val q = MetadataPipeline.runStream(spark, cfg,
          Trigger.ProcessingTime(cfg.pollInterval))
        q.awaitTermination()
      case Some("--once") =>
        MetadataPipeline.runStream(spark, cfg, Trigger.AvailableNow())
          .awaitTermination()
      case _ =>
        // the poll returns the counts its one pass observed: printing them
        // runs no job
        val n = MetadataPipeline.runBatch(spark, cfg)
        val C = MetadataPipeline.Counts
        println(s"[ingest] workflow rows appended: ${n(C.Workflow)}")
        println(s"[ingest] dead-letter rows appended: ${n(C.DeadLetterAppended)} " +
          s"(dead letters in this poll: ${n(C.DeadLetter)})")
        println(s"[ingest] skipped by gates: ${C.Gates.map(n).sum} " +
          C.Gates.map(g => s"$g=${n(g)}").mkString("(", ", ", ")"))
    }
    spark.stop()
  }
}
