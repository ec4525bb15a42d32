package graft.ingestion

import java.sql.Timestamp

import graft.SparkSpecBase
import model.IngestionConfig

/** Operational edges: a poll against an empty or missing input directory
  * must be a clean no-op (the reference's executer just finds no files),
  * not an analysis error. */
class EmptyInputSpec extends SparkSpecBase {
  private val ts = new Timestamp(1767225600000L)
  private val C = MetadataPipeline.Counts

  private def zonesIn(wh: String): Seq[String] =
    Option(new java.io.File(wh).list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("empty input directory → zero-row outputs, no sink dirs created") {
    val in = scratch("empty-in")
    val wh = scratch("empty-wh")
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts)
    assert(n(C.Workflow) === 0)
    assert(n(C.DeadLetter) === 0)
    assert(C.Gates.map(n).sum === 0)
    assert(zonesIn(wh) === Nil)
  }

  test("missing input directory → clean empty batch") {
    val wh = scratch("missing-wh")
    val cfg = IngestionConfig(scratch("missing-in") + "/does-not-exist", wh)
    val n = MetadataPipeline.runBatch(spark, cfg, ts)
    assert(n(C.Workflow) === 0)
    assert(zonesIn(wh) === Nil)
  }
}
