package graft.ingestion

import java.io.{File, FileOutputStream}
import java.sql.Timestamp

import graft.SparkSpecBase
import model.IngestionConfig

/** Scale-shape check for the ingestion pipeline: N ZIPs must process in
  * ~linear time with correct counts (catches an accidental quadratic or a
  * driver-side per-file loop hiding in the dataflow). 300 ZIPs is small
  * enough for CI and large enough that an O(N²) stage would dominate. */
class PipelineScaleSpec extends SparkSpecBase {

  private val ts = new Timestamp(1767225600000L)

  test("300-ZIP corpus: counts correct, one batch, bounded wall time") {
    val in = scratch("scale-in")
    (0 until 300).foreach { i =>
      val b = F300(i)
      val bytes = Fixtures.zipOf(b)
      val f = new FileOutputStream(new File(in, Fixtures.zipName(b)))
      try f.write(bytes) finally f.close()
    }
    val wh = scratch("scale-wh")
    val t0 = System.nanoTime()
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts)
    val wfRows = spark.read.parquet(s"$wh/${model.Zone.Workflow}").count()
    val secs = (System.nanoTime() - t0) / 1e9
    val C = MetadataPipeline.Counts
    assert(n(C.DeadLetter) === 0)
    assert(n(C.Workflow) === 300)
    assert(wfRows === 300)
    assert(spark.read.parquet(s"$wh/${model.Zone.Raw}").count() === 300)
    // generous CI bound; an O(N^2) explode/join would blow way past this
    assert(secs < 120, s"pipeline took $secs s for 300 ZIPs")

    // re-run: all 300 gated out, nothing appended
    val n2 = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts)
    assert(n2(C.Workflow) === 0)
    assert(C.Gates.map(n2).sum === 300)
    assert(n2(model.SkipGate.AlreadyUploaded) === 300)
  }

  private def F300(i: Int): Fixtures.Book =
    Fixtures.Book(Fixtures.isbn(1000 + i), s"Book $i",
      Seq("Fiction", "Biography", "Poetry", "Children", "Reference")(i % 5),
      s"Author $i", 100 + i, (0 to i % 4).map(c => s"Chapter $c"))
}
