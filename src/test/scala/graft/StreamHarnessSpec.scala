package graft

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The streaming harness on its own: a split source delivers split k as
  * micro-batch k, a failing batch body fails the run loudly, and a
  * scratch root starts empty on every call. */
class StreamHarnessSpec extends SparkSpecBase {

  /** Three splits of a small in-memory frame, the `id % 3` rule. */
  private def splits(dir: File) = {
    val df = spark.range(0, 30).select(col("id"), (col("id") * 10).as("v"))
    StreamHarness.splitSource(spark, dir, df.schema)(
      (0 until 3).map(k => df.filter(col("id") % 3 === k)))
  }

  test("micro-batch k delivers exactly split k, in order") {
    val root = new File(scratch("harness_order"))
    val seen = mutable.ArrayBuffer[(Long, Set[Long])]()
    val q = StreamHarness.foreachBatch(splits(new File(root, "src")), root) { (b, id) =>
      seen += id -> b.select("id").collect().map(_.getLong(0)).toSet
    }
    assert(seen.toSeq === (0 until 3).map(k =>
      k.toLong -> (0L until 30L).filter(_ % 3 == k).toSet))
    assert(q.recentProgress.map(_.numInputRows).toSeq === Seq(10L, 10L, 10L))
    assert(!q.isActive)
  }

  test("a batch body that throws makes the runner throw the query's error") {
    val root = new File(scratch("harness_fail"))
    val e = intercept[StreamingQueryException] {
      StreamHarness.foreachBatch(splits(new File(root, "src")), root) { (_, id) =>
        if (id == 1) throw new IllegalStateException("planted failure in batch 1")
      }
    }
    assert(e.getMessage.contains("planted failure in batch 1"), e.getMessage)
  }

  test("the scratch root is emptied on each call") {
    val first = StreamHarness.scratchRoot("harness_spec", "sf_test")
    assert(first.getName.endsWith(s"_p${ProcessHandle.current().pid()}"))
    new File(first, "leftover").mkdirs()
    java.nio.file.Files.write(new File(first, "leftover/x").toPath, Array[Byte](1))
    val again = StreamHarness.scratchRoot("harness_spec", "sf_test")
    assert(again.getAbsolutePath === first.getAbsolutePath)
    assert(again.isDirectory && again.list().isEmpty)
    Fs.deleteRecursively(again)
  }
}
