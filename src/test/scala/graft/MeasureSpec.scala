package graft

import org.apache.spark.sql.functions._

/** The measurement layer on its own: back-to-back measurements of one
  * action each see exactly that action's job and stage, with no sleep
  * between them, and shuffle bytes show up only where a shuffle runs. */
class MeasureSpec extends SparkSpecBase {

  test("20 back-to-back measurements each report exactly one job and one stage") {
    val sc = spark.sparkContext
    (1 to 20).foreach { i =>
      val (n, m) = Measure.during(spark)(sc.parallelize(1 to 10, 2).count())
      assert(n === 10L)
      assert((m.jobs, m.stages.size) === ((1, 1)), s"measurement $i")
      assert(m.stages.head.tasks === 2, s"measurement $i")
      assert(m.stages.head.job >= 0, s"measurement $i")
      assert(m.wallS > 0.0)
    }
  }

  test("a groupBy writes shuffle bytes where a narrow map writes none") {
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 7).as("k"), col("id"))
    val (_, narrow) = Measure.during(spark)(
      df.select(col("k") + 1).write.mode("overwrite").format("noop").save())
    val (_, wide) = Measure.during(spark)(
      df.groupBy("k").count().write.mode("overwrite").format("noop").save())
    assert(narrow.shuffleWriteBytes === 0L)
    assert(narrow.shuffleReadBytes === 0L)
    assert(wide.shuffleWriteBytes > 0L)
    assert(wide.stages.size >= 2)
  }
}
