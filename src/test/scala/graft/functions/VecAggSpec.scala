package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** B48: the element-wise Aggregator vs a driver-side brute force. */
class VecAggSpec extends SparkSpecBase {

  private val k = 5
  private val data: Seq[(Int, Seq[Long])] = {
    val rnd = new scala.util.Random(7)
    (0 until 400).map(i => (i % 13, Seq.fill(k)(rnd.nextLong() % 1000)))
  }

  test("minVec == element-wise minimum per group") {
    val s = spark
    import s.implicits._
    val got = data.toDF("g", "v")
      .groupBy(col("g")).agg(VecAgg.minVec(spark, k)(col("v")).as("m"))
      .as[(Int, Seq[Long])].collect().toMap
    val want = data.groupBy(_._1).map { case (g, rows) =>
      g -> (0 until k).map(i => rows.map(_._2(i)).min)
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (g, m) => assert(got(g) === m, s"group $g") }
  }
}
