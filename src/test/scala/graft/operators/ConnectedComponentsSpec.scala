package graft.operators

import graft.SparkSpecBase

/** ConnectedComponents: pointer-jumping convergence + fail-loud contract
  * (SURVEY.md §2 B50 canonicalization; VERDICT r2 item 8). */
class ConnectedComponentsSpec extends SparkSpecBase {
  private val s = spark
  import s.implicits._

  /** Path graph 0-1-2-…-n: diameter n. Plain neighbor-min needs ~n rounds;
    * pointer jumping must close it in O(log n). */
  private def path(n: Int) =
    (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")

  test("path of length 256 converges in O(log n) rounds, all labels 0") {
    val res = ConnectedComponents.run(path(256))
    // log2(256) = 8; allow the constant for the neighbor+jump interleave
    assert(res.rounds <= 12, s"took ${res.rounds} rounds — pointer jump not effective")
    val labels = res.labels.collect()
    assert(labels.length == 257)
    assert(labels.forall(_.getLong(1) == 0L))
  }

  test("disjoint components get their own min representative") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("a", "b")
    val got = ConnectedComponents.run(edges).labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("fails loudly when the iteration cap is too low") {
    intercept[IllegalStateException] {
      ConnectedComponents.run(path(64), maxIter = 2)
    }
  }

  /** Run `body` with the session's reliable-checkpoint mode on (and
    * `dir` as its checkpoint dir, if given), restoring the conf and the
    * context's dir after — the PageRankSpec pattern. */
  private def withReliable[T](dir: Option[String])(body: => T): T = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    spark.conf.set(Materialize.ReliableKey, "true")
    dir.foreach(spark.conf.set(Materialize.DirKey, _))
    try body
    finally {
      spark.conf.unset(Materialize.ReliableKey)
      spark.conf.unset(Materialize.DirKey)
      sc.setCheckpointDir(prevDir.orNull)
    }
  }

  test("reliable mode without any checkpoint dir fails loudly") {
    // silently defaulting to a driver-local path would defeat the point of
    // reliable checkpointing (surviving executor loss on a real cluster
    // needs a distributed-FS dir the CALLER chooses). Runs before the
    // reliable-mode test below, which is what sets the context's dir.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      intercept[IllegalArgumentException] {
        withReliable(None)(ConnectedComponents.run(path(4)))
      }
    } else cancel("checkpoint dir already set on the shared context")
  }

  test("reliable-checkpoint mode produces identical labels") {
    val dir = scratch("cc_checkpoint_spec")
    val labels = withReliable(Some(dir)) {
      ConnectedComponents.run(path(32)).labels.collect().map(_.getLong(1)).toSet
    }
    assert(labels === Set(0L))
    assert(new java.io.File(dir).list().nonEmpty,
      "reliable mode left no checkpoint files in the configured dir")
  }
}
