package graft.operators

import org.apache.spark.sql.functions._

import graft.{CurateCli, SparkSpecBase}

/** End-to-end golden test for [[graft.CurateCli]] (r8 verdict #8): a
  * fixture corpus with one planted instance of every pathology the
  * pipeline curates — exact dups, a near-dup, a contained excerpt,
  * boilerplate siblings — must come out as exactly the clean base docs,
  * through the REAL stage checkpoints on disk. Then: a re-run over the
  * completed checkpoints is a no-op (restart idempotence), and an
  * incremental run gated on the first run's history curates only the
  * genuinely-new docs. */
class CurateCliSpec extends SparkSpecBase {

  // 40 tokens of 10 chars ≈ 439 chars ⇒ n_chars·2500 ≥ 1e6: every doc
  // clears the quality-sample threshold DETERMINISTICALLY (the golden
  // outcome must not depend on hash draws)
  private def words(seed: String, n: Int = 40): String =
    (0 until n).map(j => f"w${seed}x$j%02dpad".padTo(10, 'z')).mkString(" ")

  private def fixture(): Seq[(Long, String)] = {
    val base = (0L until 10L).map(i => (i, words(s"b$i")))
    val exactDups = Seq(10L -> base(0)._2, 11L -> base(0)._2)
    // near dup: one token of doc 1 mutated (Jaccard ≈ 35/41 ≈ 0.85 > 0.8)
    val near = {
      val tk = base(1)._2.split(" ")
      tk(20) = "MUTATEDzzz"
      Seq(12L -> tk.mkString(" "))
    }
    // contained: a verbatim 15-token excerpt of doc 2 (containment 1.0;
    // shorter side ⇒ dropped)
    val contained = Seq(13L -> base(2)._2.split(" ").slice(5, 20).mkString(" "))
    // boilerplate: 3 docs sharing 32 leading tokens (2 of 3 windows
    // boiler ⇒ 666666 ppm > the 500000 gate), unique tails
    val shared = words("boil", 32)
    val boiler = (14L to 16L).map(i => (i, shared + " " + words(s"t$i", 8)))
    base ++ exactDups ++ near ++ contained ++ boiler
  }

  private def writeDocs(rows: Seq[(Long, String)], dir: String): String = {
    spark.createDataFrame(rows).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("golden corpus curates to exactly the clean base docs, via real stage checkpoints") {
    val in = writeDocs(fixture(), scratch("curate_in"))
    val out = scratch("curate_out")
    val counts = CurateCli.run(spark, in, out).toMap
    // 17 docs in; exact pass drops the 2 byte-identical copies
    assert(counts("01_exact") === 15L)
    // near-dup clusters {1, 12} → min-id survivor 1
    assert(counts("02_neardup") === 14L)
    // the 15-token excerpt is contained in doc 2 and is the shorter side
    assert(counts("03_containment") === 13L)
    // the 3 boilerplate siblings exceed the 50% boiler gate; the P1/P99
    // clip keeps everything at this scale (exact discrete percentiles:
    // ceil(0.01·13) = 1 ⇒ lo = min length) and every survivor clears the
    // sample threshold by construction
    assert(counts("04_quality") === 10L)
    assert(counts("05_split") === 10L)
    assert(counts("06_packed") === 10L)
    val survivors = spark.read.parquet(s"$out/04_quality.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(survivors === (0L until 10L).toArray,
      "the final survivor set must be exactly the clean base docs")
    // every stage checkpoint is on disk (the restart surface)
    Seq("01_exact", "02_neardup", "03_containment", "04_quality",
      "05_split", "06_packed", "07_release_audit").foreach { s =>
      assert(new java.io.File(s"$out/$s.parquet/_SUCCESS").exists(),
        s"stage $s left no checkpoint")
    }
    // the release audit shipped clean: 5 checks, 0 violations
    assert(counts("07_audit_failures") === 0L)
    val audit = spark.read.parquet(s"$out/07_release_audit.parquet")
    assert(audit.count() === 5L)
    assert(audit.filter(!col("pass")).isEmpty)
    // packing: every survivor lands in exactly one (split, group, bin)
    val packed = spark.read.parquet(s"$out/06_packed.parquet")
    assert(packed.select(col("doc_id")).distinct().count() === 10L)

    // restart idempotence: a second run over completed checkpoints is a
    // pure read — same counts, checkpoint files untouched
    val marker = new java.io.File(s"$out/01_exact.parquet/_SUCCESS")
    val mtime = marker.lastModified()
    val counts2 = CurateCli.run(spark, in, out).toMap
    assert(counts2 === counts)
    assert(marker.lastModified() === mtime,
      "a completed stage was rebuilt on restart")
  }

  test("incremental mode: a prior run's history gates out already-curated docs") {
    val in1 = writeDocs(fixture(), scratch("curate_inc_in1"))
    val out1 = scratch("curate_inc_out1")
    CurateCli.run(spark, in1, out1)
    // batch 2: the 10 base docs again (history dups, new ids) + 2 new
    val batch2 = fixture().take(10).zipWithIndex
      .map { case ((_, t), i) => (100L + i, t) } ++
      Seq(200L -> words("new200"), 201L -> words("new201"))
    val in2 = writeDocs(batch2, scratch("curate_inc_in2"))
    val out2 = scratch("curate_inc_out2")
    val counts = CurateCli.run(spark, in2, out2,
      priorOutDir = Some(out1)).toMap
    // the bloom gate (result ≡ anti-join vs history) removes all 10
    // replayed docs before the exact pass even runs
    assert(counts("01_exact") === 2L)
    assert(counts("06_packed") === 2L)
    val kept = spark.read.parquet(s"$out2/04_quality.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(kept === Array(200L, 201L))
  }

  test("chained batches accumulate history: a batch-1 doc re-sent in batch 3 stays gated") {
    val in1 = writeDocs(fixture().take(10), scratch("curate_chain_in1"))
    val out1 = scratch("curate_chain_out1")
    CurateCli.run(spark, in1, out1)
    // batch 2: all-new docs — its SURVIVORS share nothing with batch 1
    val in2 = writeDocs(Seq(300L -> words("c300"), 301L -> words("c301")),
      scratch("curate_chain_in2"))
    val out2 = scratch("curate_chain_out2")
    CurateCli.run(spark, in2, out2, priorOutDir = Some(out1))
    // batch 3 replays one b1 doc and one b2 doc (fresh ids) + one new.
    // Gating on out2's survivors alone would re-admit the b1 doc (the r9
    // review bug); the cumulative 01_history index must still hold it.
    val in3 = writeDocs(Seq(400L -> fixture().head._2, 401L -> words("c300"),
      402L -> words("c402")), scratch("curate_chain_in3"))
    val out3 = scratch("curate_chain_out3")
    val counts = CurateCli.run(spark, in3, out3,
      priorOutDir = Some(out2)).toMap
    assert(counts("01_exact") === 1L,
      "history forgot an earlier batch — a replayed doc passed the gate")
    val kept = spark.read.parquet(s"$out3/04_quality.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(kept === Array(402L))
  }

  test("an outDir refuses to resume a different run instead of returning stale checkpoints") {
    val inA = writeDocs(fixture().take(3), scratch("curate_fp_inA"))
    val inB = writeDocs(fixture().take(5), scratch("curate_fp_inB"))
    val out = scratch("curate_fp_out")
    CurateCli.run(spark, inA, out)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run(spark, inB, out)
    }
    assert(e.getMessage.contains("different run"))
  }

  test("an outDir fingerprinted before the settings became a fixed constant still resumes") {
    val in = writeDocs(fixture().take(3), scratch("curate_fpold_in"))
    val out = scratch("curate_fpold_out")
    // the fingerprint an earlier build wrote for these settings: the
    // settings' hash is unchanged, so this run is taken as the same run
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "_graft_run.json"),
      s"""{"in":"$in","prior":"","cfg":-334353474}""" + "\n")
    assert(CurateCli.run(spark, in, out).toMap.apply("01_exact") === 3L)
  }

  test("release audit FAILS on doctored output — an audit that cannot fail is not an audit") {
    val s = spark
    import s.implicits._
    // duplicate sha (exact-dedup postcondition broken) + empty text +
    // an off-domain split label
    val bad = Seq(
      (1L, "some text here", "a" * 64, 14L, "train"),
      (2L, "other text two", "a" * 64, 14L, "val"), // dup sha
      (3L, "", "b" * 64, 0L, "test"), // empty text
      (4L, "fine doc words", "c" * 64, 14L, "holdout")) // bad split
      .toDF("doc_id", "text", "sha", "n_chars", "split")
    // one bin whose sum minus its largest doc exceeds the budget
    val badPacked = Seq(
      (1L, "train", 0L, 0L, 400L),
      (2L, "train", 0L, 0L, 400L),
      (3L, "train", 0L, 0L, 400L))
      .toDF("doc_id", "split", "pack_group", "bin", "n_toks")
    val audit = CurateCli.releaseAudit(bad, badPacked, packBudget = 512L)
      .collect().map(r => r.getAs[String]("check") -> r.getAs[Boolean]("pass"))
      .toMap
    assert(audit("sha_unique") === false)
    assert(audit("text_nonempty") === false)
    assert(audit("split_domain") === false)
    assert(audit("pack_bins_within_budget") === false)
    assert(audit("sha_wellformed") === true) // shas are well-formed hex
  }
}
