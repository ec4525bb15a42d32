package graft.operators

import graft.SparkSpecBase
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** B136 zone-map skipping: the layout claims the content-transparent
  * catalog oracle can't see — files actually skipped on a clustered
  * layout, graceful no-prune degradation on a scattered one, exact
  * boundary inclusion, loud staleness, and empty-range behavior. */
class ZoneMapSpec extends SparkSpecBase {

  /** 0..n-1 written as `files` range-clustered parquet files. */
  private def clustered(dir: String, n: Long, files: Int): Unit =
    spark.range(n)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(files, col("k"))
      .sortWithinPartitions(col("k"))
      .write.mode("overwrite").parquet(dir)

  /** `df` as `files` partitions sorted by `key`, partition i holding the
    * rows with key in [i·domain/files, (i+1)·domain/files) — an
    * equal-depth range layout for a key uniform over [0, domain), with the
    * boundaries fixed instead of sampled. */
  private def rangeFiles(df: DataFrame, key: Column, domain: Long, files: Int): DataFrame = {
    val keyed = df.withColumn("__k", key.cast("long"))
    val parts = keyed.rdd
      .keyBy(r => (r.getAs[Long]("__k") * files / domain).toInt)
      .partitionBy(new HashPartitioner(files)).values
    spark.createDataFrame(parts, keyed.schema)
      .sortWithinPartitions(col("__k")).drop("__k")
  }

  test("clustered layout: a narrow range opens a strict subset of files, content exact") {
    val dir = scratch("zonemap_clustered")
    clustered(dir, 16000L, files = 16)
    ZoneMap.build(spark, dir, "k")
    val (df, st) = ZoneMap.read(spark, dir, "k", lo = 4000L, hi = 4999L)
    assert(st.filesTotal === 16)
    // 1000 contiguous keys over 16 ~1000-key files: at most 3 can intersect
    assert(st.filesRead <= 3 && st.filesRead >= 1,
      s"expected a sharp prune, opened ${st.filesRead}/16")
    val got = df.select(col("k")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (4000L to 4999L), "pruned scan lost or invented rows")
    // boundary inclusion is exact: a range that IS one file's [min,max]
    // endpoints must include both endpoints
    val (edge, _) = ZoneMap.read(spark, dir, "k", lo = 4999L, hi = 5000L)
    assert(edge.select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(4999L, 5000L))
  }

  test("scattered layout degrades to a full scan with the same answer — pruning is never semantics") {
    val dir = scratch("zonemap_scattered")
    // round-robin: every file spans nearly the whole key range
    spark.range(16000L)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
      .repartition(16)
      .write.mode("overwrite").parquet(dir)
    ZoneMap.build(spark, dir, "k")
    val (df, st) = ZoneMap.read(spark, dir, "k", lo = 4000L, hi = 4999L)
    assert(st.filesRead === st.filesTotal,
      "a scattered layout should prune nothing (and must not pretend to)")
    assert(df.count() === 1000L)
  }

  test("disjoint range opens zero files and returns an empty frame with the table schema") {
    val dir = scratch("zonemap_empty")
    clustered(dir, 1000L, files = 4)
    ZoneMap.build(spark, dir, "k")
    val (df, st) = ZoneMap.read(spark, dir, "k", lo = 50000L, hi = 60000L)
    assert(st.filesRead === 0)
    assert(df.count() === 0L)
    assert(df.columns.toSeq === Seq("k", "s"))
  }

  test("staleness is loud: a rewrite after build fails the read instead of dropping rows") {
    val dir = scratch("zonemap_stale")
    clustered(dir, 1000L, files = 4)
    ZoneMap.build(spark, dir, "k")
    // layout changes under the index
    clustered(dir, 2000L, files = 8)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.read(spark, dir, "k", lo = 0L, hi = 10L)
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
    // rebuild heals
    ZoneMap.build(spark, dir, "k")
    val (df, st) = ZoneMap.read(spark, dir, "k", lo = 0L, hi = 10L)
    assert(df.count() === 11L && st.filesTotal === 8)
  }

  test("two-key stats over a z-ordered layout: conjunctive prune, single-sort comparison measured") {
    // the B58 composition: a z-interleaved layout keeps files tight in
    // BOTH dimensions, so a two-range predicate prunes at file level; a
    // single-sort layout clusters only its sort key — the second range
    // cannot prune there (every file spans ~the full b-domain)
    val n = 32768L
    val base = spark.range(n).select(
      (col("id") % 256L).as("a"),
      ((col("id") / 256L).cast("long") % 128L).as("b"),
      col("id").as("v"))
    // both layouts cut at explicit range boundaries (repartitionByRange's
    // boundary sample is seeded by the RDD id, so its files — and the
    // counts compared below — shifted with how many RDDs the JVM had made)
    val zdir = scratch("zonemap_z")
    rangeFiles(base, ZOrder.interleave2(col("a"), col("b")), domain = n, files = 16)
      .write.mode("overwrite").parquet(zdir)
    ZoneMap.build(spark, zdir, Seq("a", "b"))
    val sdir = scratch("zonemap_sorted")
    rangeFiles(base, col("a"), domain = 256L, files = 16)
      .write.mode("overwrite").parquet(sdir)
    ZoneMap.build(spark, sdir, Seq("a", "b"))
    val ranges = Seq(("a", 32L, 95L), ("b", 16L, 47L)) // 25% × 25% of the grid
    val (zdf, zst) = ZoneMap.read(spark, zdir, ranges)
    val (sdf, sst) = ZoneMap.read(spark, sdir, ranges)
    val expect = base.filter(col("a").between(32, 95) && col("b").between(16, 47))
      .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
    assert(zdf.select(col("v")).collect().map(_.getLong(0)).sorted.toSeq === expect)
    assert(sdf.select(col("v")).collect().map(_.getLong(0)).sorted.toSeq === expect)
    assert(zst.filesRead < zst.filesTotal,
      s"z-ordered layout should prune: ${zst.filesRead}/${zst.filesTotal}")
    assert(zst.filesRead <= sst.filesRead,
      s"z-order 2-dim prune (${zst.filesRead}) lost to single-sort (${sst.filesRead})")
    // the sharp case: a SECOND-dimension-only predicate. The a-sort cannot
    // prune at all (every file spans ~the full b-domain); the z-interleave
    // keeps b tight per file, so the same stats table skips most files —
    // this is the claim that justifies z-ordering a layout at all
    val bOnly = Seq(("b", 16L, 47L))
    val (zbDf, zbSt) = ZoneMap.read(spark, zdir, bOnly)
    val (sbDf, sbSt) = ZoneMap.read(spark, sdir, bOnly)
    val expectB = base.filter(col("b").between(16, 47))
      .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
    assert(zbDf.select(col("v")).collect().map(_.getLong(0)).sorted.toSeq === expectB)
    assert(sbDf.select(col("v")).collect().map(_.getLong(0)).sorted.toSeq === expectB)
    assert(sbSt.filesRead === sbSt.filesTotal,
      "the a-sorted layout should be unable to prune a b-only range")
    assert(zbSt.filesRead < sbSt.filesRead,
      s"z-order b-only prune (${zbSt.filesRead}) must beat the sort's ${sbSt.filesRead}")
    info(s"2-dim box: z-order ${zst.filesRead}/16 files, a-sorted ${sst.filesRead}/16; " +
      s"b-only range: z-order ${zbSt.filesRead}/16, a-sorted ${sbSt.filesRead}/16")
  }

  test("incremental update ≡ full rebuild: new files scanned, vanished rows dropped, rest verbatim") {
    val dir = scratch("zonemap_update")
    clustered(dir, 4000L, files = 4)
    ZoneMap.build(spark, dir, "k")
    def statsSet() = spark.read.parquet(s"$dir/${ZoneMap.StatsDir}").collect()
      .map(r => (r.getAs[String]("file_path"), r.getAs[Long]("min_k"),
        r.getAs[Long]("max_k"), r.getAs[Long]("n_rows"))).toSet
    val before = statsSet()
    // append two new files (the daily-ingest commit)
    spark.range(4000L, 6000L)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
      .write.mode("append").parquet(dir)
    // the stale guard fires until maintenance runs
    intercept[IllegalArgumentException] {
      ZoneMap.read(spark, dir, "k", 0L, 10L)
    }
    val st = ZoneMap.update(spark, dir, Seq("k"))
    assert(st.filesScanned === 2 && st.filesDropped === 0 && st.filesKept === 4)
    val incremental = statsSet()
    assert(before.subsetOf(incremental), "update rewrote a carried-over row")
    // equivalence: exactly what a full rebuild would produce
    ZoneMap.build(spark, dir, "k")
    assert(incremental === statsSet(), "incremental stats diverge from a rebuild")
    // reads heal and cover the appended range
    val (df, pr) = ZoneMap.read(spark, dir, "k", 4500L, 4599L)
    assert(df.count() === 100L && pr.filesTotal === 6 && pr.filesRead <= 2)
    // a vanished file (compaction/vacuum) is dropped by the next update
    val victim = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val st2 = ZoneMap.update(spark, dir, Seq("k"))
    assert(st2.filesDropped === 1 && st2.filesScanned === 0 && st2.filesKept === 5)
    assert(statsSet().size === 5)
    // key-set mismatch is refused, never silently narrowed
    val e = intercept[IllegalArgumentException] {
      ZoneMap.update(spark, dir, Seq("k", "s"))
    }
    assert(e.getMessage.contains("rebuild to change the key set"), e.getMessage)
  }

  test("non-integral keys are refused") {
    val dir = scratch("zonemap_badkey")
    spark.range(10L).select(col("id").cast("double").as("k"))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.build(spark, dir, "k")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }
}
