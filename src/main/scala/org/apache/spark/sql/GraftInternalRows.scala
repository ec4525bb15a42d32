package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Access shim for graft's [[graft.operators.Materialize]] (the
  * [[org.apache.spark.GraftBusFlush]] precedent): re-wrap an
  * `RDD[InternalRow]` — the checkpoint RDD a lineage cut just produced, or
  * a persisted one — in a fresh LogicalRDD leaf without the
  * `createDataFrame(ck.rdd, schema)` round-trip, which derives an
  * external-Row RDD (full InternalRow→Row decode) and re-encodes it on
  * every downstream read of every iteration round (r16 verdict #5).
  * `SparkSession.internalCreateDataFrame` is `private[sql]`, hence the
  * package; it does exactly the zero-copy wrap and nothing else. Not used
  * by any operator directly — Materialize plumbing only. */
object GraftInternalRows {
  def wrap(ss: SparkSession, rdd: RDD[InternalRow],
           schema: StructType): DataFrame =
    ss.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
