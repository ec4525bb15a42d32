package graft.functions

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` surface (SURVEY.md §2 B48): element-wise reduction of
  * fixed-width long vectors, the one genuinely custom aggregate the engine
  * needs.
  *
  * Used by the LLM-dedup operators ([[graft.queries.LlmOps]]): element-wise
  * MIN reduces per-shingle hash vectors into a MinHash signature (one row
  * per shingle carrying all k hashes — no k-way row blowup before the
  * aggregate). SimHash bit weights need no custom aggregate:
  * `NearDup.simhashPairs` sums the ±1 bit votes with built-in `sum`s.
  *
  * Scale: a single partial+final hash aggregate keyed on doc_id — the map
  * side pre-reduces each partition to one k-long buffer per key, so the
  * shuffle carries |docs| × k longs regardless of shingle count.
  */
object VecAgg {

  /** Element-wise `op` over length-`k` long vectors. `op` must be
    * commutative and associative with identity `zeroVal`. */
  class ElementWise(k: Int, zeroVal: Long, op: (Long, Long) => Long)(
      implicit bEnc: Encoder[Array[Long]], oEnc: Encoder[Seq[Long]])
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.fill(k)(zeroVal)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < k) { b(i) = op(b(i), a(i)); i += 1 }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { x(i) = op(x(i), y(i)); i += 1 }
      x
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = bEnc
    def outputEncoder: Encoder[Seq[Long]] = oEnc
  }

  /** `array<bigint>` column aggregate: element-wise minimum. */
  def minVec(spark: SparkSession, k: Int): UserDefinedFunction = {
    import spark.implicits._
    udaf(new ElementWise(k, Long.MaxValue, math.min))
  }
}
