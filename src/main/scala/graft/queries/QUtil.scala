package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers shared by the oracle query catalog.
  *
  * The DuckDB oracle hash-compares values, so every double aggregate must be
  * bit-reproducible across engines AND across partition orders. Plain
  * `sum(double)` is order-dependent; instead we exploit that the money-like
  * columns in the testdata carry ≤`scale` decimal places: scale them to
  * integers (exact doubles), sum exactly (|sum| ≪ 2^53), and rescale. The
  * same formula is written verbatim in the oracle SQL.
  */
object QUtil {
  /** Order-independent, engine-exact sum of a fixed-point double column.
    * `digits` = decimal places carried by the expression (2 for prices,
    * 4 for price*(1-disc), 6 for price*(1-disc)*(1+tax)). */
  def moneySum(c: Column, digits: Int): Column = {
    val f = math.pow(10, digits)
    round(sum(round(c * f)) / f, digits)
  }

  /** SQL mirror of [[moneySum]] for the DuckDB side. */
  def moneySumSql(e: String, digits: Int): String = {
    val f = s"1e$digits"
    s"round(sum(round(($e) * $f)) / $f, $digits)"
  }

  /** Tie-safe 6-dp rounding of a quotient: `floor(x·1e6 + 0.5) / 1e6`
    * rounds the DOUBLE half-up — both engines compute the same double, so
    * the result is engine-exact. `round(x, 6)` is NOT: Spark rounds x's
    * shortest decimal repr (HALF_UP on the string) while DuckDB rounds the
    * raw double, and any quotient landing on a half-integer micro value
    * splits the engines (q_embed_pool hit this at sf0.1 where group size
    * 192 made sum/192 a .5-micro tie — found by the differential run). */
  def round6Exact(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** SQL mirror of [[round6Exact]]. */
  def round6ExactSql(e: String): String = s"floor(($e) * 1e6 + 0.5) / 1e6"

  /** Deterministic average: exact integer-scaled sum / exact count,
    * tie-safe 6-dp presentation. */
  def moneyAvg(c: Column, digits: Int): Column = {
    val f = math.pow(10, digits)
    round6Exact(sum(round(c * f)) / f / count(lit(1)))
  }

  def moneyAvgSql(e: String, digits: Int): String = {
    val f = s"1e$digits"
    round6ExactSql(s"sum(round(($e) * $f)) / $f / count(*)")
  }

  /** SQL replay of [[graft.operators.LinearScorer]] at `minCount = 3`, the
    * scorer every scoring entry's oracle shares: CTEs `tok(doc_id, term)`,
    * `model(term, w_micro)` and `sc(doc_id, logit_micro)` over
    * `documents`. */
  val sqlScoreReplay: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |model AS (
      |  SELECT term,
      |    CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 2001 - 1000 AS w_micro
      |  FROM (SELECT term, count(*) AS c FROM tok GROUP BY term)
      |  WHERE c >= 3),
      |sc AS (
      |  SELECT t.doc_id,
      |    CAST(sum(coalesce(m.w_micro, 0)) AS BIGINT) AS logit_micro
      |  FROM tok t LEFT JOIN model m USING (term) GROUP BY t.doc_id)""".stripMargin
}
