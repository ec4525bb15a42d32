package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation with pointer
  * jumping — the canonicalization step that turns pairwise near-dup matches
  * into "keep one representative per cluster" (SURVEY.md §2 B50).
  *
  * Per round each vertex takes the minimum of
  *   (a) its own label,
  *   (b) its neighbors' labels (one shuffle join + partial/final min agg),
  *   (c) its label's label (the pointer-jump / path-halving term — one more
  *       shuffle join of the label table with itself).
  * Plain neighbor-min alone converges in O(diameter) rounds — a 10 M-hop
  * chain of near-dups would need 10 M rounds; the jump term short-circuits
  * label chains so convergence is O(log n) rounds on ANY graph shape
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
  * — the large-star/small-star family; this is the simplest member).
  *
  * Scale posture (100 TB): every round is two shuffle joins + one aggregate
  * on (id|src) keys, all partial+final; the convergence check is an
  * aggregate-only `isEmpty` (no driver collect of data rows). Lineage is cut
  * per round in the session's checkpoint mode ([[Materialize]]):
  * `localCheckpoint` by default (executor storage — fine for a single-job
  * run), or with `graft.checkpoint.reliable=true` (+ `graft.checkpoint.dir`)
  * `DataFrame.checkpoint` to the reliable checkpoint dir — the right
  * setting for a multi-day 100 TB job where an executor loss must not
  * recompute the whole iteration chain. The cut keeps the checkpoint's own
  * plan leaf (not [[Materialize.cut]]'s fresh one): a fresh leaf drops the
  * labels' partitioning and would add a shuffle per round.
  *
  * Fails LOUDLY (IllegalStateException) if the labels have not converged
  * within `maxIter` rounds — silently returning half-propagated labels would
  * merge distinct clusters downstream. With pointer jumping, maxIter = 25
  * covers graphs up to ~2^25 vertices of any diameter.
  */
object ConnectedComponents {

  final case class Result(labels: DataFrame, rounds: Int)

  /** @param pairs two-column DataFrame of undirected edges (a, b).
    * @return labels (member, cluster_rep) for every vertex with ≥1 edge. */
  def run(pairs: DataFrame, maxIter: Int = 25): Result = {
    // edge endpoints = the first two columns; extra columns (a confirmed
    // pair's jac/cos measure) are ignored, so NearDup's 3-column outputs
    // compose directly
    val Seq(a, b) = pairs.schema.fieldNames.take(2).toSeq
    val edges = Materialize.cutFinal(
      pairs.select(col(a).as("src"), col(b).as("dst"))
        .unionByName(pairs.select(col(b).as("src"), col(a).as("dst"))))

    var labels = Materialize.cutFinal(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
      // pointer jump: resolve label -> label(label) (labels are always ids
      // of vertices present in the table, so the join is total)
      val jump = labels.select(col("id").as("jid"), col("label").as("jl"))
      val next = Materialize.cutFinal(labels
        .join(neighborMin, col("id") === col("src"), "left")
        .join(jump, col("label") === col("jid"), "left")
        .select(col("id"),
          least(col("label"),
            coalesce(col("nl"), col("label")),
            coalesce(col("jl"), col("label"))).as("label")))
      converged = next.as("n")
        .join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter; returning partial labels would merge distinct clusters")
    Result(labels, iter)
  }
}
