package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a candidate-pair graph — the clustering step
  * between pairwise dedup (MinHash-LSH / blocking emits PAIRS) and
  * survivor election (which needs CLUSTERS: near-dup similarity is not
  * transitive, but retention policy is per-group).
  *
  * Algorithm: min-label propagation to a fixpoint — every node repeatedly
  * takes the minimum component id over itself and its neighbors. The
  * fixpoint labels each component by its minimum node id, a result that is
  * unique and independent of partitioning, join order, and iteration
  * schedule (min is associative/commutative/idempotent), so the output is
  * deterministic even though the algorithm is iterative.
  *
  * Scale design: each round is one shuffle join of the (symmetric) edge
  * list against the current labels plus a groupBy(min), FOLLOWED BY a
  * pointer-halving join (comp := comp-of-comp) — the halving step turns
  * diameter-bound convergence into O(log n) rounds (a chain of length d
  * converges in ~log₂ d + 1 rounds, not d), so a million-node chained
  * component cannot outrun maxIter. No collect, no driver-side graph.
  * Lineage is truncated every round with an EAGER `localCheckpoint` —
  * without it, iterative self-joins stack 2·k plan nodes after k rounds
  * and analysis time explodes (the classic iterative Spark failure).
  */
object Components {

  /** (id, component) for every node of `edges`; `edges` must be symmetric
    * (both (a,b) and (b,a) present — [[symmetrize]] does). Component id =
    * min node id in the component. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst", maxIter: Int = 50): DataFrame = {
    // materialize the edge list ONCE — it may be an arbitrary upstream
    // derivation (blocking self-joins here), and every round joins it
    // LAZY checkpoints: the pre-loop convergence probe (or the string-id
    // path's first-round join) materializes both in ONE job — the r15
    // eager pair cost two extra sequential jobs before round 1
    val e = edges.select(col(srcCol).as("e_src"), col(dstCol).as("e_dst"))
      .localCheckpoint(false)
    // Label build FOLDS IN round 1: comp₀ = min(id, min neighbor id) is
    // exactly what one propagate round from comp=id computes, and the
    // min-neighbor aggregate costs the SAME single exchange the r15
    // node-distinct did — one full round (join + halving + probe jobs)
    // disappears. The fixpoint is unique (min is idempotent/assoc/comm),
    // so starting one step ahead cannot change the result.
    var labels = e.groupBy(col("e_src").as("id"))
      .agg(min(col("e_dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
      .localCheckpoint(false)
    var round = 0
    var converged = false
    // Convergence probe state: comp is MONOTONE NON-INCREASING per node
    // per round (every update is a least(...)), so the label frame
    // changed iff Σ comp strictly decreased — one map-side-combined
    // aggregate over the just-materialized checkpoint replaces the r14
    // probe (a full node-frame equi-join of next against labels, one
    // extra shuffle join per round). DECIMAL(38,0) keeps the sum exact
    // far past any realistic |nodes|·max(id) product, so equal sums ⟺
    // no node changed — the loop exits at exactly the same round with
    // exactly the same labels.
    //
    // The sum probe requires an INTEGRAL id domain: a non-numeric comp
    // (string doc ids are a legal idCol upstream) casts to NULL and
    // every round's sum would read 0 — instant false convergence — and
    // a fractional decimal rounds in the DECIMAL(38,0) cast, so a round
    // whose only change is 5.4 → 4.6 sums equal (both round to 5) and
    // exits early. For those, fall back to the r14 changed-row probe
    // (one extra node-frame equi-join per round, correct on any
    // orderable type).
    val numericIds = labels.schema("comp").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => false
    }
    def compSum(df: DataFrame): java.math.BigDecimal = Option(
      df.agg(sum(col("comp").cast(
        org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .head.getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)
    def unchangedVs(next: DataFrame, prev: DataFrame): Boolean =
      next.as("a")
        .join(prev.as("b"), col("a.id") === col("b.id"))
        .filter(col("a.comp") =!= col("b.comp"))
        .isEmpty
    var prevSum = if (numericIds) compSum(labels) else null
    while (!converged && round < maxIter) {
      val nbrMin = e.join(labels, e("e_dst") === labels("id"))
        .groupBy(col("e_src").as("id"))
        .agg(min(col("comp")).as("nbr_comp"))
      val propagated = labels.as("l")
        .join(nbrMin.as("n"), col("l.id") === col("n.id"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("n.nbr_comp"), col("l.comp")))
            .as("comp"))
        // materialize before the halving self-join: both sides reference
        // this plan, and an uncached subplan would be computed twice
        .localCheckpoint(true)
      // pointer halving: comp := labels(comp).comp — every label is a node
      // id, so the lookup hits; paths halve, giving O(log n) convergence
      val next = propagated.as("x")
        .join(propagated.select(col("id").as("cid"), col("comp").as("ccomp"))
          .as("y"), col("x.comp") === col("y.cid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.comp"), coalesce(col("y.ccomp"), col("x.comp")))
            .as("comp"))
        // LAZY: the convergence probe below is the round's next action,
        // so it materializes this checkpoint as part of its own job —
        // one job per round instead of two (eager checkpoint + probe).
        // Safe: `next` has exactly one consumer before materialization
        // (the probe), then the following round's two joins read the
        // already-cached RDD.
        .localCheckpoint(false)
      if (numericIds) {
        val curSum = compSum(next)
        converged = curSum.compareTo(prevSum) == 0
        prevSum = curSum
      } else converged = unchangedVs(next, labels)
      labels = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Both orientations of an undirected pair list (and nothing else). */
  def symmetrize(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
}
