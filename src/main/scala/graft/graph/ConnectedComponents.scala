package graft.graph

import org.apache.spark.sql.DataFrame

/** First-class graph primitive: weakly-connected components by bounded
  * iterative min-label propagation — each sweep joins current labels to
  * the undirected edge list and takes the per-node minimum, converging
  * in O(component diameter) sweeps (the label-propagation cousin of
  * large-star/small-star; real-world near-dup / identity graphs have
  * tiny diameters, so 3-4 sweeps is typical). An edge list that fits
  * `spark.sql.autoBroadcastJoinThreshold` at 16 bytes an edge is
  * collected once and swept on the driver; a larger one sweeps as Spark
  * jobs, each a join and aggregate behind an eager checkpoint that keeps
  * the logical plan from doubling per iteration and makes the
  * convergence probe a scan. Both give the same labels.
  *
  * This same core drives every near-dup group closure in the engine
  * ([[graft.dedup.Dedup.propagateMinLabels]]); exposed here as a public
  * operator over any `(src, dst)` edge frame.
  */
object ConnectedComponents {

  /** `(id, component)` for every edge endpoint, where `component` is
    * the minimum id reachable. Isolated nodes carry no edges and so
    * don't appear — union identity rows for the node set if needed.
    *
    * Fails loudly if the sweep budget runs out before a fixed point
    * (component diameter > maxIter): un-converged labels assign
    * DIFFERENT components to nodes of the same component, which a
    * public operator must never return silently. */
  def run(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val (labels, converged) =
      graft.dedup.Dedup.propagateMinLabels(edges, maxIter)
    require(converged,
      s"label propagation did not reach a fixed point within $maxIter " +
        "sweeps — a component's diameter exceeds the budget; raise maxIter")
    labels.toDF("id", "component")
  }
}
