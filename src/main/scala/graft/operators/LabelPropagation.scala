package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Synchronous label propagation (Raghavan et al., Phys.Rev.E'07) —
  * community detection over an edge list. Where [[ConnectedComponents]]
  * answers "which nodes are REACHABLE from each other" (the dedup-group
  * question), label propagation answers "which nodes are DENSELY
  * connected" — the community structure inside one giant component
  * (e.g. the topical sub-clusters of a near-duplicate boilerplate
  * blob, or supplier/part trading cliques).
  *
  * Update rule (deterministic variant): every node simultaneously
  * adopts the most frequent label among its neighbors' PREVIOUS-round
  * labels, ties broken by smallest label. Synchronous two-phase update
  * + total tie order make the result a pure function of (edges, iters)
  * — no vertex-visit-order nondeterminism, so an external SQL engine
  * replays each round exactly (the classic async variant is
  * irreproducible by design). Fixed iteration count rather than a
  * convergence test: synchronous LPA can 2-cycle on bipartite
  * structure, so "labels stopped changing" is not guaranteed to occur.
  *
  * Scale shape: per round one equi-join (labels onto the symmetrized
  * edge list, shuffle on node id) and one two-phase aggregation —
  * `min(struct(-cnt, label))` is partially aggregable, so a hub node's
  * vote tally map-side combines instead of hot-keying a reducer (same
  * posture as CC's min). The rounds run through [[Iterate.fixpoint]]
  * (materialize and release per round).
  */
object LabelPropagation {

  /** Communities of the undirected graph given by `edges(u, v)` long
    * columns (self-loops and duplicate edges tolerated: loops are
    * dropped, duplicates collapse via distinct). Every endpoint is a
    * node; isolated nodes cannot exist (nodes are defined by edges).
    * Returns (node, label) with label = the community's propagated id.
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val sym = edges.filter(col("u") =!= col("v"))
      .select(col("u"), col("v"))
      .union(edges.filter(col("u") =!= col("v"))
        .select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .materialized

    val init = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    val labels = Iterate.fixpoint(init, iters) { prev =>
      // neighbor votes: node u hears the previous label of each neighbor v
      val votes = sym
        .join(prev.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // winner per node: max count, then smallest label — one struct-min,
      // partially aggregable (no per-node window sort)
      votes
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb")))
          .as("w"))
        .select(col("node"), col("w").getField("lb").as("label"))
    }.result
    // the returned labels checkpoint no longer reads the symmetrized edges
    Iterate.release(sym)
    labels
  }
}
