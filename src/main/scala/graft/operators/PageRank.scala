package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Fixed-point PageRank — iterative graph analytics as pure dataflow
  * (no driver round-trips: N rides along as a broadcast scalar, each
  * iteration is one shuffle join + one aggregation, exactly the
  * large-star/small-star shape [[ConnectedComponents]] uses).
  *
  * Arithmetic is quantized to `scale` (ranks are longs summing to ~scale)
  * with floor division everywhere, standard damping 0.85 expressed as
  * exact integer ops (`17*x div 20`), ties broken by node id — so like
  * the k-means codebook (q85) the whole ITERATION is replayable in any
  * engine, not just spot-checkable. Quantization error vs real-valued
  * PageRank is bounded by iters/scale per node — ranking fidelity at
  * scale=1e6 far exceeds what top-k consumers need.
  *
  * Scale posture: per iteration, the rank table (one row per node)
  * shuffles on the edge key — the same cost profile as one grouped
  * count. Convergence for analytics use is typically <20 iterations;
  * no per-iteration driver sync means a 100 TB edge set pipelines
  * through AQE like any other join chain. The rounds run through
  * [[Iterate.fixpoint]] (materialize and release per round).
  */
object PageRank {

  /** Run `iters` damped rounds over a directed edge list `(u, v)`.
    *
    * The node space is `union(u, v)`: sink-only nodes (no outgoing
    * edges, deg 0) get rank rows and receive mass like any other node.
    * Their OWN mass is not redistributed (the classic "dangling mass"
    * is dropped each round, the common simplification) — symmetrize the
    * edge list for undirected graphs and no mass is ever dangling.
    * Returns `(node, deg, rank_fp)`.
    */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // the edge list is scanned iters+3 times (deg, node space twice, one
    // join per round); materialize it ONCE so an expensive producing plan
    // (a join chain, a dedup) doesn't re-execute every round — at any
    // scale, re-deriving the graph per iteration dwarfs the iteration.
    // EAGER materialization (not a lazy .cache()): the first action here
    // is the initial-ranks checkpoint, whose single job consumes the
    // edge plan through THREE concurrent subtrees (deg, both node-space
    // union legs) — concurrent stages of one job race the cache fill and
    // each re-executes the producing plan (measured on q93: the edge
    // derivation ran 2-3x before any block landed). One materialize job
    // runs it exactly once, and exchange reuse inside that job dedups a
    // symmetrize-union's two legs.
    val e = edges.materialized
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    // every node once, with its out-degree (0 for sinks) and N alongside
    val init = nodes
      .join(deg, nodes("node") === deg("u"), "left")
      .crossJoin(broadcast(n))
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"), col("n"),
        expr(s"$scale div n").as("r"))
    damped(e, init, iters, expr(s"(3 * $scale) div (20 * n)"))
  }

  /** Personalized PageRank: teleport mass lands on `seeds` (one `node`
    * column) instead of uniformly — the seed-relative relevance
    * propagation behind "related items" and trust-rank flows. Same
    * integer arithmetic as [[run]] with two changes: the initial rank
    * splits `scale` over the seed set, and the per-round teleport term
    * `(3·scale) div (20·|seeds|)` is paid ONLY to seed nodes (everyone
    * else gets pure damped in-flow). Same rounds as the uniform form;
    * |seeds| rides along as a broadcast scalar just like N.
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // eager materialize, not lazy cache — see run()
    val e = edges.materialized
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .distinct()
    val sd = seeds.select(col("node")).distinct()
      .withColumn("is_seed", lit(1L))
    val ns = sd.agg(count(lit(1)).as("ns"))
    val init = nodes
      .join(deg, nodes("node") === deg("u"), "left")
      .join(sd, Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"), col("ns"),
        expr(s"is_seed * ($scale div ns)").as("r"))
    damped(e, init, iters, expr(s"is_seed * ((3 * $scale) div (20 * ns))"))
  }

  /** The damped rounds both forms share: each round every source node
    * splits its rank over its out-edges (deg-0 nodes contribute nothing
    * and would divide by zero, so only sources join the edge list) and
    * every node's new rank is `teleport` plus 17/20 of its in-flow. The
    * rank table's other columns ride along unchanged. Releases the edge
    * checkpoint `e`, which the returned plan no longer reads.
    */
  private def damped(e: DataFrame, init: DataFrame, iters: Int,
      teleport: Column): DataFrame = {
    val ranks = Iterate.fixpoint(init, iters) { cur =>
      val contrib = cur.filter(col("deg") > 0)
        .join(e, cur("node") === e("u"))
        .select(col("v"), expr("r div deg").as("share"))
        .groupBy("v").agg(sum("share").as("c"))
      cur.join(contrib, cur("node") === contrib("v"), "left")
        .select(cur.columns.filter(_ != "r").map(col).toSeq :+
          (teleport + expr("(17 * coalesce(c, 0L)) div 20")).as("r"): _*)
    }.result
    Iterate.release(e)
    ranks.select(col("node"), col("deg"), col("r").as("rank_fp"))
  }
}
