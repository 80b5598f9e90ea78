package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.Fixpoint

/** k-core decomposition by bounded peeling (Seidman '83; the
  * Batagelj–Zaveršnik sequential algorithm's bulk-synchronous form):
  * repeatedly delete every node whose degree in the SURVIVING subgraph
  * is below `k` — each deletion can drop a neighbor below the bar, so
  * peeling iterates to a fixpoint. The k-core is the canonical
  * "dense interaction backbone" extractor on interaction graphs (spam
  * rings, power-user nuclei) where degree alone over-counts nodes whose
  * neighbors are themselves peripheral.
  *
  * Each round is one degree aggregation (explode both endpoints +
  * count) and two semi-joins filtering the edge list; the shuffles are
  * all keyed on node ids. The rounds run through [[Iterate.fixpoint]]
  * with the edge count as the signature, so peeling stops EARLY when a
  * round deletes nothing: `rounds` is a budget, not a cost, and
  * [[peelToFixpoint]] reports how many rounds ran and whether the
  * fixpoint was reached within the budget. Peeling depth in practice is
  * small (at most the degeneracy ordering's longest cascade, not graph
  * diameter).
  *
  * Input convention: undirected simple graph, one row per edge —
  * self-loops dropped, and duplicate rows INCLUDING reversed
  * duplicates collapsed: edges are canonicalized to
  * `(least(u,v), greatest(u,v))` before `distinct()`, so an input
  * carrying both (u,v) and (v,u) counts the edge once (double-counting
  * would silently shift the effective k threshold). For bipartite
  * graphs offset one side into a disjoint id space.
  */
object KCore {

  /** Peel at most `rounds` times (early-stopping at the fixpoint);
    * returns surviving `(node, degree)` where `degree` is the node's
    * degree in the final surviving subgraph.
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    peelToFixpoint(edges, k, rounds).result

  /** Peel to the fixpoint or the `maxRounds` budget, whichever comes
    * first. `result` holds the surviving `(node, degree)` rows;
    * `converged` is true iff some round within the budget deleted zero
    * edges — i.e. the result IS the exact k-core, not a partial peel. A
    * `converged=false` return means the budget was exhausted while
    * deletions were still happening; raise `maxRounds`.
    */
  def peelToFixpoint(edges: DataFrame, k: Int, maxRounds: Int): Fixpoint[Row] = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 20)
    def degrees(e: DataFrame): DataFrame = e
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val canonical = edges
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val fp = Iterate.fixpoint(canonical, maxRounds, (e: DataFrame) => e.count()) { (e, _) =>
      val keep = degrees(e).filter(col("degree") >= k).select("node")
      e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
    }
    fp.copy(result = degrees(fp.result))
  }
}
