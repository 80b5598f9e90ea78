package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening by pointer doubling (path doubling — the
  * O(log depth) rounds / O(E log d) work scheme classic in PRAM and
  * Pregel treatments of list ranking): resolve every node of a forest to
  * its root and depth WITHOUT walking the tree level by level. Each
  * round rewrites ancestor pointers to the ancestor's ancestor and adds
  * the distances, so the known-prefix of every root path doubles per
  * round — a 2^rounds-deep hierarchy resolves in `rounds` self-joins.
  * Per-level iteration (the recursive-CTE evaluation order) needs
  * `depth` rounds instead; at a 100 TB catalog/org/category hierarchy
  * the difference is 6 shuffles vs 60.
  *
  * Input convention: one row per node, `(node, parent)`; roots carry
  * `parent == node` (the self-loop keeps doubling idempotent: a
  * resolved node joins the root's (root, root, 0) row and stays fixed).
  * Distances are exact integers; the whole resolution replays as an
  * unrolled relational program — the ORACLE can use a literal recursive
  * CTE and must agree row-for-row.
  *
  * Caller guarantees 2^rounds >= max depth (extra rounds are no-ops on
  * converged rows) and acyclicity apart from root self-loops — a true
  * cycle never converges and keeps its partial distances; detect cycles
  * with [[ConnectedComponents]] first if the input is untrusted.
  */
object TreePaths {

  /** Resolve to `(node, root, depth)` in `rounds` doubling steps, run
    * through [[Iterate.fixpoint]]: without a materialized state per
    * round the self-join doubles the logical plan per round — 2^rounds
    * copies of the input scan — and the analyzer, not the data, becomes
    * the bottleneck long before cluster scale. With it the plan is one
    * join+project per round regardless of depth.
    */
  def resolve(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20)
    val init = edges.select(
      col("node"),
      col("parent").as("anc"),
      when(col("parent") === col("node"), 0L).otherwise(1L).as("dist"))
    val resolved = Iterate.fixpoint(init, rounds) { s =>
      s.as("a")
        .join(s.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"),
          (col("a.dist") + col("b.dist")).as("dist"))
    }.result
    resolved.select(col("node"), col("anc").as("root"), col("dist").as("depth"))
  }
}
