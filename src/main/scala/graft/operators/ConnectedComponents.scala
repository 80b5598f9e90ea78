package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Connected components over an edge list — the clustering stage of a
  * near-duplicate dedup pipeline (pair graph → dedup groups → one
  * survivor per group).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard shared-nothing CC algorithm, converging in O(log² n) rounds
  * on any graph (2–4 rounds on real dedup graphs, whose components are
  * near-cliques). Chosen over naive min-label propagation because label
  * propagation needs O(diameter) rounds — a pathological duplicate chain
  * (a~b, b~c, …) makes that linear in the corpus.
  *
  * Both steps are a groupBy-min plus an equi-join per round, so each
  * round is two shuffles of the CURRENT edge set — which large-star
  * monotonically shrinks toward one edge per non-root vertex. Min is
  * partially aggregable, so a high-degree hub (every near-dup of a viral
  * boilerplate doc) map-side combines instead of hot-keying a reducer.
  *
  * The rounds run through [[Iterate.fixpoint]] (materialize and release
  * per round), stopping when the edge set's checksum repeats.
  */
object ConnectedComponents {

  /** Order-insensitive fingerprint of an edge set (count, xor of row
    * hashes): the loop's signature.
    */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges
      .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Large-star: every vertex attaches its LARGER neighbors to the
    * minimum of its closed neighborhood. Emits (v, m) for v ∈ Γ(u),
    * v > u, m = min(Γ(u) ∪ {u}) — all output edges oriented big→small.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every vertex attaches its SMALLER neighbors (and
    * itself) to the minimum of those. Input edges are already oriented
    * big→small, so each u's in-list IS its smaller neighborhood.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
    val reattached = edges.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    reattached.union(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Component assignment for every vertex incident to `edges`:
    * `(id, component)` with `component` = the minimum vertex id reachable
    * from `id` (so a vertex is its component's representative iff
    * `id == component`; a self-loop-only vertex is its own singleton).
    * Vertices in no edge at all don't appear — callers with a wider
    * vertex universe left-join and `coalesce(component, id)` (see
    * [[Dedup.byNearDupPairs]]).
    *
    * Ids must be orderable and non-null.
    */
  def run(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    // the input pair plan is consumed THREE times below (both vertex-
    // universe union legs + the canonical edge list) — and for the
    // near-dup callers that plan is the entire candidates+verify
    // pipeline (LSH banding, jaccard/cosine verification), measured as
    // 2 extra full pipeline executions on q209/q215. Materialize it
    // ONCE; everything else reads the checkpointed pair blocks.
    val e0 = edges.select(col(srcCol), col(dstCol)).materialized
    val verts = e0.select(col(srcCol).as("id"))
      .union(e0.select(col(dstCol).as("id")))
      .distinct()
    // canonical orientation big→small; drop self-loops and duplicates
    val canonical = e0
      .select(
        greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // an empty edge set is its own fixpoint: no round runs. The INPUT
    // checkpoint e0 is NOT released: the returned plan's verts leg still
    // reads it lazily.
    val fp = Iterate.fixpoint(canonical, maxIter, checksum) { (cur, sum) =>
      if (sum._1 == 0L) cur else smallStar(largeStar(cur))
    }
    if (!fp.converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          s"(O(log^2 n) expected; raise maxIter)")
    // fixpoint is a union of stars (member, root): roots never appear on
    // the left. min() guards the (unreached) possibility of a vertex in
    // two stars, keeping the output a function of id; the verts join
    // restores edge-incident vertices the loop dropped (self-loop-only
    // and other singletons) as their own representative.
    val assigned = fp.result
      .groupBy(col("u").as("id")).agg(min(col("v")).as("component"))
    verts.join(assigned, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
