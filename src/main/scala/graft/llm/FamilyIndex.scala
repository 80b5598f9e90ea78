package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Persisted incremental duplicate-FAMILY index — the connected-
  * components closure (q42/q43's pairs → families → survivor) as an
  * INCREMENTAL maintenance problem, completing the persisted-index
  * tier's dedup story: the band indexes ([[MinHashIndex]] and
  * siblings) already generate each arriving batch's near-dup PAIRS
  * incrementally; this index folds those pairs into a cumulative
  * family assignment without ever re-running connected components
  * over the corpus's full edge set.
  *
  * The logical index is the assignment table `(id, family)`, `family`
  * = the minimum id reachable in the pair graph — exactly
  * [[graft.operators.ConnectedComponents.run]]'s contract, so
  * survivor selection ([[graft.operators.Dedup.byNearDupPairs]]'
  * min-id rule) and leakage-safe splitting (q183) read it directly.
  *
  * The fold exploits that min-closure is ASSOCIATIVE under vertex
  * contraction: an already-assigned endpoint can be replaced by its
  * family representative, and CC then runs on the CONTRACTED edge
  * list — (family(a), family(b)) for old endpoints, raw ids for new
  * ones — whose size is bounded by the BATCH's pairs, never the
  * corpus. Representatives are min-ids, so the contracted minimum IS
  * the global minimum of the merged component: parity with a one-shot
  * CC over the union of all folded pairs is EXACT, id for id (pinned
  * in FamilyIndexSpec against random graphs, and by q229's oracle).
  *
  * DELTA-COMPOSED ([[DeltaChain]] layout): a fold writes ONLY the
  * batch's outcome as its delta — rows `(id, family, kind)` where
  * `kind='new'` assigns a first-seen id and `kind='remap'` records a
  * family-representative merge `(old rep → new rep)`. [[assignment]]
  * composes at read time: remap tables are CHAINED in version order
  * (substitution composition — rep chains fully resolved), then one
  * broadcast join maps every base/new row's family through the
  * composed remap. This is sound because a min-id representative,
  * once merged away, can never become a representative again (its
  * component forever contains a smaller id), so remap domains across
  * batches are disjoint after in-order resolution; applying the fully
  * composed remap to ALL rows is therefore exact. Per-batch write is
  * ∝ batch, and [[compact]] folds the composed view back into a
  * snapshot on the operator's cadence, not the stream's. Remap tables
  * are broadcast-sized by construction (≤ families merged per batch ≤
  * batch pairs).
  */
object FamilyIndex {

  /** Latest COMMITTED version (build = 1, +1 per fold; compaction does
    * not advance it — see [[DeltaChain.latest]]).
    */
  def latestVersion(path: String): Option[Int] = DeltaChain.latest(path)

  /** Start the index (v=1 snapshot) from an initial pair batch
    * `(id_a, id_b)`. Ids in no pair don't appear — read-side callers
    * left-join and `coalesce(family, id)`, same universe contract as
    * CC itself.
    */
  def build(pairs: DataFrame, path: String): Unit =
    DeltaChain.build(
      graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
        .withColumnRenamed("component", "family"), path)

  /** Fold a new pair batch into the index. Pairs may touch old ids,
    * new ids, or bridge the two; old families linked by a batch edge
    * are merged to their common minimum. Writes only the batch-bounded
    * delta (new-id assignments + rep remaps), derived from the
    * assignment of the chain state it commits on top of.
    */
  def addBatch(spark: SparkSession, path: String, pairs: DataFrame): Unit =
    DeltaChain.appendDelta(path)(c => batchDelta(spark, path, c, pairs))

  private def batchDelta(spark: SparkSession, path: String,
      c: DeltaChain.Capture, pairs: DataFrame): DataFrame = {
    val cur = assignmentOf(spark, path, c)
    val p = pairs.select("id_a", "id_b").materialized
    val ids = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    // assignment rows of batch-touched OLD ids: batch-bounded, pulled
    // with a broadcast semi-join (the corpus table only streams past —
    // a READ; nothing corpus-sized is ever written here)
    val touched = cur.join(broadcast(ids), Seq("id"), "left_semi")
      .materialized
    // contract old endpoints to their family representative
    val contracted = p
      .join(broadcast(touched.select(col("id").as("id_a"),
        col("family").as("fa"))), Seq("id_a"), "left")
      .join(broadcast(touched.select(col("id").as("id_b"),
        col("family").as("fb"))), Seq("id_b"), "left")
      .select(coalesce(col("fa"), col("id_a")).as("id_a"),
        coalesce(col("fb"), col("id_b")).as("id_b"))
    // CC over the batch-bounded contracted graph: nodes are old family
    // reps and genuinely new ids
    val merged = graft.operators.ConnectedComponents
      .run(contracted, "id_a", "id_b")
      .withColumnRenamed("component", "family")
      .materialized
    val oldReps = touched.select(col("family").as("id")).distinct()
    // contracted nodes that ARE old reps and moved → remap rows; the
    // rest are first-seen ids → new rows. Old member rows are NOT
    // rewritten — the read path routes them through the remap chain.
    val remapRows = merged.join(broadcast(oldReps), Seq("id"), "left_semi")
      .filter(col("id") =!= col("family"))
      .select(col("id"), col("family"), lit("remap").as("kind"))
    val newRows = merged.join(broadcast(oldReps), Seq("id"), "left_anti")
      .select(col("id"), col("family"), lit("new").as("kind"))
    remapRows.unionByName(newRows)
  }

  /** Compose two rep-remap tables `(from, to)` in version order:
    * `(r1 ⨾ r2)(x) = r2(r1(x))` where defined, with r2's fresh
    * domain entries carried over — substitution that fully resolves
    * rep chains (5→3 then 3→1 composes to 5→1 AND 3→1).
    */
  private def composeRemaps(r1: DataFrame, r2: DataFrame): DataFrame = {
    val r2r = r2.select(col("from").as("_f2"), col("to").as("_t2"))
    val chained = r1.join(r2r, r1("to") === col("_f2"), "left")
      .select(r1("from").as("from"),
        coalesce(col("_t2"), r1("to")).as("to"))
    val fresh = r2.join(r1.select(col("from")), Seq("from"), "left_anti")
    chained.unionByName(fresh)
  }

  /** The current assignment `(id, family)` — every id that ever
    * appeared in a folded pair, read through the composed delta chain:
    * base ∪ new-rows, families routed through the chained remaps.
    */
  def assignment(spark: SparkSession, path: String): DataFrame =
    assignmentOf(spark, path, DeltaChain.capture(path))

  /** [[assignment]] over ONE consistent capture of the chain shape —
    * a fold or compaction reads and labels from the same capture (see
    * [[DeltaChain.Capture]]).
    */
  private def assignmentOf(spark: SparkSession, path: String,
      c: DeltaChain.Capture): DataFrame = {
    val b = c.base.getOrElse(
      throw new IllegalStateException(s"no FamilyIndex at $path"))
    val base = Parquet.read(spark, b.adds("base"))
    if (c.deltas.isEmpty) base
    else {
      val deltas = c.deltas.map(e => Parquet.read(spark, e.adds("delta")))
      val rows = (base +: deltas.map(_.filter(col("kind") === "new")
        .select("id", "family"))).reduce(_ unionByName _)
      val remaps = deltas.map(_.filter(col("kind") === "remap")
        .select(col("id").as("from"), col("family").as("to")))
      // tiny tables (broadcast-sized by construction) — checkpoint the
      // composed chain so repeated reads don't re-run the fold lineage
      val composed = remaps.reduce(composeRemaps).materialized
      rows.join(broadcast(composed), rows("family") === composed("from"),
          "left")
        .select(rows("id"), coalesce(col("to"), rows("family")).as("family"))
    }
  }

  /** Fold the live deltas into a new snapshot carrying the latest
    * version ("composed through N"). Returns the snapshot version.
    */
  def compact(spark: SparkSession, path: String): Int =
    DeltaChain.compact(path)(c => assignmentOf(spark, path, c))

  /** Reclaim superseded directories (see [[DeltaChain.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Int =
    DeltaChain.vacuum(spark, path)
}
