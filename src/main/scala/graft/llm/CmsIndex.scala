package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CountMin

/** Persisted count-min sketch index — corpus-wide frequency estimates as
  * an INCREMENTAL maintenance problem, extending the persisted-index
  * tier ([[MinHashIndex]]/[[SimHashIndex]]/[[WinnowIndex]] for near-dup,
  * [[IvfIndex]] for ANN, [[CmsIndex]] for frequencies).
  *
  * The index is the materialized cell table `(j, cell, cnt)` of a
  * [[CountMin]] sketch — at the default 4×256 it is ≤ 1024 rows no
  * matter the corpus size. Because count-min merge is elementwise
  * addition, incremental maintenance is parity-EXACT by construction:
  * build(batch₁) ⊕ add(batch₂) produces cell-for-cell the counters of a
  * from-scratch build over batch₁ ∪ batch₂ (pinned in CmsIndexSpec) —
  * no recall caveat like the capped near-dup indexes. Each add is one
  * vocabulary-sized aggregation over the NEW batch plus a union with the
  * ≤1024-row current cells; history is never rescanned.
  *
  * DELTA-COMPOSED ([[DeltaChain]], the family-wide posture): each add
  * writes only the batch's cell aggregate as `delta/v=N`; reads
  * compose by elementwise addition over the last snapshot and
  * [[compact]] folds the deltas back. For THIS member the win is
  * uniformity more than scale — the cell table is ≤1024 rows at any
  * corpus size, so its copy-on-write form cost nothing — but one
  * layout across the exact wing means one crash contract and one
  * vacuum to reason about.
  *
  * Estimates never undercount (CMS guarantee); probes hashing to cells
  * the corpus never touched estimate 0 via the left join.
  */
object CmsIndex {

  val Depth = 4
  val Width = 256

  /** Cell index expression for poly-hashed key column `h`, row `j`. */
  private def cellExpr(j: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column) =
    pmod(pmod((lit(31L) + lit(2L) * j) * h + lit(7L) + lit(97L) * j,
      lit(CountMin.Mod)), lit(Width.toLong)).cast("int")

  /** Sketch cells of a token batch: two-phase — collapse to the
    * vocabulary grain FIRST, then fan out ×depth — so the ×4 row
    * expansion happens on distinct tokens, not the corpus stream.
    */
  def cells(toks: DataFrame): DataFrame =
    toks.groupBy("h").agg(count(lit(1)).as("n"))
      .select(col("h"), col("n"),
        explode(sequence(lit(0), lit(Depth - 1))).as("j"))
      .select(col("j").cast("int").as("j"),
        cellExpr(col("j"), col("h")).as("cell"), col("n"))
      .groupBy("j", "cell").agg(sum(col("n")).as("cnt"))

  /** Latest COMMITTED version (build = 1, +1 per fold; compaction does
    * not advance it — see [[DeltaChain.latest]]).
    */
  def latestVersion(path: String): Option[Int] = DeltaChain.latest(path)

  /** Build the index from an initial batch of poly-hashed tokens
    * (column `h`); starts the version chain at v=1.
    */
  def build(toks: DataFrame, path: String): Unit =
    DeltaChain.build(cells(toks), path)

  /** Fold a new batch into the index: the batch's cells alone become
    * the next delta. Exact — see the scaladoc.
    */
  def addBatch(spark: SparkSession, path: String, toks: DataFrame): Unit =
    DeltaChain.appendDelta(path)(_ => cells(toks))

  /** The composed cell table (snapshot ⊕ live deltas, elementwise). */
  def cellTable(spark: SparkSession, path: String): DataFrame =
    DeltaChain.composedSum(spark, path, Seq("j", "cell"), "cnt")

  /** Fold the live deltas into a new snapshot. Returns its version. */
  def compact(spark: SparkSession, path: String): Int =
    DeltaChain.compactSum(spark, path, Seq("j", "cell"), "cnt")

  /** Frequency estimates for a probe frame carrying key column `w` and
    * its poly-hash `h`: min over the depth rows, 0 for untouched cells.
    */
  def estimates(spark: SparkSession, path: String, probes: DataFrame): DataFrame = {
    val cur = cellTable(spark, path)
    probes
      .withColumn("j", explode(sequence(lit(0), lit(Depth - 1))))
      .withColumn("j", col("j").cast("int"))
      .withColumn("cell", cellExpr(col("j"), col("h")))
      .join(broadcast(cur), Seq("j", "cell"), "left")
      .groupBy("w")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }
  /** Reclaim superseded directories (see [[DeltaChain.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Int =
    DeltaChain.vacuum(spark, path)
}
