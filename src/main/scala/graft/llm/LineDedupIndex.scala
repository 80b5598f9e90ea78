package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted line-frequency index — corpus boilerplate detection
  * ([[LineDedup]]) as an INCREMENTAL maintenance problem, joining the
  * persisted-index tier ([[MinHashIndex]]/[[SimHashIndex]]/
  * [[WinnowIndex]] near-dup, [[IvfIndex]] ANN, [[CmsIndex]] frequency).
  *
  * The index is the line document-frequency table `(line, df)`. Like
  * [[CmsIndex]] — and unlike the capped near-dup indexes — incremental
  * maintenance is parity-EXACT by construction: df merge is addition,
  * so build(b₁) ⊕ add(b₂) equals a from-scratch count over b₁ ∪ b₂
  * line-for-line, PROVIDED batches are disjoint in documents (the same
  * precondition WinnowIndex enforces with an id anti-join; here a
  * re-delivered doc would double its lines' df).
  *
  * DELTA-COMPOSED ([[DeltaChain]]): each add writes only the BATCH's
  * own df aggregate as `delta/v=N`; reads compose (union + re-sum) the
  * live deltas over the last full snapshot, and [[compact]] folds them
  * back into one. Per-batch write ∝ batch — the copy-on-write form
  * this replaces rewrote the vocabulary-sized cumulative table every
  * fold, the one upkeep term that scaled with the corpus instead of
  * the batch. The df table is vocabulary-sized (one row per distinct
  * line); at 100 TB that is still the right shape — it is the SAME
  * table LineDedup's one-shot pass shuffles to build, and only the
  * `df > maxDf` slice — small by construction — ever leaves the index
  * for the broadcast anti-join in `cleanWith`.
  */
object LineDedupIndex {

  /** Latest COMMITTED version (build = 1, +1 per fold; compaction does
    * not advance it — see [[DeltaChain.latest]]).
    */
  def latestVersion(path: String): Option[Int] = DeltaChain.latest(path)

  private def batchDf(docs: DataFrame, idCol: String, linesCol: Column) =
    LineDedup.lineDf(docs, idCol, linesCol)

  /** Start the index (v=1 snapshot) from an initial document batch. */
  def build(docs: DataFrame, path: String, idCol: String,
      linesCol: Column): Unit =
    DeltaChain.build(batchDf(docs, idCol, linesCol), path)

  /** Fold a new DISJOINT document batch into the index (caller
    * guarantees no doc id was indexed before — re-delivery would
    * double-count df, same contract as WinnowIndex's precondition).
    * Writes ONLY the batch's own aggregate as the next delta; the
    * cumulative table is never rewritten.
    */
  def addBatch(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, linesCol: Column): Unit =
    DeltaChain.appendDelta(path)(_ => batchDf(docs, idCol, linesCol))

  /** The composed cumulative df table (snapshot + live deltas). */
  def dfTable(spark: SparkSession, path: String): DataFrame =
    DeltaChain.composedSum(spark, path, Seq("line"), "df")

  /** Fold the live deltas into a new snapshot (read-amplification
    * valve; reads after this touch one directory until the next add).
    * Returns the snapshot version.
    */
  def compact(spark: SparkSession, path: String): Int =
    DeltaChain.compactSum(spark, path, Seq("line"), "df")

  /** The current boilerplate set: lines with indexed df > maxDf. The
    * filter runs AFTER composition — a line may cross maxDf only when
    * its per-batch counts are summed.
    */
  def boilerplate(spark: SparkSession, path: String, maxDf: Long): DataFrame =
    dfTable(spark, path).filter(col("df") > maxDf).select("line")

  /** Clean a document batch against the INDEXED df (not the batch's
    * own): the streaming-ingest form of [[LineDedup.clean]], where the
    * boilerplate decision uses all history without rescanning it.
    * Output schema matches LineDedup.clean.
    */
  def cleanWith(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, linesCol: Column, maxDf: Long): DataFrame = {
    val boiler = boilerplate(spark, path, maxDf)
    val withLines = docs.select(col(idCol), linesCol.as("_lines"))
    val ex = withLines.select(col(idCol),
      posexplode(col("_lines")).as(Seq("pos", "line")))
    ex.join(broadcast(boiler), Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"))
      .join(withLines.select(col(idCol),
        size(col("_lines")).cast("long").as("_nl")), Seq(idCol), "right_outer")
      .select(
        col(idCol),
        col("_nl").as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Reclaim superseded directories (bases below the latest base,
    * deltas the latest base already composed — see
    * [[DeltaChain.vacuum]]). Returns the number removed.
    */
  def vacuum(spark: SparkSession, path: String): Int =
    DeltaChain.vacuum(spark, path)
}
