package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted gram-occurrence index — exact duplicated-span dedup
  * ([[SpanDedup]]) as an INCREMENTAL maintenance problem, joining the
  * parity-EXACT wing of the persisted-index tier ([[LineDedupIndex]],
  * [[CmsIndex]], [[Bm25Index]]): the index is the k-gram occurrence
  * count table `(f, n_occ)`, and occurrence-count merge is addition, so
  * `build(b₁) ⊕ addBatch(b₂)` equals a from-scratch count over b₁ ∪ b₂
  * fingerprint-for-fingerprint — PROVIDED batches are disjoint in
  * documents (a re-delivered doc would double its grams' counts; same
  * precondition as the rest of the exact wing).
  *
  * [[cleanseWith]] then runs SpanDedup's run-merge and span cut over
  * any document set using the INDEXED global counts — so a span a new
  * batch shares with last month's corpus is found and cut without
  * rescanning last month (the one-shot pass would have to). Cutting
  * the WHOLE corpus through the index reproduces the one-shot
  * [[SpanDedup.cleanse]] bit-for-bit (pinned in the spec and in
  * q201's oracle, which replays the one-shot SQL).
  *
  * DELTA-COMPOSED ([[DeltaChain]]): each add writes only the BATCH's
  * gram aggregate as `delta/v=N`; reads compose the live deltas over
  * the last snapshot and [[compact]] folds them back. This replaced
  * the copy-on-write fold whose per-batch write was the full
  * gram-vocabulary table — measured as the streamed ingest's
  * 4.5×-per-decade growth, the one upkeep term scaling with the
  * corpus instead of the batch. The table stays vocabulary-sized (one
  * row per distinct gram — the same table the one-shot pass shuffles
  * to build); commits go through [[IndexLog]].
  */
object SpanDedupIndex {

  /** Latest COMMITTED version (build = 1, +1 per fold; compaction does
    * not advance it — see [[DeltaChain.latest]]).
    */
  def latestVersion(path: String): Option[Int] = DeltaChain.latest(path)

  private def gramCounts(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    SpanDedup.gramPositions(docs, idCol, textCol, k)
      .groupBy("f").agg(count(lit(1)).as("n_occ"))

  /** Start the index (v=1 snapshot) from an initial document batch. */
  def build(docs: DataFrame, path: String, idCol: String, textCol: String,
      k: Int = 8): Unit =
    DeltaChain.build(gramCounts(docs, idCol, textCol, k), path)

  /** Fold a new DISJOINT document batch into the index: aggregate the
    * batch alone, write it as the next delta — the cumulative table is
    * never rewritten.
    */
  def addBatch(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 8): Unit =
    DeltaChain.appendDelta(path)(_ => gramCounts(docs, idCol, textCol, k))

  /** The composed cumulative gram-count table (snapshot + deltas). */
  def gramTable(spark: SparkSession, path: String): DataFrame =
    DeltaChain.composedSum(spark, path, Seq("f"), "n_occ")

  /** Fold the live deltas into a new snapshot. Returns its version. */
  def compact(spark: SparkSession, path: String): Int =
    DeltaChain.compactSum(spark, path, Seq("f"), "n_occ")

  /** The duplicated-fingerprint set per the INDEXED global counts. The
    * ≥2 filter runs AFTER composition — a gram may cross the threshold
    * only when its per-batch counts are summed (one occurrence last
    * month, one today IS a cross-batch duplicate).
    */
  def duplicatedFingerprints(spark: SparkSession, path: String): DataFrame =
    gramTable(spark, path).filter(col("n_occ") >= 2).select("f")

  /** Cut duplicated spans out of `docs` using the indexed occurrence
    * counts — the batch form of [[SpanDedup.cleanse]] where "appears
    * twice anywhere" means anywhere in INDEXED HISTORY, not just in
    * this batch. Output schema matches SpanDedup.cleanse. `docs` must
    * already be indexed (cleansing an unindexed batch would miss its
    * intra-batch duplicates; index first, then cleanse).
    */
  def cleanseWith(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      minSpanTokens: Int = 20): DataFrame = {
    val g = SpanDedup.gramPositions(docs, idCol, textCol, k)
    val runs = SpanDedup.runsFrom(g, duplicatedFingerprints(spark, path), idCol)
    SpanDedup.cleanseFromSpans(
      SpanDedup.spansFromRuns(runs, docs, idCol, textCol, k, minSpanTokens),
      docs, idCol, textCol)
  }

  /** Reclaim superseded directories (see [[DeltaChain.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Int =
    DeltaChain.vacuum(spark, path)
}
