package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted winnowed-fingerprint index — the MOSS-style fuzzy-dedup
  * path (q102) as an INCREMENTAL operation, completing the persisted-
  * index tier ([[MinHashIndex]] for Jaccard near-dup, [[IvfIndex]] for
  * ANN, this for shared-span fingerprint near-dup).
  *
  * The index is the corpus's posting table `(id, f)` of winnowed
  * Rabin-Karp fingerprints ([[TextFunctions.winnowedFingerprints]] —
  * the native one-pass kernel). A new batch fingerprints itself, joins
  * the index on shared fingerprints, and pairs sharing at least
  * `minShared` survive — exactly the full-corpus computation restricted
  * to pairs touching the batch.
  *
  * Parity posture: the stop-fingerprint cutoff (`df <= maxDf`) is
  * computed over the UNION of index and batch postings, i.e. over the
  * same corpus a from-scratch run would see — so incremental results
  * are parity-EXACT vs the full run (pinned in WinnowIndexSpec), not
  * approximately so. That costs one aggregation pass over the index per
  * batch, the same cost class as the posting join itself (each scans
  * the index once); at persisted-corpus scale, compact the df counts
  * into a sidecar table and merge per batch instead.
  *
  * The table is `postings`; build, append, forget and compact each
  * commit one [[IndexLog]] entry ([[IndexMaintenance]]).
  */
object WinnowIndex {

  private val Table = "postings"

  private def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(TextFunctions.winnowedFingerprints(col(textCol))).as("f"))

  /** Commit the fingerprint postings for an initial corpus (an empty log). */
  def build(docs: DataFrame, path: String, idCol: String, textCol: String): Unit =
    IndexMaintenance.build(path)(Seq(Table -> postings(docs, idCol, textCol)))

  /** Append a new batch's postings (call AFTER deduping the batch
    * against the index).
    *
    * Idempotent at DOC granularity: postings of batch docs whose id is
    * already indexed (in the snapshot the append commits on) are
    * dropped (same anti-join as [[incrementalPairs]]' re-delivery
    * guard), because unlike the band-key indexes these postings feed
    * COUNTS (df, shared_fps) — re-appending a delivered doc would
    * inflate both and silently shift the maxDf/minShared thresholds.
    */
  def append(docs: DataFrame, path: String, idCol: String, textCol: String): Unit = {
    val spark = docs.sparkSession
    IndexMaintenance.append(path)(log => Seq(Table -> postings(docs, idCol, textCol)
      .join(IndexMaintenance.scan(spark, log, Table).select("id").distinct(),
        Seq("id"), "left_anti")))
  }

  /** Compact the postings table in place ([[IndexMaintenance.compact]]);
    * probes through it are bit-identical (pinned in WinnowIndexSpec).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit =
    IndexMaintenance.compact(spark, path, targetFiles, Table)

  /** Fingerprint-sharing pairs INVOLVING the new batch: new-vs-indexed
    * plus new-vs-new, with the df cutoff evaluated over index ∪ batch.
    * Returns `(id_a, id_b, shared_fps)` with `id_a < id_b`.
    */
  def incrementalPairs(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Long = 2L,
      maxDf: Long = 50L): DataFrame = {
    // tombstoned docs leave BOTH the candidate space and the df count
    // here — a from-scratch run over the surviving corpus would never
    // see their postings, and df feeds the maxDf threshold
    val oldPosts = IndexMaintenance.live(spark, IndexLog.read(path), Table)
    // Re-delivered docs (id already indexed) are dropped, making re-
    // delivery idempotent rather than a silent recall hole: their
    // postings are already in oldPosts, so counting them again from the
    // batch would double their fingerprints' df, which can cross maxDf
    // and silently drop pairs. With the anti-join, df is computed over
    // each doc exactly once — the same corpus a from-scratch run sees.
    val newPosts = postings(newDocs, idCol, textCol)
      .join(oldPosts.select("id").distinct(), Seq("id"), "left_anti")
    val keep = oldPosts.unionByName(newPosts)
      .groupBy("f").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("f")
    val nk = newPosts.join(keep, "f")
    val ok = oldPosts.join(keep, "f")
    // the batch postings broadcast; the corpus-sized index postings
    // stream map-side past the pair join instead of shuffling per
    // batch (the df aggregate above still shuffles — maxDf is defined
    // over the UNION, so that term is semantic, not accidental)
    val newVsOld = broadcast(nk.as("n"))
      .join(ok.as("o"), col("n.f") === col("o.f") && col("n.id") =!= col("o.id"))
      .select(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"))
    val newVsNew = nk.as("l")
      .join(nk.as("r"), col("l.f") === col("r.f") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    newVsOld.unionByName(newVsNew)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Tombstone-forget indexed docs ([[IndexMaintenance.forget]]). */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids)
}
