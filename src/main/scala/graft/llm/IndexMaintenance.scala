package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared maintenance for the band-key index wing (minhash, simhash,
  * winnow, perceptual, embedding): flat-append indexes accumulate a
  * shuffle-partition-count of small parquet files per batch — a
  * streamed ingest leaves thousands after a day — and compaction
  * rewrites a table into a few files WITHOUT touching contents, so
  * probes through the compacted form are bit-identical (each index's
  * spec pins this; q222 pins it through the oracle for the embedding
  * member). Compaction always writes a NEW successor path rather than
  * swapping in place: the wing's crash contract ("re-append on any
  * doubt" — torn appends only cost recall on the torn rows) does NOT
  * extend to a torn in-place swap, which could lose a whole table.
  * An immutable successor keeps recovery trivial (retry overwrites
  * it; the original is never written), and callers flip their index
  * pointer ([[commitLivePointer]]) only after the rewrite returns.
  */
object IndexMaintenance {

  /** Rewrite one flat parquet table into `targetFiles` files at
    * `outPath`, contents identical — except that tombstones (see
    * [[appendTombstones]]) are MATERIALIZED: forgotten ids are
    * physically filtered out of the rewrite and the successor carries
    * no `_dels` sidecar (underscore-prefixed dirs are invisible to the
    * table read, so nothing copies it).
    */
  def compactTable(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): Unit = {
    require(targetFiles >= 1)
    minusTombstones(spark, inPath, spark.read.parquet(inPath))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(outPath)
  }

  /** TOMBSTONE-forget ids from a flat-append index table — the
    * takedown path for the band-key wing, mirroring
    * [[Bm25Index.deleteDocs]] in the versioned exact tier. The table
    * is append-only and at 100 TB a physical delete would rewrite it,
    * so forgetting APPENDS the ids to a `_dels` sidecar INSIDE the
    * table directory (the underscore prefix makes it invisible to the
    * table's own parquet reads — the same convention as SimHashIndex's
    * `_params`), and every probe anti-joins its history side against
    * it via [[minusTombstones]] (broadcast — the tombstone set is
    * small by construction). [[compactTable]] materializes tombstones.
    *
    * Crash semantics extend the wing's "re-append on any doubt": a
    * torn `_dels` append is a partially applied delete; retry
    * re-appends, and duplicate tombstone rows are absorbed by the
    * anti-join. A forgotten id must not be re-ingested while its
    * tombstone is live (the anti-join would hide the new rows); after
    * a compact the id is free again. `ids`' first column is taken as
    * the id, type preserved (all wing tables key on a long `id`).
    */
  def appendTombstones(tablePath: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$tablePath/_dels")

  /** Exactly-once guard for checkpointed foreachBatch folds into the
    * VERSIONED exact-index tier (Bm25Index, LineDedupIndex, CmsIndex,
    * SpanDedupIndex, FamilyIndex, FrontierIndex). foreachBatch is
    * at-least-once: a crash after the index committed version N+1 but
    * before the streaming checkpoint committed batch N re-delivers
    * batch N on restart, and a second fold would DOUBLE the batch's
    * counts — the commit log ([[IndexLog]]) cannot see this case,
    * because the replayed fold is a fresh, valid commit. The guard
    * exploits that every fold bumps the version by exactly one, so with
    * a fresh checkpoint the invariant is `version == batchId + 1` after
    * folding batch `batchId`: a replayed batch finds
    * `latest >= batchId + 1` already committed and skips. (The band-key wing doesn't need this —
    * re-appending band keys only adds candidate-join work, its
    * documented "re-append on any doubt" contract.)
    *
    * The invariant requires the CHECKPOINT and the INDEX to share a
    * lifetime. A FRESH checkpoint over a PRE-EXISTING index restarts
    * batchIds at 0 while the chain sits at some v=B — the naive guard
    * would silently skip every legitimate fold. Such callers must pass
    * that starting version as `base` (read `latestVersion` once before
    * starting the stream); the invariant becomes
    * `version == base + batchId + 1`.
    */
  def foldOnce(batchId: Long, latestVersion: Option[Int],
      base: Int = 0)(fold: => Unit): Unit =
    if (!latestVersion.exists(_ >= base + batchId + 1)) fold

  /** COMMIT the live-directory pointer for the logical index rooted at
    * `root`: successor-directory compaction ([[compactTable]] and the
    * per-index `compact`s) deliberately never touches the original, so
    * some on-disk arbiter must say which directory is live — without
    * one, a crash between compact-return and the caller's pointer flip
    * leaves two plausible live dirs and nothing to break the tie. The
    * pointer is an [[IndexLog]] under `root/_live` (underscore ⇒
    * invisible to any parquet read of `root`) whose entries carry the
    * live directory: a torn flip commits no entry and the PREDECESSOR
    * stays authoritative. Returns the committed pointer version.
    */
  def commitLivePointer(spark: SparkSession, root: String,
      dir: String): Int =
    IndexLog.commit(s"$root/_live")(log =>
      log.propose(log.nextVersion, "live", Map("live" -> dir))).version

  /** Probe-side resolution: the committed pointer when one exists,
    * else `default` (the original pre-compaction directory).
    */
  def resolveLive(spark: SparkSession, root: String,
      default: String): String =
    IndexLog.read(s"$root/_live").entries.lastOption
      .fold(default)(_.adds("live"))

  /** A tombstone sidecar (`_dels` unless named) of a table, or None
    * when nothing was ever forgotten.
    */
  def tombstones(spark: SparkSession, tablePath: String,
      sidecar: String = "_dels"): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$tablePath/$sidecar")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else Some(spark.read.parquet(p.toString))
  }

  /** `t` (rows of the table at `tablePath`, or any frame carrying its
    * `id` column) minus tombstoned ids; no-op without a `_dels` sidecar.
    */
  def minusTombstones(spark: SparkSession, tablePath: String,
      t: DataFrame): DataFrame =
    tombstones(spark, tablePath)
      .map(dd => t.join(broadcast(dd), Seq("id"), "left_anti"))
      .getOrElse(t)
}
