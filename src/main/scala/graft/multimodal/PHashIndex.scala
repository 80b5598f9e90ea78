package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{IndexLog, IndexMaintenance}
import graft.operators.BucketCaps
import graft.operators.Iterate.MaterializeOps

/** Persisted perceptual-hash band index — image (or audio/video-frame)
  * near-dup detection as an INCREMENTAL operation, the multimodal
  * member of the band-key index wing ([[graft.llm.MinHashIndex]],
  * [[graft.llm.SimHashIndex]]): each arriving batch dedups against the
  * already-ingested corpus through a band-key join, and history is
  * never re-decoded or re-hashed.
  *
  * The index rows are the band-exploded hashes
  * `(id, h1, h2, band, key)` — and because the 64-bit fingerprint IS
  * the verification input (exact XOR popcount, no raster access), the
  * probe path never touches historical image bytes at all: candidate
  * generation AND verification both run off the index. That is the
  * whole-pipeline version of the property that makes perceptual
  * hashing deployable at 100 TB — the media bytes are read once, at
  * ingest.
  *
  * The table is `bands`; build, append, forget and compact each commit
  * one [[graft.llm.IndexLog]] entry ([[graft.llm.IndexMaintenance]]).
  * Caps are per-written-batch plus per-probe; cross-batch occupancy
  * divergence is observable via [[cappedBucketReport]].
  */
object PHashIndex {

  private val Table = "bands"

  private def explodeBands(hashes: DataFrame, idCol: String): DataFrame =
    hashes.select(col(idCol).as("id"), col("h1"), col("h2"),
        explode(array(
          struct(lit(0).as("band"),
            col("h1").bitwiseAND(lit(0xffffL)).as("key")),
          struct(lit(1).as("band"), shiftright(col("h1"), 16).as("key")),
          struct(lit(2).as("band"),
            col("h2").bitwiseAND(lit(0xffffL)).as("key")),
          struct(lit(3).as("band"), shiftright(col("h2"), 16).as("key"))))
          .as("bx"))
      .select(col("id"), col("h1"), col("h2"),
        col("bx.band").as("band"), col("bx.key").as("key"))

  private def bandTable(hashes: DataFrame, idCol: String,
      maxBucketSize: Long): Seq[(String, DataFrame)] =
    Seq(Table -> BucketCaps.capBuckets(explodeBands(hashes, idCol),
      Seq(col("band"), col("key")), maxBucketSize))

  /** Commit the band index for an initial hash table `(id, h1, h2)`. */
  def build(hashes: DataFrame, path: String, idCol: String = "id",
      maxBucketSize: Long = 10000L): Unit =
    IndexMaintenance.build(path)(bandTable(hashes, idCol, maxBucketSize))

  /** Append a new batch's band rows (call AFTER probing the batch). */
  def append(hashes: DataFrame, path: String, idCol: String = "id",
      maxBucketSize: Long = 10000L): Unit =
    IndexMaintenance.append(path)(_ => bandTable(hashes, idCol, maxBucketSize))

  /** Compact the band table in place ([[IndexMaintenance.compact]]);
    * probes through it are bit-identical (pinned in PHashIndexSpec).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit =
    IndexMaintenance.compact(spark, path, targetFiles, Table)

  /** Buckets whose cross-batch occupancy exceeds the cap — the
    * condition under which incremental results can diverge from a
    * single-pass run (see [[graft.llm.MinHashIndex.cappedBucketReport]]).
    */
  def cappedBucketReport(spark: SparkSession, path: String,
      maxBucketSize: Long = 10000L): DataFrame =
    BucketCaps.overflowBuckets(IndexMaintenance.live(spark, IndexLog.read(path), Table),
      Seq(col("band"), col("key")), maxBucketSize)

  /** Near-dup pairs of a NEW hash batch against indexed history AND
    * itself: `(id_a, id_b, hamming ≤ radius)`, verified entirely from
    * the carried hash halves. Probe BEFORE [[append]]ing the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newHashes: DataFrame,
      idCol: String = "id",
      radius: Int = 8,
      maxBucketSize: Long = 10000L): DataFrame = {
    // batch keys broadcast: the persisted index streams map-side past
    // the probe instead of shuffling per batch (wing-wide posture)
    val newKeys = BucketCaps.capBuckets(explodeBands(newHashes, idCol),
        Seq(col("band"), col("key")), maxBucketSize)
      .materialized
    val oldKeys = IndexMaintenance.live(spark, IndexLog.read(path), Table)
    val newVsOld = broadcast(newKeys.as("n"))
      .join(oldKeys.as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key") &&
          col("n.id") =!= col("o.id"))
      .select(
        least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"),
        when(col("n.id") < col("o.id"), col("n.h1")).otherwise(col("o.h1"))
          .as("h1a"),
        when(col("n.id") < col("o.id"), col("n.h2")).otherwise(col("o.h2"))
          .as("h2a"),
        when(col("n.id") < col("o.id"), col("o.h1")).otherwise(col("n.h1"))
          .as("h1b"),
        when(col("n.id") < col("o.id"), col("o.h2")).otherwise(col("n.h2"))
          .as("h2b"))
    val newVsNew = broadcast(newKeys.as("l"))
      .join(newKeys.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.h1").as("h1a"), col("l.h2").as("h2a"),
        col("r.h1").as("h1b"), col("r.h2").as("h2b"))
    newVsOld.union(newVsNew).distinct()
      .withColumn("hamming",
        (bit_count(col("h1a").bitwiseXOR(col("h1b"))) +
          bit_count(col("h2a").bitwiseXOR(col("h2b")))).cast("long"))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b", "hamming")
  }

  /** Tombstone-forget indexed docs ([[IndexMaintenance.forget]]). */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids)
}
