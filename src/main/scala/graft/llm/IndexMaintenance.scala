package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet

/** The band-key index wing on the commit log ([[IndexLog]]):
  * [[MinHashIndex]], [[SimHashIndex]], [[WinnowIndex]] and
  * [[graft.multimodal.PHashIndex]] keep one table each,
  * [[EmbeddingLshIndex]] two, and any persisted index may keep a
  * tombstone table ([[forget]]). A build is the log's first entry and
  * each append the next version; a forget or a compaction commits an
  * entry that keeps the version. A reader takes one log snapshot and
  * scans each table's live directories as one read ([[scan]]), minus
  * the same snapshot's tombstones ([[live]]).
  *
  * Streamed appends leave a shuffle-partition-count of small files per
  * batch; [[compact]] rewrites the tables in place into a few files
  * WITHOUT touching contents beyond the tombstones it applies, so
  * probes through the compacted form are identical (each index's spec
  * pins this; q222 pins it through the oracle for the embedding
  * member).
  */
object IndexMaintenance {

  /** The tombstone table. Underscore-prefixed, so a partition discovery
    * over the index root ([[IvfIndex]]'s cells) never sees it.
    */
  val Dels = "_dels"

  /** Write each of `tables` into a fresh directory of `log`'s attempt
    * and propose them as one entry.
    */
  private def write(log: IndexLog.Log, version: Int, kind: String,
      tables: Seq[(String, DataFrame)], supersedes: Seq[String] = Nil): IndexLog.Entry =
    log.propose(version, kind, tables.map { case (t, df) =>
      val dir = log.newDir(t)
      df.write.parquet(dir)
      t -> dir
    }.toMap, supersedes)

  /** Commit `tables` as the first entry (version 1) of the index at
    * `path`. They are evaluated once the log is known to be empty, so a
    * build writes its sidecars there, before its entry commits.
    */
  def build(path: String)(tables: => Seq[(String, DataFrame)]): Unit =
    IndexLog.commit(path) { log =>
      require(log.entries.isEmpty, s"an index already exists at $path")
      write(log, 1, "build", tables)
    }

  /** Commit the tables `batch` derives from a log snapshot as the next
    * version.
    */
  def append(path: String)(batch: IndexLog.Log => Seq[(String, DataFrame)]): Unit =
    IndexLog.commit(path) { log =>
      require(log.latestVersion.nonEmpty, s"no index at $path")
      write(log, log.nextVersion, "append", batch(log))
    }

  /** TOMBSTONE-forget ids: the takedown path of the band-key wing and
    * [[IvfIndex]], mirroring [[Bm25Index.deleteDocs]] in the versioned
    * exact tier. The tables are append-only and at 100 TB a physical
    * delete would rewrite them, so forgetting commits the ids (`ids`'
    * first column, type preserved — every wing table keys on `id`) as
    * a tombstone entry; every probe anti-joins its history side against
    * them ([[live]], broadcast — the tombstone set is small by
    * construction) and [[compact]] materializes them. A forgotten id
    * must not be re-ingested while its tombstone is live (the anti-join
    * would hide the new rows); after a compact the id is free again.
    */
  def forget(path: String, ids: DataFrame): Unit =
    tombstone(path, Dels, ids.select(col(ids.columns.head).as("id")))

  /** Commit `rows` into the tombstone table `table`, keeping the version. */
  private[llm] def tombstone(path: String, table: String, rows: DataFrame): Unit =
    IndexLog.commit(path)(log => write(log, log.latestVersion.getOrElse(0), "forget",
      Seq(table -> rows.distinct().coalesce(1))))

  /** `table`'s live directories in the snapshot `log`, as one scan. */
  def scan(spark: SparkSession, log: IndexLog.Log, table: String): DataFrame = {
    val dirs = log.live(table)
    require(dirs.nonEmpty, s"no $table table in the index at ${log.root}")
    Parquet.read(spark, dirs: _*)
  }

  /** The tombstone table `table` of the snapshot `log`, or None when
    * nothing was forgotten.
    */
  def tombstones(spark: SparkSession, log: IndexLog.Log,
      table: String = Dels): Option[DataFrame] =
    Some(log.live(table)).filter(_.nonEmpty).map(Parquet.read(spark, _: _*))

  /** [[scan]] of `table` minus the snapshot's tombstoned ids. */
  def live(spark: SparkSession, log: IndexLog.Log, table: String): DataFrame = {
    val t = scan(spark, log, table)
    tombstones(spark, log).fold(t)(dd => t.join(broadcast(dd), Seq("id"), "left_anti"))
  }

  /** Rewrite `tables` of the index at `path` in place into
    * `targetFiles` files each, tombstones applied: the entry adds the
    * rewrites and supersedes every live directory it read, the
    * tombstones' included. Appends and forgets committed after its
    * snapshot stay live.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
      tables: String*): Unit = {
    require(targetFiles >= 1)
    IndexLog.commit(path) { log =>
      val v = log.latestVersion.getOrElse(
        throw new IllegalStateException(s"no index at $path"))
      write(log, v, "compact",
        tables.map(t => t -> live(spark, log, t).coalesce(targetFiles)),
        (tables :+ Dels).flatMap(log.live))
    }
  }

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
    * `latest >= batchId + 1` already committed and skips.
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
}
