package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Position-based row-level deletes WITHOUT rewriting data files — the
  * deletion-vector design lakehouse formats use (Delta deletion vectors,
  * Iceberg position deletes): a delete writes only a tiny sidecar of
  * (file, row_index) pairs; data files are immutable; the read path
  * anti-joins the sidecar back out.
  *
  * Layout: parquet data files under `<table>/`, plus sidecars under
  * `<table>/_dv/`, one directory per delete call, with columns
  * (file_path, row_index). The `_dv` dir is
  * invisible to a plain `spark.read.parquet(table)` because Spark's file
  * index hides underscore-prefixed paths — same convention as the
  * `_zonemap` sidecar (sources/ZoneMap.scala).
  *
  * Row addressing uses the parquet reader's `_metadata.row_index` +
  * `_metadata.file_path` constant metadata columns (public Spark 3.4+
  * API) — positions are a property of the immutable file, so they are
  * stable across reads, partitionings, and sessions.
  *
  * Scale posture (100 TB): a delete scans once (filter pushdown applies —
  * the predicate reaches the parquet scan) and writes positions only for
  * matching rows; the read path's anti-join keys on (file, row_index)
  * where the DV side is small by construction (deletes accumulated since
  * the last rewrite), so AQE turns it into a broadcast anti-join.
  * `stats` drives the rewrite decision; `materialize` is the compaction
  * that folds DVs into new files.
  *
  * Generations compose: each delete call writes one more sidecar
  * directory; the live set is data MINUS the union of all sidecars.
  * Deleting rows already dead is a no-op (delete evaluates its predicate
  * on the LIVE view), so re-delivered delete predicates are idempotent.
  *
  * Concurrent deletes: each call writes its generation under a hidden
  * name only it uses and renames it into place, so two writers never
  * share an output directory (and with it Hadoop's `_temporary/0`, where
  * one job's commit deletes the other's uncommitted files), and a reader
  * sees a generation whole or not at all.
  */
object DeletionVectors {

  private def dvPath(table: String) = s"$table/_dv"

  /** Data rows + stable addressing columns (_file, _pos). */
  private def withPos(spark: SparkSession, table: String): DataFrame =
    Parquet.read(spark, table).select(
      col("*"),
      col("_metadata.file_path").as("_file"),
      col("_metadata.row_index").as("_pos"))

  /** Union of all deletion sidecars: (_file, _pos), deduped. Reads every
    * committed generation as one scan.
    */
  def deletedPositions(spark: SparkSession, table: String): DataFrame = {
    val dv = new Path(dvPath(table))
    val fs = dv.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val generations =
      if (!fs.exists(dv)) Array.empty[String]
      else fs.listStatus(dv)
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
    if (generations.nonEmpty)
      Parquet.read(spark, generations: _*).select("_file", "_pos").distinct()
    else
      spark.emptyDataFrame
        .select(lit("").as("_file"), lit(0L).as("_pos")).limit(0)
  }

  /** The live view of the table: data minus all deletion vectors. */
  def read(spark: SparkSession, table: String): DataFrame =
    withPos(spark, table)
      .join(deletedPositions(spark, table), Seq("_file", "_pos"), "left_anti")
      .drop("_file", "_pos")

  /** Mark live rows matching `predicate` deleted by writing one sidecar
    * generation. Returns the number of rows deleted by THIS call.
    */
  def delete(spark: SparkSession, table: String, predicate: Column): Long = {
    val doomed = withPos(spark, table)
      .join(deletedPositions(spark, table), Seq("_file", "_pos"), "left_anti")
      .filter(predicate)
      .select("_file", "_pos")
    // Two passes over a cached position set beats materializing to count:
    // the set is small (it's a delete's output), localCheckpoint bounds it.
    val mat = doomed.materialized
    val n = mat.count()
    if (n > 0) {
      val gen = java.util.UUID.randomUUID()
      val staged = new Path(s"${dvPath(table)}/.g-$gen")
      mat.write.parquet(staged.toString)
      val committed = new Path(s"${dvPath(table)}/g-$gen")
      val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.rename(staged, committed),
        s"could not commit deletion vector $committed")
    }
    n
  }

  /** Per-file live/deleted row counts — the rewrite planner's input:
    * (file_path, n_rows, n_deleted, n_live), one row per DATA file.
    */
  def stats(spark: SparkSession, table: String): DataFrame = {
    val totals = withPos(spark, table)
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("n_rows"))
    val dead = deletedPositions(spark, table)
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("n_deleted"))
    totals
      .join(dead, Seq("_file"), "left_outer")
      .select(
        col("_file").as("file_path"),
        col("n_rows"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        (col("n_rows") - coalesce(col("n_deleted"), lit(0L))).as("n_live"))
  }

  /** Compact: write the live view to `dest` as plain files with no
    * sidecars (the fold-DVs-into-files rewrite).
    */
  def materialize(spark: SparkSession, table: String, dest: String): Unit =
    read(spark, table).write.mode(SaveMode.Overwrite).parquet(dest)
}
