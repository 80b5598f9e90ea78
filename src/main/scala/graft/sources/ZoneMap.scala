package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Manifest-level data skipping — zone maps over a parquet table's
  * files, the technique Iceberg/Delta manifests and warehouse zone maps
  * use to prune FILES before the scan ever lists row groups.
  *
  * Parquet footers already give row-group skipping INSIDE each opened
  * file, but at 100 TB the win that matters comes earlier: a range
  * predicate over a layout-clustered table (sorted, range-partitioned,
  * or Z-ordered — see [[graft.operators.ZOrder]]) should open only the
  * files whose [min, max] envelope intersects the predicate, turning a
  * full-listing scan into a handful of file opens. The manifest is a
  * tiny DataFrame (one row per file) built with one distributed pass —
  * `input_file_name()` grouping, min/max/count per tracked column — and
  * persisted as a `_zonemap` sidecar next to the data (underscore
  * prefix: invisible to partition discovery, same convention as
  * IvfIndex's `_model`).
  *
  * Pruning is conservative by construction: a file is kept unless its
  * envelope PROVABLY excludes the range (nulls keep the file — a null
  * min/max means an all-null or empty column chunk, never license to
  * skip), so `readRange` equals the unpruned filter row-for-row; the
  * spec and the q154 oracle pin that equality while the manifest pin
  * asserts the skip actually happened.
  */
object ZoneMap {

  /** One distributed pass over the table: per-file row count and
    * min/max per tracked column. Column names are encoded as
    * `min_<col>`/`max_<col>` in the manifest schema.
    */
  def build(spark: SparkSession, tableDir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "track at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    Parquet.read(spark, tableDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  def write(spark: SparkSession, tableDir: String, cols: Seq[String]): Unit =
    build(spark, tableDir, cols)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tableDir/_zonemap")

  def manifest(spark: SparkSession, tableDir: String): DataFrame =
    Parquet.read(spark, s"$tableDir/_zonemap")

  /** Incremental manifest maintenance: scan ONLY the data files that are
    * not in the manifest yet (an append's new part files) and fold their
    * rows in. At 100 TB a table gains a handful of files per ingest
    * batch; rebuilding the sidecar with [[write]] would rescan the whole
    * table per batch — this makes manifest upkeep proportional to the
    * batch, the same argument as the persisted-index family's addBatch.
    *
    * File identity is compared on scheme-stripped paths (Hadoop listing
    * says `file:/...` where `input_file_name()` said `file:///...`).
    * The merged manifest is localCheckpoint-materialized before the
    * overwrite so the write never reads its own input. Returns the
    * number of newly indexed files (0 = manifest was current).
    */
  def append(spark: SparkSession, tableDir: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "track at least one column")
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val cur = manifest(spark, tableDir)
    val known = cur.select("file").collect().map(r => norm(r.getString(0))).toSet
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val fresh = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !known.contains(norm(st.getPath.toString)))
      .map(_.getPath.toString)
    if (fresh.isEmpty) return 0
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val added = Parquet.read(spark, fresh: _*)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    cur.unionByName(added)
      .materialized // materialize: the overwrite must not read itself
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tableDir/_zonemap")
    fresh.size
  }

  /** Files whose envelope intersects `[lo, hi]` on `c` — i.e. NOT
    * provably disjoint. Null envelopes (all-null chunks) are kept.
    * The manifest is file-count-sized; collecting it is bounded model
    * state, not data.
    */
  def candidateFiles(
      spark: SparkSession, tableDir: String, c: String,
      lo: Column, hi: Column): Seq[String] =
    manifest(spark, tableDir)
      .filter(!(col(s"max_$c") < lo || col(s"min_$c") > hi) ||
        col(s"min_$c").isNull || col(s"max_$c").isNull)
      .select("file")
      .collect().map(_.getString(0)).toSeq

  /** Range read that opens ONLY the candidate files, then applies the
    * exact predicate (zone pruning is file-granular; the residual
    * filter restores row-exactness). Returns an empty frame with the
    * table's schema when every file is pruned.
    */
  def readRange(
      spark: SparkSession, tableDir: String, c: String,
      lo: Column, hi: Column): DataFrame =
    readBox(spark, tableDir, Seq((c, lo, hi)))

  /** Multi-dimensional box read: a file survives only if its envelope
    * intersects EVERY range (per-dimension candidate sets intersected),
    * then the residual predicate restores row-exactness. On a
    * Z-order-clustered layout ([[graft.operators.ZOrder.cluster]]) each
    * file covers a compact hyper-rectangle, so a box query prunes
    * multiplicatively across dimensions — the zone map turns the
    * z-curve's locality into skipped file opens.
    */
  def readBox(
      spark: SparkSession, tableDir: String,
      ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "at least one range")
    val files = ranges
      .map { case (c, lo, hi) => candidateFiles(spark, tableDir, c, lo, hi).toSet }
      .reduce(_ intersect _)
      .toSeq.sorted
    val pred = ranges
      .map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    if (files.isEmpty)
      Parquet.read(spark, tableDir).filter(lit(false))
    else
      Parquet.read(spark, files: _*).filter(pred)
  }
}
