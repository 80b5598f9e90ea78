package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Per-file Bloom-filter data skipping — the POINT-LOOKUP sibling of
  * [[ZoneMap]] (the Delta "bloom filter index" idea): zone maps prune
  * files by range envelope, which is useless for a high-cardinality
  * equality probe over an unclustered column; a per-file Bloom answers
  * "might this file contain key k?" in O(1) regardless of layout.
  *
  * The manifest is one row per file — (file, n_rows, bloom bytes) —
  * built in ONE distributed pass: `groupBy(input_file_name())` with
  * Spark's native `BloomFilterAggregate` (the same TypedImperativeAggregate
  * the engine's runtime row-level filters use; partial aggregation
  * merges blooms executor-side, so no per-file job is ever launched).
  * Persisted as a `_bloomskip_<col>` sidecar, underscore-invisible to
  * readers, same convention as `_zonemap`/`_dv`.
  *
  * Pruning is conservative exactly like ZoneMap's: Bloom false
  * positives only KEEP extra files (the residual `isin` filter restores
  * row-exactness); false negatives do not exist, so `readIn` equals the
  * unpruned filter row-for-row — the q185 oracle pins that equality,
  * BloomSkipSpec pins that skipping actually happens.
  *
  * Keys hash with catalyst's XxHash64 (seed 42) on BOTH sides — the
  * aggregate ingests `xxhash64(col)` and the driver-side probe uses
  * `XxHash64Function.hash` — so build and probe agree bit-for-bit.
  * Tracked column must be LongType (ids, keys) in this v1.
  */
object BloomSkip {

  private def sidecar(tableDir: String, c: String) = s"$tableDir/_bloomskip_$c"

  private def bloomAgg(c: Column, numItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(c))),
        Literal(numItems), Literal(numBits))
        .toAggregateExpression())

  /** One distributed pass: (file, n_rows, bloom) per parquet file. */
  def build(spark: SparkSession, tableDir: String, c: String,
      expectedItemsPerFile: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val bits = BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp)
    Parquet.read(spark, tableDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        bloomAgg(col(c), expectedItemsPerFile, bits).as("bloom"))
  }

  def write(spark: SparkSession, tableDir: String, c: String,
      expectedItemsPerFile: Long = 1000000L, fpp: Double = 0.01): Unit =
    build(spark, tableDir, c, expectedItemsPerFile, fpp)
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(tableDir, c))

  def manifest(spark: SparkSession, tableDir: String, c: String): DataFrame =
    Parquet.read(spark, sidecar(tableDir, c))

  /** Incremental manifest maintenance — [[ZoneMap.append]]'s contract
    * for the Bloom sidecar: scan ONLY data files missing from the
    * manifest (an append batch's new part files), build their blooms,
    * and fold them in. Per-file blooms are independent, so incremental
    * == full rebuild exactly (no merge subtleties). Returns the number
    * of newly indexed files.
    */
  def append(spark: SparkSession, tableDir: String, c: String,
      expectedItemsPerFile: Long = 1000000L, fpp: Double = 0.01): Int = {
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val cur = manifest(spark, tableDir, c)
    val known = cur.select("file").collect().map(r => norm(r.getString(0))).toSet
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val freshFiles = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !known.contains(norm(st.getPath.toString)))
      .map(_.getPath.toString)
    if (freshFiles.isEmpty) return 0
    val bits = BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp)
    val added = Parquet.read(spark, freshFiles: _*)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        bloomAgg(col(c), expectedItemsPerFile, bits).as("bloom"))
    cur.unionByName(added)
      .materialized // materialize: the overwrite must not read itself
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(tableDir, c))
    freshFiles.size
  }

  /** Files that might contain ANY of `keys` — the manifest is
    * file-count-sized (bounded model state, the ZoneMap argument), so
    * collecting and probing it driver-side is manifest work, not data
    * work. False positives keep extra files; absent keys usually prune
    * everything.
    */
  def candidateFiles(spark: SparkSession, tableDir: String, c: String,
      keys: Seq[Long]): Seq[String] = {
    val hashes = keys.map(k => XxHash64Function.hash(k, LongType, 42L))
    manifest(spark, tableDir, c)
      .select("file", "bloom").collect()
      .filter { r =>
        val in = new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))
        val bf = try BloomFilter.readFrom(in) finally in.close()
        hashes.exists(bf.mightContainLong)
      }
      .map(_.getAs[String]("file")).toSeq
  }

  /** Point-lookup read that opens ONLY the candidate files, then applies
    * the exact `isin` predicate (file-granular pruning; the residual
    * filter restores row-exactness). Empty frame with the table schema
    * when every file is pruned.
    */
  def readIn(spark: SparkSession, tableDir: String, c: String,
      keys: Seq[Long]): DataFrame = {
    val files = candidateFiles(spark, tableDir, c, keys)
    val base =
      if (files.isEmpty)
        Parquet.read(spark, tableDir).limit(0)
      else Parquet.read(spark, files: _*)
    base.filter(col(c).isin(keys: _*))
  }
}
