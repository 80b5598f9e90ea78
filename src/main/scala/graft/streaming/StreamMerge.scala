package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Parquet
import graft.operators.ChangeCapture

/** Streaming MERGE sink — the foreachBatch upsert pattern that table
  * formats build in: each microbatch becomes a changeset, is MERGEd
  * ([[ChangeCapture.merge]]) into the current target snapshot, and the
  * result is written back as a NEW versioned snapshot directory
  * (`v<batchId+1>`), never overwriting the one readers may be scanning —
  * the copy-on-write scheme of Delta/Iceberg reduced to plain parquet
  * directories.
  *
  * Exactly-once: the version directory is named by batchId, so a
  * re-delivered batch (failure replay) overwrites ITS OWN output
  * directory rather than double-applying — the write is idempotent per
  * batch, which together with the checkpointed source offsets gives
  * end-to-end exactly-once.
  *
  * Scale posture: the per-batch merge is the batch operator (one
  * full-outer shuffle, co-located if the target is bucketed); the
  * rewrite cost is the known copy-on-write amplification — production
  * systems partition the target and rewrite only touched partitions.
  * Driver state is one Long (the latest version).
  */
object StreamMerge {

  /** Run a bounded changes stream to completion, merging every batch
    * into the versioned target under `dir`. `prepare` turns a raw
    * microbatch into a changeset (target columns + `opCol`), e.g. a
    * per-key aggregation — it runs INSIDE foreachBatch on the bounded
    * batch, so it may use any batch operation. Returns the final target.
    */
  def run(
      spark: SparkSession,
      changes: DataFrame,
      targetInit: DataFrame,
      keys: Seq[String],
      opCol: String,
      dir: String,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    // Resume-aware: pick up the highest existing version rather than
    // re-seeding v0 — a restart with an intact checkpoint must continue
    // from the last committed snapshot (the checkpoint replays nothing,
    // so a reset target would silently lose every applied batch).
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val existing =
      if (fs.exists(dirPath))
        fs.listStatus(dirPath).map(_.getPath.getName)
          .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      else Array.empty[Long]
    @volatile var latest =
      if (existing.nonEmpty) existing.max
      else { targetInit.write.mode("overwrite").parquet(s"$dir/v0"); 0L }
    StreamOps.drain(changes, s"$dir/_checkpoint") { (batch, batchId) =>
      val s = batch.sparkSession
      val target = Parquet.read(s, s"$dir/v$latest")
      val merged = ChangeCapture.merge(target, prepare(batch), keys, opCol)
      merged.write.mode("overwrite").parquet(s"$dir/v${batchId + 1}")
      latest = batchId + 1
    }
    Parquet.read(spark, s"$dir/v$latest")
  }

  /** Versions currently present under `dir`, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted.toSeq
  }

  /** Time travel: the table as of `version` (default: latest). Every
    * version is a full copy-on-write snapshot, so this is a plain read —
    * no log replay.
    */
  def snapshotAt(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no snapshots under $dir")
    val v = if (version < 0) vs.max else version
    require(vs.contains(v), s"version $v not present (have ${vs.mkString(",")})")
    Parquet.read(spark, s"$dir/v$v")
  }

  /** Expire old snapshots, keeping the `keepLast` most recent (at least
    * 1). Readers of expired versions lose time travel to them — the
    * same contract as table-format VACUUM; the latest snapshot is never
    * touched.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val expired = versions(spark, dir).dropRight(keepLast)
    expired.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v"), true))
    expired
  }

  /** Partition-pruned streaming MERGE: the target lives as ONE parquet
    * table partitioned by a key-derived bucket, and each microbatch
    *   1. buckets its changeset,
    *   2. reads ONLY the touched buckets of the target (partition
    *      pruning at the scan),
    *   3. merges, and
    *   4. rewrites ONLY those buckets (dynamic partition overwrite).
    * This trades [[run]]'s full-snapshot time travel for write
    * amplification proportional to the TOUCHED data, not the table —
    * the difference between rewriting 100 TB and rewriting the few
    * buckets a batch touches. The same tradeoff table formats expose as
    * copy-on-write vs merge-on-read compaction policy.
    *
    * Buckets derive from `pmod(key, numBuckets)` (single LONG key — the
    * fact-table common case; a production variant hashes composite
    * keys). The touched-bucket list is `≤ numBuckets` driver-side longs.
    */
  def runPartitioned(
      spark: SparkSession,
      changes: DataFrame,
      targetInit: DataFrame,
      key: String,
      opCol: String,
      dir: String,
      numBuckets: Int,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = s"$dir/data"
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("__bucket", pmod(col(key), lit(numBuckets.toLong)))
    val dataPath = new org.apache.hadoop.fs.Path(data)
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dataPath))
      bucketed(targetInit).write.partitionBy("__bucket").parquet(data)
    StreamOps.drain(changes, s"$dir/_checkpoint") { (batch, _) =>
      val s = batch.sparkSession
      val changeset = bucketed(prepare(batch))
      val touched = changeset.select("__bucket").distinct()
        .collect().map(_.getLong(0))
      if (touched.nonEmpty) {
        val slice = Parquet.read(s, data)
          .filter(col("__bucket").isin(touched: _*))
          .drop("__bucket")
        val merged = ChangeCapture.merge(
          slice, changeset.drop("__bucket"), Seq(key), opCol)
        val mergedB = bucketed(merged).persist()
        mergedB.write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").partitionBy("__bucket").parquet(data)
        // Dynamic overwrite only replaces partitions PRESENT in the
        // output: a bucket whose rows were all deleted must be
        // removed explicitly or its stale files would survive.
        val kept = mergedB.select("__bucket").distinct()
          .collect().map(_.getLong(0)).toSet
        mergedB.unpersist()
        touched.filterNot(kept).foreach { b =>
          fs.delete(
            new org.apache.hadoop.fs.Path(s"$data/__bucket=$b"), true)
        }
      }
    }
    Parquet.read(spark, data).drop("__bucket")
  }
}
