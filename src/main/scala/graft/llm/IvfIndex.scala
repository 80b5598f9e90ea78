package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.functions.VectorFunctions
import graft.operators.TopK
import graft.sources.PartitionedSink

/** Persisted IVF (inverted-file) ANN index — the serving shape of
  * [[Clustering]]'s cell-pruned search: train a k-means codebook once,
  * write the corpus hive-partitioned BY CELL, and answer queries by
  * probing only the nprobe nearest cells' directories.
  *
  * The scale story is in the layout, not the math: the probe join keys
  * on the PARTITION column of the index, so Spark's dynamic partition
  * pruning turns "which cells to read" into directory-level pruning —
  * a 1000-cell index at 100 TB reads nprobe/1000 of its bytes per
  * query batch, with no driver-side file bookkeeping. The codebook
  * rides in a `_model` sidecar (underscore-prefixed: invisible to the
  * partition discovery that reads the index itself).
  *
  * Everything inherits [[Clustering]]'s determinism: quantized
  * centroids, exact integer cell distances, id tie-breaks — so recall
  * against the exact baseline is a fixed, replayable quantity.
  */
object IvfIndex {

  /** Train a k-cell codebook on `emb` and write the index at `path`:
    * hive partitions `cell=0..k-1` plus the `_model` sidecar.
    */
  def build(
      emb: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 8,
      iters: Int = 1): Unit = {
    val cents = Clustering.trainCentroids(emb, idCol, vecCol, k, iters)
    val assigned = emb.select(col(idCol), col(vecCol),
      Clustering.nearest(Clustering.quantize(col(vecCol)), cents)
        .getField("c").cast("int").as("cell"))
    PartitionedSink.writePartitioned(assigned, path, Seq("cell"))
    val spark = emb.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_model")
  }

  /** Append a new vector batch to an existing index: assign against the
    * STORED codebook (no retraining — the codebook is the index's
    * contract; all cell boundaries stay fixed) and append into the
    * hive-partitioned cell layout. A search over build(A) + append(B)
    * is therefore IDENTICAL to one over an index built from A ∪ B with
    * the same codebook — assignment depends only on (vector, codebook)
    * (pinned in IvfIndexSpec). Retrain + rebuild when drift between the
    * codebook and the grown corpus degrades recall; [[loadCentroids]] +
    * [[Clustering.trainCentroids]] make that an offline decision, not
    * an ingest-path one.
    */
  def append(
      emb: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val cents = loadCentroids(spark, path)
    require(cents.nonEmpty, s"no codebook under $path/_model")
    val assigned = emb.select(col(idCol), col(vecCol),
      Clustering.nearest(Clustering.quantize(col(vecCol)), cents)
        .getField("c").cast("int").as("cell"))
    PartitionedSink.writePartitioned(assigned, path, Seq("cell"),
      mode = "append")
  }

  /** The codebook back from the sidecar (k rows to the driver — the
    * model, not the data).
    */
  def loadCentroids(spark: SparkSession, path: String): Seq[Array[Long]] =
    Parquet.read(spark, s"$path/_model").orderBy("cell").collect()
      .map(_.getSeq[Long](1).toArray).toSeq

  /** Top-k cosine neighbors for every row of `queries`, probing each
    * query's `nprobe` nearest cells. The tiny probe set broadcasts;
    * joining it on the index's partition column lets dynamic partition
    * pruning skip every unprobed cell directory at runtime.
    */
  def search(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      nprobe: Int = 2): DataFrame = {
    val cents = loadCentroids(spark, path)
    require(cents.nonEmpty, s"no codebook under $path/_model")
    require(nprobe >= 1 && nprobe <= cents.size, "1 <= nprobe <= cells")
    // (distance, cell) per centroid; array_sort orders by the struct's
    // leading distance field (cell id breaks exact ties)
    val qv = Clustering.quantize(col(vecCol))
    val cellArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct(Clustering.qDistSq(qv, c).as("d"), lit(i).as("c"))
    }: _*)
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(array_sort(cellArr), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("qv"), col("probe.c").as("cell"))
    val index0 = Parquet.read(spark, path)
    // tombstoned vectors leave the candidate space (see [[forget]]);
    // the sidecar keys on "id", the index on the caller's idCol
    val index = IndexMaintenance.tombstones(spark, IndexLog.read(path))
      .map(dd => index0.join(
        broadcast(dd.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti"))
      .getOrElse(index0)
    val cand = index.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("sim", VectorFunctions.cosine(col("qv"), col(vecCol)))
    TopK.perGroup(cand,
        partitionCols = Seq(col("query_id")),
        orderCols = Seq(col("sim").desc, col(idCol).asc),
        k = k, rankCol = "knn_rank")
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("knn_rank"), col("sim"))
  }

  /** Tombstone-forget indexed vectors — the takedown path, completing
    * the wing-wide contract ([[IndexMaintenance.forget]]): the cell
    * layout is append-only, so forgetting commits ids to the index's
    * log (its `_dels` table is invisible to partition discovery, like
    * `_model`) and [[search]] anti-joins candidates against them.
    * [[compact]] materializes. No re-ingest of a forgotten id while its
    * tombstone is live.
    */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids)

  /** Rewrite the cell layout into a SUCCESSOR directory (the `_model`
    * sidecar rides along), materializing any tombstones — fewer files
    * per cell after many appended batches, identical probe results.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      idCol: String = "vec_id"): Unit = {
    val t = Parquet.read(spark, path)
    val live = IndexMaintenance.tombstones(spark, IndexLog.read(path))
      .map(dd => t.join(
        broadcast(dd.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti"))
      .getOrElse(t)
    PartitionedSink.writePartitioned(live, outPath, Seq("cell"))
    Parquet.read(spark, s"$path/_model").coalesce(1)
      .write.mode("overwrite").parquet(s"$outPath/_model")
  }
}
