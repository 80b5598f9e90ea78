package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Persisted SimHash multi-index — Hamming-radius near-dup detection as
  * an INCREMENTAL operation, completing the persisted-index tier
  * ([[MinHashIndex]] Jaccard, [[WinnowIndex]] shared spans,
  * [[IvfIndex]] ANN, this Hamming).
  *
  * The index is the corpus's banding table `(id, simhash, combo, bkey)`
  * ([[SimHashDedup.bandKeys]] — Manku multi-index combos). A new batch
  * generates its own keys, joins the index (new-vs-old) and itself
  * (new-vs-new), and candidates are verified exactly: by `bit_count`
  * Hamming distance (pure SimHash semantics) or by shingle Jaccard
  * (no-false-positive dedup). Storing the signature IN the index means
  * verification of new-vs-old candidates never touches old text for the
  * Hamming form — one long per historical doc.
  *
  * Recall carries over from the full-corpus operator unchanged: the
  * pigeonhole guarantee is per-pair (a pair within `radius` collides on
  * some combo key no matter which batch each side arrived in), so
  * incremental results equal the full run's batch-touching slice
  * (pinned in SimHashIndexSpec). Hot-bucket caps apply per written
  * batch, same caveat as [[MinHashIndex]]: [[cappedBucketReport]]
  * surfaces when cross-batch occupancy breaks that equivalence.
  *
  * The table is `bands`; build, append, forget and compact each commit
  * one [[IndexLog]] entry ([[IndexMaintenance]]).
  */
object SimHashIndex {

  private val Table = "bands"

  /** The banding parameters an index was BUILT with, from its `_params`
    * sidecar (underscore-prefixed, like [[IvfIndex]]'s `_model`:
    * invisible to partition discovery over the index itself). Band keys
    * are `xxhash64(combo, block values)`, so keys generated under a
    * different (radius, blocks) scheme essentially never collide with
    * the stored ones — probing with mismatched parameters would return
    * a silently near-empty candidate set, not an error. The sidecar
    * makes that a hard failure instead.
    */
  def storedParams(spark: SparkSession, path: String): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_params")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val r = Parquet.read(spark, p.toString).head()
      Some((r.getAs[Int]("radius"), r.getAs[Int]("blocks")))
    }
  }

  private def requireParamsMatch(spark: SparkSession, path: String,
      radius: Int, blocks: Int): Unit =
    storedParams(spark, path).foreach { case (r, b) =>
      require(r == radius && b == blocks,
        s"SimHashIndex at $path was built with (radius=$r, blocks=$b); " +
          s"probing/appending with (radius=$radius, blocks=$blocks) would " +
          "generate band keys that never match the stored ones")
    }

  /** Commit the banding index for an initial corpus (an empty log),
    * after the `_params` sidecar recording (radius, blocks).
    */
  def build(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexMaintenance.build(path) {
      Seq((radius, blocks)).toDF("radius", "blocks")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_params")
      Seq(Table -> graft.operators.BucketCaps.capBuckets(
        SimHashDedup.bandKeys(docs, idCol, textCol, radius, blocks),
        Seq(col("combo"), col("bkey")), maxBucketSize))
    }
  }

  /** Append a new batch's band keys (call AFTER deduping the batch
    * against the index). Parameters are validated against the sidecar.
    */
  def append(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): Unit = {
    requireParamsMatch(docs.sparkSession, path, radius, blocks)
    IndexMaintenance.append(path)(_ => Seq(Table ->
      graft.operators.BucketCaps.capBuckets(
        SimHashDedup.bandKeys(docs, idCol, textCol, radius, blocks),
        Seq(col("combo"), col("bkey")), maxBucketSize)))
  }

  /** Compact the band-key table in place ([[IndexMaintenance.compact]]);
    * probes through it are bit-identical (pinned in SimHashIndexSpec).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit =
    IndexMaintenance.compact(spark, path, targetFiles, Table)

  /** Candidate pairs INVOLVING the new batch, with exact Hamming
    * distances: new-vs-indexed plus new-vs-new. Returns
    * `(id_a, id_b, hamming)` with `id_a < id_b`.
    */
  def incrementalCandidates(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): DataFrame = {
    requireParamsMatch(spark, path, radius, blocks)
    // materialize the admission-bounded batch keys once (two join
    // consumers) and BROADCAST them: the persisted index is the
    // corpus-sized side and must stream map-side past the probe, never
    // shuffle per batch (the MinHashIndex probe lesson, measured there)
    val newKeys = graft.operators.BucketCaps.capBuckets(
        SimHashDedup.bandKeys(newDocs, idCol, textCol, radius, blocks),
        Seq(col("combo"), col("bkey")), maxBucketSize)
      .materialized
    val oldKeys = IndexMaintenance.live(spark, IndexLog.read(path), Table)
    val newVsOld = broadcast(newKeys.as("n"))
      .join(oldKeys.as("o"),
        col("n.combo") === col("o.combo") && col("n.bkey") === col("o.bkey") &&
          col("n.id") =!= col("o.id"))
      .select(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"),
        bit_count(col("n.simhash").bitwiseXOR(col("o.simhash"))).as("hamming"))
    val newVsNew = broadcast(newKeys.as("l"))
      .join(newKeys.as("r"),
        col("l.combo") === col("r.combo") && col("l.bkey") === col("r.bkey") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
    newVsOld.unionByName(newVsNew).distinct()
  }

  /** Pairs involving the batch within `radius` Hamming distance — pure
    * SimHash semantics; old-side verification uses only the indexed
    * signature, never historical text.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): DataFrame =
    incrementalCandidates(spark, path, newDocs, idCol, textCol,
        radius, blocks, maxBucketSize)
      .filter(col("hamming") <= radius)

  /** Banding candidates with exact shingle-Jaccard verification against
    * `allDocs` (must cover batch and indexed ids — Jaccard needs text).
    * Same contract and same scale valve as
    * [[SimHashDedup.nearDupPairsJaccard]]: candidates are prefiltered to
    * `hamming <= radius` before the shingle-array verification join, so
    * out-of-radius combo collisions die as two-long rows instead of
    * hauling document shingles through the shuffle.
    */
  def incrementalNearDupPairsJaccard(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      allDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      // same defaults as build/append (not SimHashDedup's Jaccard form's
      // 5/8): the index's key scheme is fixed at build time, so every
      // entry point must agree by default — mismatches are also caught
      // against the `_params` sidecar
      radius: Int = 3,
      blocks: Int = 6,
      shingleWords: Int = 3,
      maxBucketSize: Long = 100000L): DataFrame = {
    // verify only the docs the candidates touch: `allDocs` may be the
    // whole corpus, and shingling + shuffling non-candidate docs is a
    // corpus-proportional probe term (the MinHashIndex measurement)
    val cands = incrementalCandidates(spark, path, newDocs, idCol,
        textCol, radius, blocks, maxBucketSize)
      .filter(col("hamming") <= radius)
      .materialized
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    JaccardVerify.verify(cands,
      allDocs.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, threshold, shingleWords)
  }

  /** Buckets whose cross-batch occupancy exceeds the per-batch cap —
    * the incremental-vs-full divergence signal (see [[MinHashIndex]]).
    */
  def cappedBucketReport(
      spark: SparkSession,
      path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    graft.operators.BucketCaps.overflowBuckets(
      IndexMaintenance.live(spark, IndexLog.read(path), Table),
      Seq(col("combo"), col("bkey")), maxBucketSize)

  /** Tombstone-forget indexed docs ([[IndexMaintenance.forget]]). */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids)
}
