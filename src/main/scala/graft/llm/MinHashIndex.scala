package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Persisted MinHash band-key index — near-dup detection as an
  * INCREMENTAL operation: dedup each arriving batch against the
  * already-ingested corpus without ever re-clustering it.
  *
  * The index is the corpus's (id, band, bkey) table
  * ([[MinHashDedup.bandKeys]]). A new batch generates its own band
  * keys, joins them against the index (new-vs-old candidates) and
  * against itself (new-vs-new), and only those candidates are
  * jaccard-verified. Per batch, cost scales with |batch| × bucket
  * occupancy — the 100 TB history is touched only through the band-key
  * join, never re-shingled, never re-signed.
  *
  * Hot-bucket posture: `build`/`append` cap buckets WITHIN the written
  * batch and `incrementalNearDupPairs` caps the new batch's keys, so a
  * degenerate bucket fans out at most capᵒˡᵈ × capⁿᵉʷ per band — never
  * quadratic in the corpus. (Cross-batch occupancy of one bucket can
  * exceed a single batch's cap; cap at build time if batches are tiny.)
  * Capping is a silent recall trade: [[cappedBucketReport]] makes it
  * observable — run it when parity with a full-corpus pass matters.
  *
  * The table is `bands`; build, append, forget and compact each commit
  * one [[IndexLog]] entry ([[IndexMaintenance]]).
  */
object MinHashIndex {

  private val Table = "bands"

  /** Buckets whose CROSS-BATCH occupancy in the persisted index exceeds
    * `maxBucketSize` — exactly the condition under which incremental
    * results can diverge from a single-pass full-corpus run (each batch
    * stayed under the cap, but the union did not, so a full run would
    * have dropped the bucket while the incremental path kept it — or
    * vice versa). Empty report ⇒ parity-equivalent. Returns
    * (band, bkey, occupancy).
    */
  def cappedBucketReport(
      spark: SparkSession,
      path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    graft.operators.BucketCaps.overflowBuckets(
      IndexMaintenance.live(spark, IndexLog.read(path), Table),
      Seq(col("band"), col("bkey")), maxBucketSize)

  /** The banding geometry an index was BUILT with, persisted as a
    * `_geom/` sidecar inside the index directory (the
    * [[EmbeddingLshIndex]] pattern). Probes and appends derive their
    * geometry FROM the sidecar: band keys joined across mismatched
    * (numHashes, bands) silently produce ~zero candidates — a recall
    * collapse, not an error — so geometry must travel with the index,
    * never be re-guessed per call.
    */
  final case class Geometry(numHashes: Int, bands: Int, shingleWords: Int)

  // the one place the append/probe signature defaults live — the
  // passed-on-purpose heuristic in warnIfArgsConflict compares against
  // these, so a default change cannot silently desynchronize it
  private val DefaultNumHashes = 32
  private val DefaultBands = 8
  private val DefaultShingleWords = 3

  private def writeGeometry(spark: SparkSession, path: String,
      g: Geometry): Unit = {
    import spark.implicits._
    Seq((g.numHashes, g.bands, g.shingleWords))
      .toDF("num_hashes", "bands", "shingle_words")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_geom")
  }

  /** The persisted geometry, or None for a pre-sidecar (legacy) index.
    * Only ABSENCE maps to None: a transient read failure or a corrupt
    * sidecar must propagate, because silently falling back to
    * call-site defaults is exactly the mismatched-geometry recall
    * collapse the sidecar exists to prevent.
    */
  def geometry(spark: SparkSession, path: String): Option[Geometry] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_geom")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // an interrupted build can leave _geom/ with no data row — that
      // is a CORRUPT sidecar, and must fail with a diagnosis, not a
      // bare NoSuchElementException (and never a silent fallback to
      // call-site defaults, the recall collapse this sidecar prevents)
      val r = Parquet.read(spark, s"$path/_geom").collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"corrupt _geom sidecar at $path/_geom: directory exists but " +
            "holds no geometry row (interrupted index build?) — rebuild " +
            "the index or restore the sidecar"))
      Some(Geometry(r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"),
        r.getAs[Int]("shingle_words")))
    }
  }

  /** Callers passing explicit geometry args against a sidecar-bearing
    * index silently have them overridden (the sidecar is authoritative
    * — mismatched band keys join to ~nothing). Surface that override:
    * warn when the caller's args differ from BOTH the method defaults
    * (i.e. were plausibly passed on purpose) and the persisted values.
    *
    * Accepted residual gap: a caller who DELIBERATELY passes geometry
    * equal to the method defaults (32/8/3) against a sidecar persisting
    * different values gets the silent override with no warning —
    * indistinguishable from not passing args at all, because Scala
    * default parameters erase that difference at the call site. The
    * alternative (splitting probe/append into geometry-free overloads)
    * would break every existing call site for a warning-only gain; the
    * sidecar remains authoritative either way, which is the property
    * that protects recall.
    */
  private def warnIfArgsConflict(op: String, g: Geometry,
      numHashes: Int, bands: Int, shingleWords: Int,
      defaults: (Int, Int, Int)): Unit = {
    val passed = (numHashes, bands, shingleWords)
    if (passed != defaults &&
        passed != ((g.numHashes, g.bands, g.shingleWords)))
      System.err.println(
        s"[minhash-index] $op: caller geometry (numHashes=$numHashes, " +
          s"bands=$bands, shingleWords=$shingleWords) conflicts with the " +
          s"index's _geom sidecar (${g.numHashes}, ${g.bands}, " +
          s"${g.shingleWords}); the sidecar wins — keys computed under " +
          "any other geometry would match ~nothing")
  }

  /** Commit the band-key index for an initial corpus (an empty log),
    * `bands = 0` self-calibrating for `calibrateThreshold` via
    * [[MinHashDedup.bandsFor]]. The geometry is persisted in the
    * `_geom/` sidecar; every later append/probe follows it.
    */
  def build(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 0,
      shingleWords: Int = 3,
      maxBucketSize: Long = 100000L,
      calibrateThreshold: Double = 0.5): Unit = {
    val b = if (bands == 0) MinHashDedup.bandsFor(calibrateThreshold, numHashes)
      else bands
    IndexMaintenance.build(path) {
      writeGeometry(docs.sparkSession, path, Geometry(numHashes, b, shingleWords))
      Seq(Table -> graft.operators.BucketCaps.capBuckets(
        MinHashDedup.bandKeys(docs, idCol, textCol, numHashes, b, shingleWords),
        Seq(col("band"), col("bkey")), maxBucketSize))
    }
  }

  /** Append a new batch's band keys to the index (call AFTER the batch
    * has been deduped against it). Geometry comes from the `_geom`
    * sidecar when present — the arguments apply only to a legacy index
    * without one.
    */
  def append(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleWords: Int = DefaultShingleWords,
      maxBucketSize: Long = 100000L): Unit = {
    val side = geometry(docs.sparkSession, path)
    side.foreach(warnIfArgsConflict("append", _, numHashes, bands,
      shingleWords, (DefaultNumHashes, DefaultBands, DefaultShingleWords)))
    val g = side.getOrElse(Geometry(numHashes, bands, shingleWords))
    IndexMaintenance.append(path)(_ => Seq(Table ->
      graft.operators.BucketCaps.capBuckets(
        MinHashDedup.bandKeys(docs, idCol, textCol,
          g.numHashes, g.bands, g.shingleWords),
        Seq(col("band"), col("bkey")), maxBucketSize)))
  }

  /** Compact the band-key table in place ([[IndexMaintenance.compact]]);
    * probes through it are bit-identical (pinned in MinHashIndexSpec)
    * and any tombstones ([[forget]]) are materialized by the rewrite.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit =
    IndexMaintenance.compact(spark, path, targetFiles, Table)

  /** Tombstone-forget indexed docs ([[IndexMaintenance.forget]]). */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids)

  /** Near-dup pairs INVOLVING the new batch: new-vs-indexed plus
    * new-vs-new, LSH candidates jaccard-verified at `threshold`
    * against `allDocs` (which must cover both the batch's and the
    * indexed ids — verification needs the text). Returns
    * (id_a, id_b, jaccard) with id_a < id_b, exactly the subset of the
    * full-corpus [[MinHashDedup.nearDupPairs]] that touches the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      allDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleWords: Int = DefaultShingleWords,
      maxBucketSize: Long = 100000L): DataFrame = {
    // geometry from the index's own sidecar when present — probe keys
    // computed under a different (numHashes, bands) join to ~nothing
    val side = geometry(spark, path)
    side.foreach(warnIfArgsConflict("incrementalNearDupPairs", _,
      numHashes, bands, shingleWords,
      (DefaultNumHashes, DefaultBands, DefaultShingleWords)))
    val g = side.getOrElse(Geometry(numHashes, bands, shingleWords))
    // the batch's keys are admission-bounded; materialize once (two
    // join consumers) so the shingle+minhash pass runs a single time
    val newKeys = graft.operators.BucketCaps.capBuckets(
        MinHashDedup.bandKeys(newDocs, idCol, textCol,
          g.numHashes, g.bands, g.shingleWords),
        Seq(col("band"), col("bkey")), maxBucketSize)
      .materialized
    val oldKeys = IndexMaintenance.live(spark, IndexLog.read(path), Table)
    // broadcast the BATCH side: the persisted index is the corpus-sized
    // table and must stream map-side past the probe, never shuffle —
    // without the hint Spark has no size estimate for the computed
    // newKeys and shuffles BOTH sides, a corpus-sized shuffle per batch
    val newVsOld = broadcast(newKeys.as("n"))
      .join(oldKeys.as("o"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey") &&
          col("n.id") =!= col("o.id"))
      .select(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"))
    val newVsNew = broadcast(newKeys.as("l"))
      .join(newKeys.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val cands = newVsOld.union(newVsNew).distinct().materialized
    // verify only the docs candidates actually touch: `allDocs` may be
    // the whole corpus (the staged superset), and shingling + shuffling
    // non-candidate docs was the measured corpus-proportional term of
    // the streamed family-ingest probe
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    JaccardVerify.verify(cands,
      allDocs.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, threshold, g.shingleWords)
  }
}
