package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parquet
import graft.functions.VectorFunctions
import graft.operators.BucketCaps
import graft.operators.Iterate.MaterializeOps

/** Persisted hyperplane-LSH band index — embedding-level near-dup
  * detection as an INCREMENTAL operation, the vector member of the
  * band-key index wing (text: [[MinHashDedup]]'s persisted sibling,
  * perceptual: [[graft.multimodal.PHashIndex]]): each arriving batch
  * dedups against the already-ingested corpus through a signature-key
  * join, and history is never re-embedded or re-scanned from the
  * source corpus.
  *
  * The index is TWO tables, each build, append, forget and compact one
  * [[IndexLog]] entry ([[IndexMaintenance]]):
  *   - `bands/` — the signature rows `(id, table, sig)`, one per LSH
  *     table (the join side; 24 bytes/row × tables per vector);
  *   - `vecs/`  — the vectors `(id, v)` stored ONCE (the verification
  *     side; candidates re-join here for the exact cosine).
  * Splitting them keeps the band join narrow — at 100 TB the shuffle
  * carries (id, table, sig) only, and full vectors attach to the
  * candidate PAIRS (bounded by bucket occupancy), not to every band
  * row. Signatures use [[EmbeddingKnn.rademacherPlanes]], so an
  * external engine can rebuild them and the incremental result is
  * contractually EQUAL to the one-shot [[EmbeddingKnn.nearDupPairsLsh]]
  * on the accumulated corpus (same planes, same caps, same rounding).
  * Cross-batch bucket-occupancy divergence is observable via
  * [[cappedBucketReport]].
  */
object EmbeddingLshIndex {

  /** Sentinel for geometry parameters: resolve from the index's
    * persisted build geometry (probe/append/cleanse), or — at [[build]]
    * — pick `planesPerTable` by the measured decade law
    * ([[defaultPlanesPerTable]]). Explicit values always win, but when
    * the index carries a geometry record they are VALIDATED against it:
    * probing with geometry that differs from the build's produces
    * signatures that never match (silent 0-recall), so a mismatch is
    * always a caller bug and fails fast.
    */
  final val Auto = 0
  final val AutoSeed = Long.MinValue

  /** The four signature-defining parameters. Persisted at build as a
    * one-row parquet sidecar `_geom/` so later appends and probes can't
    * under- or mis-set them (the round-8 RecallCurves finding: p
    * under-set by one decade costs two orders of magnitude of
    * candidates — 371M at p=12/200k vs 2.85M at p=20).
    */
  final case class Geometry(
      tables: Int, planesPerTable: Int, dim: Int, seed: Long)

  /** What every pre-sidecar index was built with (the historical
    * signature defaults) — the fallback when `_geom/` is absent.
    */
  private val LegacyGeometry = Geometry(8, 8, 64, 42L)

  /** planesPerTable by the decade law measured in the round-8 recall
    * curves: hold expected bucket occupancy n/2^p at ≤ 8 vectors, i.e.
    * p = ceil(log₂(n/8)), floored at the historical default 8 (the law
    * only binds above 2^11 vectors) and capped at 48 (sig is a Long;
    * beyond ~48 planes the per-table dot-product cost dwarfs any
    * occupancy win). Measured anchors: 2k vecs → 8 planes (avg bucket
    * 7.8), 20k → 12 (5.3), 200k → 15-16 (3.9); under-setting by a
    * decade at 200k blew candidates 130× (371M vs 2.85M).
    */
  def defaultPlanesPerTable(n: Long): Int =
    if (n <= 2048L) 8
    else math.min(48, math.ceil(
      math.log(n / 8.0) / math.log(2.0)).toInt)

  /** Driver-side cache of per-path geometry: an index's geometry is
    * immutable once built (rebuilds at the same path go through
    * [[build]], which refreshes the entry), so probes and appends skip
    * the sidecar read on every call after the first.
    */
  private val geomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Geometry]()

  private def writeGeometry(g: Geometry, path: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    Seq((g.tables, g.planesPerTable, g.dim, g.seed))
      .toDF("tables", "planes_per_table", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_geom")
    geomCache.put(path, g)
  }

  /** The persisted build geometry, when the index carries one. */
  def geometry(spark: SparkSession, path: String): Option[Geometry] =
    Option(geomCache.get(path)).orElse {
      val p = new org.apache.hadoop.fs.Path(s"$path/_geom")
      if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        None
      else {
        val r = Parquet.read(spark, s"$path/_geom").head()
        val g = Geometry(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
        geomCache.put(path, g)
        Some(g)
      }
    }

  /** Resolve (and validate) probe-side geometry against the sidecar. */
  private def resolve(spark: SparkSession, path: String,
      tables: Int, planesPerTable: Int, dim: Int, seed: Long): Geometry = {
    val g = geometry(spark, path)
    val base = g.getOrElse(LegacyGeometry)
    def pick(explicitV: Int, geomV: Int, name: String): Int =
      if (explicitV == Auto) geomV
      else {
        require(g.isEmpty || explicitV == geomV,
          s"$name=$explicitV contradicts the index's build geometry " +
            s"($name=$geomV) at $path — mismatched geometry produces " +
            "signatures that never match (silent zero recall)")
        explicitV
      }
    val s =
      if (seed == AutoSeed) base.seed
      else {
        require(g.isEmpty || seed == base.seed,
          s"seed=$seed contradicts the index's build geometry " +
            s"(seed=${base.seed}) at $path")
        seed
      }
    Geometry(pick(tables, base.tables, "tables"),
      pick(planesPerTable, base.planesPerTable, "planesPerTable"),
      pick(dim, base.dim, "dim"), s)
  }

  private def bandRows(batch: DataFrame, idCol: String, vecCol: String,
      tables: Int, planesPerTable: Int, dim: Int, seed: Long): DataFrame =
    batch.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        EmbeddingKnn.lshSignature(col(vecCol),
          EmbeddingKnn.rademacherPlanes(planesPerTable, dim, seed,
            planeOffset = t * planesPerTable))): _*))
        .as(Seq("table", "sig")))

  private def bucket: Seq[Column] = Seq(col("table"), col("sig"))

  /** Write the index for an initial batch `(id, vec)`. With
    * `planesPerTable = Auto` the plane count follows the measured
    * decade law ([[defaultPlanesPerTable]]) from the build batch's
    * cardinality; either way the chosen geometry is persisted as the
    * `_geom/` sidecar so appends and probes resolve (and explicit
    * callers are validated) against what was actually built. A corpus
    * that later outgrows its build-time plane count signals through
    * [[cappedBucketReport]] / deepening buckets — the re-index cue.
    */
  def build(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): Unit = {
    val vecs = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
    val g = Geometry(
      if (tables == Auto) LegacyGeometry.tables else tables,
      if (planesPerTable == Auto) defaultPlanesPerTable(vecs.count())
      else planesPerTable,
      if (dim == Auto) LegacyGeometry.dim else dim,
      if (seed == AutoSeed) LegacyGeometry.seed else seed)
    IndexMaintenance.build(path) {
      writeGeometry(g, path, batch.sparkSession)
      Seq("vecs" -> vecs, "bands" -> BucketCaps.capBuckets(
        bandRows(batch, idCol, vecCol, g.tables, g.planesPerTable, g.dim,
          g.seed),
        bucket, maxBucketSize))
    }
  }

  /** Append a new batch (call AFTER probing it). Geometry resolves
    * from the `_geom/` sidecar (explicit values validated against it).
    */
  def append(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): Unit = {
    val g = resolve(batch.sparkSession, path, tables, planesPerTable,
      dim, seed)
    IndexMaintenance.append(path)(_ => Seq(
      "vecs" -> batch.select(col(idCol).as("id"), col(vecCol).as("v")),
      "bands" -> BucketCaps.capBuckets(
        bandRows(batch, idCol, vecCol, g.tables, g.planesPerTable, g.dim,
          g.seed),
        bucket, maxBucketSize)))
  }

  /** TOMBSTONE-forget indexed vectors (`ids`' first column, as a long)
    * — the wing's shared tombstone contract ([[IndexMaintenance.forget]]).
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.forget(path, ids.select(col(ids.columns.head).cast("long")))

  /** Buckets whose cross-batch occupancy exceeds the cap — the
    * condition under which incremental results can diverge from a
    * single-pass run (same divergence contract as
    * [[graft.llm.Containment.hotShingles]]).
    */
  def cappedBucketReport(spark: SparkSession, path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    BucketCaps.overflowBuckets(
      IndexMaintenance.live(spark, IndexLog.read(path), "bands"),
      bucket, maxBucketSize)

  /** Pre-flight divergence report: buckets of `batch` that exceed the
    * cap and will be dropped at write — the embedding analogue of
    * [[Containment.hotShingles]]. Dense semantic clusters share sign
    * bits at ANY signature resolution, so their buckets deepen with
    * the corpus and their pair sets grow quadratically; this report
    * names the mass the pairwise path will NOT cover, so callers can
    * route it to the clustering path (k-means cell pruning, q90's
    * protocol) instead of silently losing it.
    */
  def hotInputBuckets(batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): DataFrame = {
    // pre-flight (no index yet): Auto resolves exactly as build would,
    // so the report names what a subsequent default build will drop
    val g = Geometry(
      if (tables == Auto) LegacyGeometry.tables else tables,
      if (planesPerTable == Auto) defaultPlanesPerTable(batch.count())
      else planesPerTable,
      if (dim == Auto) LegacyGeometry.dim else dim,
      if (seed == AutoSeed) LegacyGeometry.seed else seed)
    BucketCaps.overflowBuckets(
      bandRows(batch, idCol, vecCol, g.tables, g.planesPerTable, g.dim,
        g.seed),
      bucket, maxBucketSize)
  }

  /** Compact both tables in place ([[IndexMaintenance.compact]]) after
    * many small appends (each streamed microbatch leaves
    * shuffle-partition-count band files): probes against the compacted
    * index hash-match probes against the original (pinned in the spec
    * and by q222's oracle).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit =
    IndexMaintenance.compact(spark, path, targetFiles, "vecs", "bands")

  /** Admission-time semantic decontamination against a PERSISTED
    * reference index: the rows of `batch` whose vector has NO banded
    * near-dup (candidate in some LSH table with rounded cosine ≥
    * `threshold`) among the INDEXED vectors — the streaming-ingest
    * member of the cleanse family, mirroring
    * [[SpanDedupIndex.cleanseWith]]. Unlike [[incrementalNearDupPairs]]
    * this probes the index ONLY (no batch-internal pairs: a reference
    * suite is a fixed contamination source, batch cohesion is dedup's
    * job), and the index is read as ONE broadcast (bands ⋈ vecs — an
    * eval/benchmark set is small by construction), so the batch never
    * shuffles: band rows carry the batch vector map-side into the
    * verify, and the only exchange is the distinct over contaminated
    * ids. Geometry resolves from (and is validated against) the
    * `_geom/` sidecar — it must match what the index was built with.
    */
  def cleanseWith(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9, tables: Int = Auto, planesPerTable: Int = Auto,
      dim: Int = Auto, seed: Long = AutoSeed, roundSim: Int = 6): DataFrame = {
    val g = resolve(spark, path, tables, planesPerTable, dim, seed)
    val (tablesR, planesPerTableR, dimR, seedR) =
      (g.tables, g.planesPerTable, g.dim, g.seed)
    val log = IndexLog.read(path)
    val ref = broadcast(
      IndexMaintenance.live(spark, log, "bands")
        .as("b")
        .join(IndexMaintenance.scan(spark, log, "vecs").as("v"),
          col("b.id") === col("v.id"))
        .select(col("b.table"), col("b.sig"), col("v.v").as("rv")))
    val contaminated = batch.select(col(idCol).as("cid"), col(vecCol).as("cv"),
        posexplode(array((0 until tablesR).map(t =>
          EmbeddingKnn.lshSignature(col(vecCol),
            EmbeddingKnn.rademacherPlanes(planesPerTableR, dimR, seedR,
              planeOffset = t * planesPerTableR))): _*))
          .as(Seq("table", "sig")))
      .join(ref, Seq("table", "sig"))
      .filter(round(VectorFunctions.cosine(col("cv"), col("rv")), roundSim)
        >= threshold)
      .select(col("cid").as(idCol)).distinct()
    batch.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Near-dup pairs of a NEW vector batch against indexed history AND
    * itself: `(id_a, id_b, sim)` with rounded cosine ≥ `threshold`.
    * Candidates come from the narrow band join; verification joins the
    * candidate pairs back to the batch's vectors ∪ the index's `vecs/`
    * table — the source corpus is never re-read. Probe BEFORE
    * [[append]]ing the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9,
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L,
      roundSim: Int = 6): DataFrame = {
    val g = resolve(spark, path, tables, planesPerTable, dim, seed)
    // batch band rows broadcast (one materialization, two join
    // consumers): the persisted band table streams map-side past the
    // probe instead of shuffling per batch — the wing-wide posture
    val newBands = BucketCaps.capBuckets(
        bandRows(batch, idCol, vecCol, g.tables, g.planesPerTable, g.dim,
          g.seed),
        bucket, maxBucketSize)
      .materialized
    // tombstoned ids leave the candidate space here: pairs only ever
    // form through a band join, so filtering the history bands is
    // sufficient (a forgotten id's stale vecs row can never be probed)
    val log = IndexLog.read(path)
    val oldBands = IndexMaintenance.live(spark, log, "bands")
    val newVsOld = broadcast(newBands.as("n"))
      .join(oldBands.as("o"),
        col("n.table") === col("o.table") && col("n.sig") === col("o.sig") &&
          col("n.id") =!= col("o.id"))
      .select(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"))
    val newVsNew = broadcast(newBands.as("l"))
      .join(newBands.as("r"),
        col("l.table") === col("r.table") && col("l.sig") === col("r.sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val pairs = newVsOld.union(newVsNew).distinct().materialized
    // verify only the candidate ids' vectors: the history vec table is
    // corpus-sized and unioning ALL of it through the verification
    // join was a corpus-proportional probe term. dropDuplicates keeps
    // a retried append (duplicate vec rows) from fanning out the join.
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val lookup = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .union(IndexMaintenance.scan(spark, log, "vecs"))
      .join(candIds, Seq("id"), "left_semi")
      .dropDuplicates("id")
    pairs
      .join(lookup.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(lookup.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("va"), col("vb")), roundSim))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
