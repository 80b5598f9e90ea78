package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet

/** Delta-composed version chain — the shared layout that replaces the
  * copy-on-write fold for the exact-index family ([[LineDedupIndex]],
  * [[SpanDedupIndex]], [[CmsIndex]], [[FamilyIndex]]).
  *
  * The copy-on-write chains rewrote their FULL cumulative table every
  * addBatch, so per-batch upkeep scaled with the CORPUS, not the batch
  * (measured: the streamed span-dedup ingest grew 4.5×/decade because
  * each fold rewrote the cumulative gram table, and the family ingest
  * mode ran at a tenth of the append-shaped wings' rate). This chain
  * is the LSM answer: each fold writes only the BATCH's delta, reads
  * compose the deltas over the last full snapshot, and a periodic
  * [[IndexMaintenance]]-style compaction folds the composed view back
  * into one snapshot. Per-batch WRITE ∝ batch; read cost ∝ snapshot +
  * live deltas (bounded by compaction cadence).
  *
  * Layout: `path/base/<dir>` full snapshots, `path/delta/<dir>` per-batch
  * deltas, one monotone version sequence shared by both (1 is
  * the build snapshot; each fold takes the next number as a delta;
  * compaction re-uses the number of the last folded delta as its
  * snapshot version — "composed through K"). The live view is the
  * HIGHEST committed base plus every committed delta ABOVE it; deltas
  * at or below the base are superseded ([[vacuum]] reclaims them, plus
  * older bases). Every build, fold and compaction is one [[IndexLog]]
  * commit.
  *
  * The exactness argument carries over unchanged for the count tables:
  * their merge is addition, which is associative and commutative, so
  * `Σ(base ∪ deltas)` equals the eager fold equals a from-scratch
  * aggregate over the union of all batches. [[FamilyIndex]] composes
  * its own (non-sum) delta representation on the same layout.
  */
object DeltaChain {

  /** Latest committed version — the number foldOnce tracks: build
    * commits 1, every fold +1, compaction never advances it.
    */
  def latest(path: String): Option[Int] = IndexLog.read(path).latestVersion

  /** Committed delta versions strictly above the latest base — the
    * live, not-yet-compacted tail (version order).
    */
  def liveDeltaVersions(path: String): Seq[Int] =
    capture(path).deltas.map(_.version)

  /** The chain's live shape in one log snapshot: the latest base entry
    * (if any) and the delta entries above it. Every consumer that both
    * reads and labels (compaction, FamilyIndex's fold) works from one
    * capture, so a delta committed concurrently can never fold under a
    * label below it.
    */
  private[llm] final case class Capture(base: Option[IndexLog.Entry],
      deltas: Seq[IndexLog.Entry]) {
    def version: Option[Int] = (base.toSeq ++ deltas).map(_.version).maxOption
  }

  private def captureOf(log: IndexLog.Log): Capture = {
    val base = log.entries.filter(_.kind == "base").lastOption
    Capture(base, log.entries
      .filter(e => e.kind == "delta" && e.version > base.fold(0)(_.version))
      .sortBy(_.version))
  }

  private[llm] def capture(path: String): Capture = captureOf(IndexLog.read(path))

  /** Write `df` as one `kind` ("base" or "delta") directory of `log`'s
    * attempt and propose it as `version`.
    */
  private def segment(log: IndexLog.Log, kind: String, version: Int,
      df: DataFrame, supersedes: Seq[String] = Nil): IndexLog.Entry = {
    val dir = log.newDir(kind)
    df.write.parquet(dir)
    log.propose(version, kind, Map(kind -> dir), supersedes)
  }

  /** Commit `df` as the chain's first snapshot (version 1). */
  private[llm] def build(df: DataFrame, path: String): Unit =
    IndexLog.commit(path) { log =>
      require(log.entries.isEmpty, s"a delta chain already exists at $path")
      segment(log, "base", 1, df)
    }

  /** Commit the next delta, `delta(capture)`, as the next version. A
    * delta derived from the chain's current state reads it through the
    * capture it is given, which is recomputed on a lost race.
    */
  private[llm] def appendDelta(path: String)(delta: Capture => DataFrame): Unit =
    IndexLog.commit(path) { log =>
      val c = captureOf(log)
      if (c.version.isEmpty)
        throw new IllegalStateException(s"no delta chain at $path")
      segment(log, "delta", log.nextVersion, delta(c))
    }

  /** Fold the live deltas into a snapshot carrying the version of the
    * last delta composed ("composed through K"), superseding the base
    * and deltas it composed; a no-op returning the base version when
    * nothing is live. Deltas committed while `compose` runs stay live
    * above the new base (the capture is the attempt's own snapshot).
    */
  private[llm] def compact(path: String)(compose: Capture => DataFrame): Int =
    IndexLog.commit(path) { log =>
      val c = captureOf(log)
      val v = c.version.getOrElse(
        throw new IllegalStateException(s"no delta chain at $path"))
      if (c.deltas.isEmpty) c.base.get
      else segment(log, "base", v, compose(c),
        (c.base.toSeq ++ c.deltas).flatMap(_.adds.values))
    }.version

  private def segmentsOf(spark: SparkSession, c: Capture): Seq[DataFrame] =
    (c.base.toSeq ++ c.deltas).map(e => Parquet.read(spark, e.adds.values.head))

  private def sumOf(segs: Seq[DataFrame], keys: Seq[String],
      cnt: String): DataFrame = {
    require(segs.nonEmpty, "no delta chain segments")
    if (segs.size == 1) segs.head
    else segs.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
  }

  /** The composed COUNT table: union of segments, summed per key.
    * Exact by associativity of addition. The common no-live-deltas
    * case (fresh build, or just compacted) returns the snapshot
    * as-is — no shuffle.
    */
  def composedSum(spark: SparkSession, path: String,
      keys: Seq[String], cnt: String): DataFrame = {
    val segs = segmentsOf(spark, capture(path))
    require(segs.nonEmpty, s"no delta chain at $path")
    sumOf(segs, keys, cnt)
  }

  /** [[compact]] for the count tables: the snapshot is the composed sum. */
  def compactSum(spark: SparkSession, path: String,
      keys: Seq[String], cnt: String): Int =
    compact(path)(c => sumOf(segmentsOf(spark, c), keys, cnt))

  /** WHEN to fold the live tail back into a snapshot — the cadence
    * knob the round-8 measurements showed matters both ways: an
    * unbounded tail grows every composed read linearly (the fold
    * itself, for chains like [[FamilyIndex]] that read the assignment
    * per batch), while compacting on a one-read protocol pays a full
    * corpus write for nothing (q202 measured +14%). The policy fires
    * when EITHER leg trips:
    *   - `maxLiveDeltas`: more live deltas than this (read-time
    *     composition is a union over segments — list-length cost);
    *   - `maxDeltaBytesRatio`: live delta bytes exceed this fraction
    *     of the snapshot's bytes (composition shuffle cost — once the
    *     tail rivals the base, the compact write is amortized by the
    *     very next composed read).
    * Apply it inside repeated-read folds (streaming maintenance);
    * leave one-shot protocols on explicit compaction.
    */
  final case class CompactionPolicy(
      maxLiveDeltas: Int = 8, maxDeltaBytesRatio: Double = 1.0)

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
  }

  /** Whether `policy` asks for a compaction now. False for an unbuilt
    * or just-compacted chain (no live tail, nothing to fold).
    */
  def shouldCompact(spark: SparkSession, path: String,
      policy: CompactionPolicy): Boolean = {
    val c = capture(path)
    if (c.deltas.isEmpty) false
    else if (c.deltas.size >= policy.maxLiveDeltas) true
    else {
      val base = c.base.map(e => dirBytes(spark, e.adds("base"))).getOrElse(0L)
      val tail = c.deltas.map(e => dirBytes(spark, e.adds("delta"))).sum
      base == 0L || tail > policy.maxDeltaBytesRatio * base
    }
  }

  /** Policy-gated compaction: runs the chain's own `compactFn` (and
    * then `vacuumFn`) when [[shouldCompact]] fires, returning the new
    * snapshot version; None when the policy holds off. The single
    * cadence seam for streaming folds — idempotent on replay exactly
    * like the underlying compact (nothing live, nothing committed;
    * vacuum of already-gone dirs is 0).
    */
  def maybeCompact(spark: SparkSession, path: String,
      policy: CompactionPolicy = CompactionPolicy())(
      compactFn: => Int, vacuumFn: => Int): Option[Int] =
    if (!shouldCompact(spark, path, policy)) None
    else {
      val v = compactFn
      vacuumFn
      Some(v)
    }

  /** Reclaim what committed compactions superseded ([[IndexLog.vacuum]]):
    * older bases and the deltas they composed. Returns the number of
    * directories removed; 0 for a missing chain.
    */
  def vacuum(spark: SparkSession, path: String): Int = IndexLog.vacuum(path)
}
