package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet

/** Persisted incremental inverted index for [[Bm25]] retrieval — the
  * lexical-search member of the persisted-index tier
  * ([[MinHashIndex]]/[[SimHashIndex]]/[[WinnowIndex]] near-dup,
  * [[IvfIndex]] ANN, [[CmsIndex]]/[[LineDedupIndex]] frequency).
  *
  * Like [[LineDedupIndex]] — and unlike the capped near-dup indexes —
  * incremental maintenance is parity-EXACT by construction, PROVIDED
  * batches are doc-disjoint (a re-delivered doc would double its
  * postings; same contract as LineDedupIndex). The moving parts:
  *
  *  - `post`, `dlen`: version N's (did, t, tf) postings and
  *    (did, len) lengths. APPEND-shaped — disjoint batches mean the
  *    full tables are the plain union of all versions, so adding a
  *    batch writes only that batch (the corpus is never rescanned and
  *    never rewritten; at 100 TB the postings ARE the big table and
  *    copy-on-write would be a full-corpus write per batch).
  *  - `df`, `stats`: version N's cumulative document-frequency
  *    (vocabulary-sized) and 1-row corpus stats. Merge is addition, so
  *    these are copy-on-write like LineDedupIndex's df table — small by
  *    construction, and reading ONLY the latest version gives the
  *    whole-corpus values without touching the postings.
  *
  * Each build, addBatch and deleteDocs commits ONE [[IndexLog]] entry
  * listing the tables it wrote (plus `del`, a delete's tombstoned ids).
  *
  * Search loads the union of postings, latest df/stats, and runs the
  * SAME scoring join as the one-shot path (`Bm25.score`), so
  * build(b₁) ⊕ add(b₂) then search == Bm25.search(b₁ ∪ b₂) row-for-row
  * — the exactness class the q181 oracle pins by reusing q173's SQL.
  */
object Bm25Index {

  /** Latest committed version ([[IndexLog]]): build commits 1, every
    * addBatch and deleteDocs commits +1.
    */
  def latestVersion(path: String): Option[Int] =
    IndexLog.read(path).latestVersion

  private def head(log: IndexLog.Log, path: String): IndexLog.Entry =
    log.entries.lastOption.getOrElse(
      throw new IllegalStateException(s"no Bm25Index at $path"))

  /** Union of table `t` over the entries committed through version `v`,
    * or None when none of them carries it.
    */
  private def unionThrough(spark: SparkSession, log: IndexLog.Log, v: Int,
      t: String): Option[DataFrame] =
    log.entries.filter(_.version <= v).flatMap(_.adds.get(t))
      .map(Parquet.read(spark, _)).reduceOption(_ unionByName _)

  /** The postings and lengths through version `v`, minus the
    * tombstoned dids (the tombstones are read once for both).
    */
  private def liveThrough(spark: SparkSession, log: IndexLog.Log,
      v: Int): (DataFrame, DataFrame) = {
    val del = unionThrough(spark, log, v, "del")
    def live(t: String) = {
      val u = unionThrough(spark, log, v, t).get
      del.map(dd => u.join(broadcast(dd), Seq("did"), "left_anti")).getOrElse(u)
    }
    (live("post"), live("dlen"))
  }

  /** Write one fold's tables into `log`'s fresh directories and propose
    * the entry listing them as the next version.
    *
    * Evaluate-once (round 13, guide §2.4): the batch is TOKENIZED
    * EXACTLY ONCE — post/dlen land first, and `merge` derives df/stats
    * FROM THE JUST-WRITTEN FILES, not from the logical plan a second
    * time. The durable write IS the materialization: no second
    * tokenize+explode pass (2x the batch at any scale), zero extra I/O,
    * and content identical by construction.
    */
  private def writeFold(log: IndexLog.Log, kind: String,
      tf: DataFrame, len: DataFrame)(
      merge: (DataFrame, DataFrame) => (DataFrame, DataFrame)): IndexLog.Entry = {
    val spark = tf.sparkSession
    val dirs = Seq("post", "dlen", "stats", "df").map(t => t -> log.newDir(t)).toMap
    tf.write.parquet(dirs("post"))
    len.write.parquet(dirs("dlen"))
    val (df, stats) = merge(Parquet.read(spark, dirs("post")),
      Parquet.read(spark, dirs("dlen")))
    stats.write.parquet(dirs("stats"))
    df.write.parquet(dirs("df"))
    log.propose(log.nextVersion, kind, dirs)
  }

  private def batchAggregates(tfW: DataFrame, lenW: DataFrame) =
    (tfW.groupBy("t").agg(count(lit(1)).as("df")),
      lenW.agg(count(lit(1)).as("n_docs"), sum("len").as("total_len")))

  /** Start the index (v=1) from an initial document batch.
    *
    * The batch is cached for the duration of the fold: the postings and
    * lengths writes both derive from it, and without the cache the
    * second write re-executes the source scan. Batches are bounded
    * (admission-controlled) by contract, so the cache is
    * executor-memory-safe. df/stats derive from the WRITTEN files (see
    * [[writeFold]]) — the batch is tokenized exactly once.
    */
  def build(docs: DataFrame, path: String,
      idCol: String, textCol: String): Unit = {
    val cached = docs.persist()
    try IndexLog.commit(path) { log =>
      require(log.entries.isEmpty, s"a Bm25Index already exists at $path")
      val (tf, len) = Bm25.postings(cached, idCol, textCol)
      writeFold(log, "build", tf, len)(batchAggregates)
    } finally cached.unpersist()
  }

  /** Fold a new DOC-DISJOINT batch into the index: postings/lengths
    * appended as the new version's tables, df and stats merged by
    * addition with the head's into a new cumulative version.
    */
  def addBatch(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val cached = docs.persist() // see build() — multiple consumers, one scan
    try IndexLog.commit(path) { log =>
      val h = head(log, path)
      // enforce (not just document) the no-re-add-while-tombstoned
      // contract: a violating re-add would both hide the new postings
      // (the search anti-join filters them) and inflate df/stats with
      // contributions scoring never sees — a silent parity break. The
      // check costs nothing on the common no-deletes path (no del
      // table) and one small broadcast semi-join count otherwise.
      unionThrough(spark, log, h.version, "del").foreach { dd =>
        val n = cached.select(col(idCol).cast("long").as("did")).distinct()
          .join(broadcast(dd), Seq("did"), "left_semi").count()
        require(n == 0L, s"addBatch: $n batch doc ids are live-" +
          s"tombstoned at $path — re-adding while the tombstone is " +
          "live silently breaks scoring parity (compact first to " +
          "materialize the deletes and free the ids)")
      }
      val (tf, len) = Bm25.postings(cached, idCol, textCol)
      writeFold(log, "add", tf, len) { (tfW, lenW) =>
        val (df, stats) = batchAggregates(tfW, lenW)
        (df.unionByName(Parquet.read(spark, h.adds("df")))
          .groupBy("t").agg(sum("df").as("df")),
          stats.unionByName(Parquet.read(spark, h.adds("stats")))
            .agg(sum("n_docs").as("n_docs"),
              sum("total_len").as("total_len")))
      }
    } finally cached.unpersist()
  }

  /** Score `queries` (qid, qtext) against the INDEX — same output
    * contract (same dropped-qid caveat and same `emitEmpty` escape
    * hatch) as [[Bm25.search]].
    *
    * `asOf` reads the index AS OF a committed version — a snapshot
    * search over exactly the batches folded through that version
    * (post/dlen versions ≤ asOf, the asOf df/stats). Versions are
    * immutable once committed, so the snapshot is stable under
    * concurrent `addBatch`es — the time-travel read the lakehouse
    * tables ([[graft.sources.DeletionVectors]]-style) get from
    * snapshot isolation, here for free from the version chain.
    */
  def search(spark: SparkSession, path: String,
      queries: DataFrame, k: Int = 5,
      emitEmpty: Boolean = false,
      asOf: Option[Int] = None): DataFrame = {
    val log = IndexLog.read(path)
    val latest = head(log, path).version
    val v = asOf.getOrElse(latest)
    val at = log.at(v).getOrElse(throw new IllegalArgumentException(
      s"asOf version $v is not committed at $path (latest=$latest)"))
    // the union of the committed versions' postings IS the full table
    // (batches are doc-disjoint); directories no entry names are never
    // read
    val (tf, len) = liveThrough(spark, log, v)
    Bm25.withEmpty(Bm25.score(tf, len, Parquet.read(spark, at.adds("df")),
        Parquet.read(spark, at.adds("stats")), queries, k),
      queries, emitEmpty)
  }

  /** TOMBSTONE-delete documents from the index — the takedown/GDPR
    * path. At 100 TB the postings ARE the big table and a physical
    * delete would rewrite the corpus, so deletion is a new version
    * carrying (a) the tombstoned ids (a `del` table, anti-joined —
    * broadcast, the set is small by construction — against the
    * postings/lengths union at search time), and (b) cumulative
    * df/stats with the deleted docs' contributions SUBTRACTED
    * (computed from the index's own postings — the raw corpus is never
    * touched), so scoring stays parity-EXACT with a one-shot build
    * over the surviving corpus. The delete's entry lists only
    * del/stats/df. [[compact]] materializes tombstones (filters the
    * postings, drops the del tables); `search(asOf)` on a pre-delete
    * version still sees the document — deletion is itself versioned.
    *
    * Ids never indexed, or already tombstoned, are ignored
    * (re-delivering a delete cannot subtract df twice). `ids`' first
    * column is taken as the document id. One extra contract beside
    * addBatch's doc-disjointness: a tombstoned id must not be re-added
    * while its tombstone is live — the anti-join would silently hide
    * the new postings ([[addBatch]] enforces this with a runtime
    * guard). After a [[compact]] the tombstone is gone and the id is
    * free again.
    */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexLog.commit(path) { log =>
      val h = head(log, path)
      val lens = unionThrough(spark, log, h.version, "dlen").get
      val requested = ids
        .select(col(ids.columns.head).cast("long").as("did")).distinct()
        .join(lens.select("did"), Seq("did"), "semi")
      val target = unionThrough(spark, log, h.version, "del")
        .fold(requested)(dd => requested.join(dd, Seq("did"), "left_anti"))
        .persist() // three consumers below; Scratch-sized by contract
      try {
        val dfDelta = unionThrough(spark, log, h.version, "post").get
          .join(target, Seq("did"), "semi")
          .groupBy("t").agg(count(lit(1)).as("ddf"))
        val newDf = Parquet.read(spark, h.adds("df"))
          .join(dfDelta, Seq("t"), "left")
          .select(col("t"),
            (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
          .filter(col("df") > 0)
        val newStats = Parquet.read(spark, h.adds("stats"))
          .crossJoin(lens.join(target, Seq("did"), "semi")
            .agg(count(lit(1)).as("dn"),
              coalesce(sum("len"), lit(0L)).as("dl")))
          .select((col("n_docs") - col("dn")).as("n_docs"),
            (col("total_len") - col("dl")).as("total_len"))
        val dirs = Seq("del", "stats", "df").map(t => t -> log.newDir(t)).toMap
        target.coalesce(1).write.parquet(dirs("del"))
        newStats.coalesce(1).write.parquet(dirs("stats"))
        newDf.write.parquet(dirs("df"))
        log.propose(log.nextVersion, "delete", dirs)
      } finally { target.unpersist(); () }
    }

  /** Compact the whole version chain into a SUCCESSOR index at
    * `outPath` (v=1, `targetFiles` files per table), contents
    * score-identical: `search(outPath)` == `search(path)` row for row,
    * and `addBatch(outPath)` continues the chain at v=2.
    *
    * This is the maintenance valve the APPEND-shaped member of the
    * index family needs that the copy-on-write members don't: every
    * committed post/dlen version stays LIVE forever (search unions
    * them all), so a streamed ingest accumulates one
    * shuffle-partition-count of small files per microbatch AND an
    * O(versions) union per search. Compaction folds the
    * union back to one version. Superseded df/stats versions — dead
    * weight in the original — simply don't carry over.
    *
    * Successor-directory semantics, not an in-place swap (the
    * [[IndexMaintenance]] contract): the original is never written, a
    * crashed compact leaves the successor uncommitted ([[IndexLog]]),
    * and callers flip their index pointer (then drop the predecessor
    * directory — that drop IS this index's vacuum) only after compact
    * returns. In-place vacuum of superseded df/stats versions is not
    * offered: `search(asOf)` reads them.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int = 1): Unit = {
    require(targetFiles >= 1)
    val log = IndexLog.read(path)
    val h = head(log, path)
    // compaction MATERIALIZES tombstones: deleted dids are filtered out
    // of the rewrite and no del table carries over — the successor
    // starts with a clean chain (df/stats already exclude them)
    val (tf, len) = liveThrough(spark, log, h.version)
    IndexLog.commit(outPath) { succ =>
      require(succ.entries.isEmpty, s"a Bm25Index already exists at $outPath")
      val dirs = Seq("post", "dlen", "stats", "df").map(t => t -> succ.newDir(t)).toMap
      tf.coalesce(targetFiles).write.parquet(dirs("post"))
      len.coalesce(targetFiles).write.parquet(dirs("dlen"))
      Parquet.read(spark, h.adds("stats")).coalesce(1).write.parquet(dirs("stats"))
      Parquet.read(spark, h.adds("df")).coalesce(targetFiles).write.parquet(dirs("df"))
      succ.propose(1, "build", dirs)
    }
  }
}
