package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class Bm25IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark shuffles data across the cluster"),
    (2L, "spark caches hot data in memory"),
    (3L, "the cluster scales the shuffle tier"),
    (4L, "rare xylophone token lives here"),
    (5L, "memory tier caches the hot shuffle")).toDF("doc_id", "text")

  private def queries = Seq(
    (100L, "spark data"), (200L, "xylophone"), (300L, "hot memory"))
    .toDF("qid", "qtext")

  /** Table `t` as committed at version `v`. */
  private def table(path: String, v: Int, t: String) =
    spark.read.parquet(IndexLog.read(path).at(v).get.adds(t))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rank", "did", "score_x1000").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("incremental build+add equals the one-shot search row-for-row") {
    val path = graft.queries.Scratch.dir("bm25idx-parity")
    Bm25Index.build(corpus.filter(col("doc_id") <= 2), path, "doc_id", "text")
    Bm25Index.addBatch(spark, path, corpus.filter(col("doc_id") > 2),
      "doc_id", "text")
    assert(Bm25Index.latestVersion(path).contains(2))
    val incremental = rows(Bm25Index.search(spark, path, queries, k = 3))
    val oneShot = rows(Bm25.search(corpus, "doc_id", "text", queries, k = 3))
    assert(incremental == oneShot && incremental.nonEmpty)
  }

  test("three disjoint batches still match; df and stats accumulate") {
    val path = graft.queries.Scratch.dir("bm25idx-3batch")
    Bm25Index.build(corpus.filter(col("doc_id") === 1), path, "doc_id", "text")
    Bm25Index.addBatch(spark, path,
      corpus.filter(col("doc_id").isin(2L, 3L)), "doc_id", "text")
    Bm25Index.addBatch(spark, path,
      corpus.filter(col("doc_id") > 3), "doc_id", "text")
    assert(Bm25Index.latestVersion(path).contains(3))
    val stats = table(path, 3, "stats").collect().head
    assert(stats.getLong(0) == 5L) // n_docs accumulated across versions
    assert(rows(Bm25Index.search(spark, path, queries, k = 3)) ==
      rows(Bm25.search(corpus, "doc_id", "text", queries, k = 3)))
  }

  test("compact: successor search identical, one file per table, chain continues") {
    val path = graft.queries.Scratch.dir("bm25idx-compact")
    Bm25Index.build(corpus.filter(col("doc_id") === 1), path, "doc_id", "text")
    Bm25Index.addBatch(spark, path,
      corpus.filter(col("doc_id").isin(2L, 3L)), "doc_id", "text")
    Bm25Index.addBatch(spark, path,
      corpus.filter(col("doc_id") === 4), "doc_id", "text")
    val before = rows(Bm25Index.search(spark, path, queries, k = 3))
    val succ = graft.queries.Scratch.dir("bm25idx-compact2")
    Bm25Index.compact(spark, path, succ, targetFiles = 1)
    assert(Bm25Index.latestVersion(succ).contains(1))
    assert(rows(Bm25Index.search(spark, succ, queries, k = 3)) == before)
    def partFiles(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val succEntry = IndexLog.read(succ).at(1).get
    assert(partFiles(succEntry.adds("post")) == 1 &&
      partFiles(succEntry.adds("dlen")) == 1)
    // the successor is a full member of the chain: addBatch continues
    // at v=2 and still matches the one-shot over the whole corpus
    Bm25Index.addBatch(spark, succ,
      corpus.filter(col("doc_id") === 5), "doc_id", "text")
    assert(Bm25Index.latestVersion(succ).contains(2))
    assert(rows(Bm25Index.search(spark, succ, queries, k = 3)) ==
      rows(Bm25.search(corpus, "doc_id", "text", queries, k = 3)))
  }

  test("search asOf reads the committed snapshot, not later batches") {
    val path = graft.queries.Scratch.dir("bm25idx-asof")
    val batch1 = corpus.filter(col("doc_id") <= 2)
    Bm25Index.build(batch1, path, "doc_id", "text")
    Bm25Index.addBatch(spark, path, corpus.filter(col("doc_id") > 2),
      "doc_id", "text")
    assert(rows(Bm25Index.search(spark, path, queries, k = 3, asOf = Some(1))) ==
      rows(Bm25.search(batch1, "doc_id", "text", queries, k = 3)))
    assert(rows(Bm25Index.search(spark, path, queries, k = 3, asOf = Some(2))) ==
      rows(Bm25Index.search(spark, path, queries, k = 3)))
    intercept[IllegalArgumentException](
      Bm25Index.search(spark, path, queries, k = 3, asOf = Some(7)))
  }

  test("tombstone delete: search equals a one-shot over the surviving corpus") {
    val path = graft.queries.Scratch.dir("bm25idx-del")
    Bm25Index.build(corpus.filter(col("doc_id") <= 2), path, "doc_id", "text")
    Bm25Index.addBatch(spark, path, corpus.filter(col("doc_id") > 2),
      "doc_id", "text")
    Bm25Index.deleteDocs(spark, path, Seq(4L).toDF("doc_id"))
    assert(Bm25Index.latestVersion(path).contains(3))
    val survivors = corpus.filter(col("doc_id") =!= 4)
    assert(rows(Bm25Index.search(spark, path, queries, k = 3)) ==
      rows(Bm25.search(survivors, "doc_id", "text", queries, k = 3)))
    // doc 4 held the only "xylophone": the deleted doc is really gone
    assert(Bm25Index.search(spark, path,
      Seq((200L, "xylophone")).toDF("qid", "qtext"), k = 3).isEmpty)
    // df/stats were decremented exactly
    val stats = table(path, 3, "stats").collect().head
    assert(stats.getLong(0) == 4L)
    // pre-delete snapshot still sees the doc (deletion is versioned)
    assert(rows(Bm25Index.search(spark, path, queries, k = 3, asOf = Some(2))) ==
      rows(Bm25.search(corpus, "doc_id", "text", queries, k = 3)))
  }

  test("tombstone delete is idempotent; unknown ids are no-ops") {
    val path = graft.queries.Scratch.dir("bm25idx-del2")
    Bm25Index.build(corpus, path, "doc_id", "text")
    Bm25Index.deleteDocs(spark, path, Seq(4L, 999L).toDF("doc_id"))
    val after = rows(Bm25Index.search(spark, path, queries, k = 3))
    val dfAfter = table(path, 2, "df")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // re-delivered delete: df must NOT be subtracted twice
    Bm25Index.deleteDocs(spark, path, Seq(4L).toDF("doc_id"))
    assert(rows(Bm25Index.search(spark, path, queries, k = 3)) == after)
    assert(table(path, 3, "df")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == dfAfter)
  }

  test("compact materializes tombstones: successor has no del dirs, search unchanged") {
    val path = graft.queries.Scratch.dir("bm25idx-del3")
    Bm25Index.build(corpus.filter(col("doc_id") <= 3), path, "doc_id", "text")
    Bm25Index.addBatch(spark, path, corpus.filter(col("doc_id") > 3),
      "doc_id", "text")
    Bm25Index.deleteDocs(spark, path, Seq(2L).toDF("doc_id"))
    val before = rows(Bm25Index.search(spark, path, queries, k = 3))
    val succ = graft.queries.Scratch.dir("bm25idx-del3-succ")
    Bm25Index.compact(spark, path, succ, targetFiles = 1)
    assert(rows(Bm25Index.search(spark, succ, queries, k = 3)) == before)
    assert(!new java.io.File(s"$succ/del").exists())
    // the tombstoned postings are physically gone from the successor
    assert(table(succ, 1, "post")
      .filter(col("did") === 2L).isEmpty)
  }

  test("search on a missing index fails loudly") {
    intercept[IllegalStateException](
      Bm25Index.search(spark, "/tmp/definitely-missing-bm25idx", queries))
  }

  test("all-OOV query vanishes from index search too (documented contract)") {
    val path = graft.queries.Scratch.dir("bm25idx-oov")
    Bm25Index.build(corpus, path, "doc_id", "text")
    val out = Bm25Index.search(spark, path,
      Seq((9L, "zzz qqq")).toDF("qid", "qtext"), k = 3)
    assert(out.isEmpty)
  }

  test("addBatch REJECTS re-adding a live-tombstoned id (enforced, not comment-only)") {
    val path = graft.queries.Scratch.dir("bm25idx-guard")
    Bm25Index.build(corpus, path, "doc_id", "text")
    Bm25Index.deleteDocs(spark, path, Seq(1L).toDF("doc_id"))
    // a violating re-add would hide the new postings behind the
    // search anti-join AND inflate df/stats — the guard fails fast
    val e = intercept[IllegalArgumentException] {
      Bm25Index.addBatch(spark, path,
        Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("tombstoned"))
    // disjoint new ids still fold fine while the tombstone is live
    Bm25Index.addBatch(spark, path,
      Seq((50L, "delta epsilon")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25Index.latestVersion(path).contains(3))
    // after compact (tombstones materialized) the id is free again
    val succ = graft.queries.Scratch.dir("bm25idx-guard2")
    Bm25Index.compact(spark, path, succ)
    Bm25Index.addBatch(spark, succ,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25Index.latestVersion(succ).contains(2))
  }
}
