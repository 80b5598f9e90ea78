package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The shared lifecycle helpers: the exactly-once fold guard and the
  * tombstone table (compaction is pinned through the per-index specs).
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("foldOnce: replayed batches skip, fresh and next batches fold") {
    var folds = 0
    // batch 0 against an empty index: folds
    IndexMaintenance.foldOnce(0L, None) { folds += 1 }
    assert(folds == 1)
    // batch 1 after version 1 committed: folds
    IndexMaintenance.foldOnce(1L, Some(1)) { folds += 1 }
    assert(folds == 2)
    // REPLAY of batch 1 after its version 2 committed: must skip
    IndexMaintenance.foldOnce(1L, Some(2)) { folds += 1 }
    assert(folds == 2)
    // replay of an even older batch: must skip
    IndexMaintenance.foldOnce(0L, Some(2)) { folds += 1 }
    assert(folds == 2)
    // batch 2 proceeds normally
    IndexMaintenance.foldOnce(2L, Some(2)) { folds += 1 }
    assert(folds == 3)
  }

  test("foldOnce with base: a fresh checkpoint over a pre-existing index folds") {
    var folds = 0
    // index already at v=5 from a previous ingest session; a NEW
    // checkpoint restarts batchIds at 0 — without base the guard would
    // silently skip every legitimate fold
    IndexMaintenance.foldOnce(0L, Some(5), base = 5) { folds += 1 }
    assert(folds == 1)
    // replay of that batch after its v=6 committed: skipped
    IndexMaintenance.foldOnce(0L, Some(6), base = 5) { folds += 1 }
    assert(folds == 1)
    IndexMaintenance.foldOnce(1L, Some(6), base = 5) { folds += 1 }
    assert(folds == 2)
  }

  test("foldOnce end-to-end: a replayed Bm25 fold cannot double postings") {
    val path = graft.queries.Scratch.dir("foldonce-bm25")
    val b0 = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha alpha")).toDF("doc_id", "text")
    def fold(bid: Long, b: org.apache.spark.sql.DataFrame): Unit =
      IndexMaintenance.foldOnce(bid, Bm25Index.latestVersion(path)) {
        if (Bm25Index.latestVersion(path).isEmpty)
          Bm25Index.build(b, path, "doc_id", "text")
        else Bm25Index.addBatch(spark, path, b, "doc_id", "text")
      }
    def dfAt(v: Int) = spark.read.parquet(IndexLog.read(path).at(v).get.adds("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fold(0L, b0); fold(1L, b1)
    val df = dfAt(2)
    // crash-replay of batch 1: without the guard this would re-add doc
    // 3's postings and bump alpha's df
    fold(1L, b1)
    assert(Bm25Index.latestVersion(path).contains(2))
    assert(dfAt(2) == df)
    assert(df("alpha") == 2L)
  }

  test("tombstone sidecar: append, read back, anti-join, invisible to table reads") {
    val t = java.nio.file.Files.createTempDirectory("graft-imts").toString
    IndexMaintenance.build(t)(Seq("rows" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    assert(IndexMaintenance.tombstones(spark, IndexLog.read(t)).isEmpty)
    IndexMaintenance.forget(t, Seq(2L).toDF("whatever_name"))
    IndexMaintenance.forget(t, Seq(2L, 3L).toDF("id")) // dup ok
    val log = IndexLog.read(t)
    assert(IndexMaintenance.live(spark, log, "rows")
      .select("id").as[Long].collect().toSet == Set(1L))
    // the tombstones never leak into the table's own scan, and keep the version
    assert(IndexMaintenance.scan(spark, log, "rows").count() == 3L)
    assert(log.latestVersion.contains(1))
    // compact materializes in place: rows filtered, tombstones superseded
    IndexMaintenance.compact(spark, t, 1, "rows")
    val after = IndexLog.read(t)
    assert(IndexMaintenance.scan(spark, after, "rows")
      .select("id").as[Long].collect().toSet == Set(1L))
    assert(after.live(IndexMaintenance.Dels).isEmpty && after.latestVersion.contains(1))
    // vacuum reclaims the build's rows and both tombstone directories
    assert(IndexLog.vacuum(t) == 3)
  }
}
