package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The shared lifecycle helpers: the exactly-once fold guard and the
  * tombstone sidecar (the live pointer is pinned in IndexCrashSpec,
  * compactTable through the per-index specs).
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
    val dir = java.nio.file.Files.createTempDirectory("graft-imts").toString
    val t = s"$dir/tbl"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(t)
    assert(IndexMaintenance.tombstones(spark, t).isEmpty)
    IndexMaintenance.appendTombstones(t, Seq(2L).toDF("whatever_name"))
    IndexMaintenance.appendTombstones(t, Seq(2L, 3L).toDF("id")) // dup ok
    val live = IndexMaintenance
      .minusTombstones(spark, t, spark.read.parquet(t))
      .select("id").as[Long].collect().toSet
    assert(live == Set(1L))
    // the sidecar never leaks into the table's own read
    assert(spark.read.parquet(t).count() == 3L)
    // compactTable materializes: successor filtered, no sidecar
    IndexMaintenance.compactTable(spark, t, s"$dir/tbl2", targetFiles = 1)
    assert(spark.read.parquet(s"$dir/tbl2")
      .select("id").as[Long].collect().toSet == Set(1L))
    assert(!new java.io.File(s"$dir/tbl2/_dels").exists())
  }
}
