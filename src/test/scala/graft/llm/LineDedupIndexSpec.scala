package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class LineDedupIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(n: Long) = (0L until n).map { i =>
    (i, Seq("SHARED HEADER", s"body $i", s"also $i", s"tag ${i % 3}"))
  }.toDF("id", "lines")

  test("incremental df table equals the from-scratch full-corpus count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ldidx").toString
    val all = corpus(40L)
    LineDedupIndex.build(all.filter(col("id") < 25), s"$dir/idx", "id", col("lines"))
    LineDedupIndex.addBatch(spark, s"$dir/idx",
      all.filter(col("id") >= 25), "id", col("lines"))
    assert(LineDedupIndex.latestVersion(s"$dir/idx").contains(2))
    val inc = LineDedupIndex.dfTable(spark, s"$dir/idx")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = LineDedup.lineDf(all, "id", col("lines"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc == full && inc("SHARED HEADER") == 40L)
  }

  test("cleanWith against the index equals the one-shot LineDedup.clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ldidx2").toString
    val all = corpus(30L)
    LineDedupIndex.build(all.filter(col("id") < 10), s"$dir/idx", "id", col("lines"))
    LineDedupIndex.addBatch(spark, s"$dir/idx",
      all.filter(col("id") >= 10), "id", col("lines"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val viaIndex = toMap(LineDedupIndex.cleanWith(
      spark, s"$dir/idx", all, "id", col("lines"), maxDf = 5L))
    val oneShot = toMap(LineDedup.clean(all, "id", col("lines"), maxDf = 5L))
    assert(viaIndex == oneShot && viaIndex.size == 30)
    // "tag 0" has df=10 > 5 -> boilerplate; "body i" survives
    assert(viaIndex(0L)._3 == "body 0\nalso 0")
  }

  test("compact + vacuum reclaim composed deltas; reads unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ldvac").toString
    val all = corpus(30L)
    LineDedupIndex.build(all.filter(col("id") < 10), s"$dir/idx", "id", col("lines"))
    LineDedupIndex.addBatch(spark, s"$dir/idx",
      all.filter(col("id") >= 10 && col("id") < 20), "id", col("lines"))
    LineDedupIndex.addBatch(spark, s"$dir/idx",
      all.filter(col("id") >= 20), "id", col("lines"))
    val before = LineDedupIndex.boilerplate(spark, s"$dir/idx", maxDf = 5L)
      .collect().map(_.getString(0)).toSet
    // before compaction nothing is superseded — every delta is live
    assert(LineDedupIndex.vacuum(spark, s"$dir/idx") == 0)
    // compact folds deltas 2..3 into base/v=3; version does not advance
    assert(LineDedupIndex.compact(spark, s"$dir/idx") == 3)
    assert(LineDedupIndex.latestVersion(s"$dir/idx").contains(3))
    // vacuum now reclaims the v=1 base and the v=2, v=3 deltas, and
    // trims their log entries: only the compacted base is left
    assert(LineDedupIndex.vacuum(spark, s"$dir/idx") == 3)
    def dirs(t: String) = new java.io.File(s"$dir/idx/$t").listFiles()
      .map(_.getPath).toSet
    val log = IndexLog.read(s"$dir/idx")
    assert(log.entries.map(e => (e.kind, e.version)) == Seq(("base", 3)))
    assert(dirs("base") == log.entries.flatMap(_.adds.values).toSet)
    assert(dirs("delta").isEmpty)
    assert(LineDedupIndex.latestVersion(s"$dir/idx").contains(3))
    assert(LineDedupIndex.boilerplate(spark, s"$dir/idx", maxDf = 5L)
      .collect().map(_.getString(0)).toSet == before)
    // idempotent: nothing superseded remains
    assert(LineDedupIndex.vacuum(spark, s"$dir/idx") == 0)
    // the chain goes on past the compacted base
    LineDedupIndex.addBatch(spark, s"$dir/idx",
      corpus(35L).filter(col("id") >= 30), "id", col("lines"))
    assert(LineDedupIndex.latestVersion(s"$dir/idx").contains(4))
    assert(LineDedupIndex.dfTable(spark, s"$dir/idx")
      .filter(col("line") === "SHARED HEADER").collect().head.getLong(1) == 35L)
    // vacuum of a missing index is a no-op, not an error
    assert(LineDedupIndex.vacuum(spark, s"$dir/nothere") == 0)
  }

  test("boilerplate slice is exactly the df > maxDf lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ldidx3").toString
    LineDedupIndex.build(corpus(12L), s"$dir/idx", "id", col("lines"))
    // 12 docs: header df=12, each "tag i" df=4, per-doc lines df=1
    val b = LineDedupIndex.boilerplate(spark, s"$dir/idx", maxDf = 3L)
      .collect().map(_.getString(0)).toSet
    assert(b == Set("SHARED HEADER", "tag 0", "tag 1", "tag 2"))
    val tight = LineDedupIndex.boilerplate(spark, s"$dir/idx", maxDf = 4L)
      .collect().map(_.getString(0)).toSet
    assert(tight == Set("SHARED HEADER"))
  }
}
