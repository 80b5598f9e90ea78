package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SpanDedupIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  private val shared = words("dup", 30)

  /** 8 docs; doc 0 (batch 1) and doc 5 (batch 2) share a 30-token
    * passage — the cross-batch duplicate only the index can see from
    * batch 2's side. Docs 2 and 3 (both batch 1) share another.
    */
  private def corpus = Seq(
    (0L, (words("a", 10) ++ shared).mkString(" ")),
    (1L, words("b", 35).mkString(" ")),
    (2L, (words("x", 25) ++ words("c", 5)).mkString(" ")),
    (3L, (words("d", 7) ++ words("x", 25)).mkString(" ")),
    (4L, words("e", 30).mkString(" ")),
    (5L, (shared ++ words("f", 12)).mkString(" ")),
    (6L, words("g", 28).mkString(" ")),
    (7L, words("h", 22).mkString(" "))).toDF("doc_id", "text")

  private def split(df: org.apache.spark.sql.DataFrame) =
    (df.filter(col("doc_id") < 5), df.filter(col("doc_id") >= 5))

  private def toMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap

  test("build ⊕ addBatch equals the from-scratch occurrence count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdidx").toString
    val (b1, b2) = split(corpus)
    SpanDedupIndex.build(b1, s"$dir/idx", "doc_id", "text")
    SpanDedupIndex.addBatch(spark, s"$dir/idx", b2, "doc_id", "text")
    assert(SpanDedupIndex.latestVersion(s"$dir/idx").contains(2))
    val inc = SpanDedupIndex.gramTable(spark, s"$dir/idx")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = SpanDedup.gramPositions(corpus, "doc_id", "text", 8)
      .groupBy("f").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc == full)
  }

  test("cleanseWith over the full corpus equals one-shot SpanDedup.cleanse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdidx2").toString
    val (b1, b2) = split(corpus)
    SpanDedupIndex.build(b1, s"$dir/idx", "doc_id", "text")
    SpanDedupIndex.addBatch(spark, s"$dir/idx", b2, "doc_id", "text")
    val viaIndex = toMap(SpanDedupIndex.cleanseWith(
      spark, s"$dir/idx", corpus, "doc_id", "text", 8, 20))
    val oneShot = toMap(SpanDedup.cleanse(corpus, "doc_id", "text", 8, 20))
    assert(viaIndex == oneShot && viaIndex.size == 8)
    // both carriers of each shared passage are cut
    assert(viaIndex(0L)._3 == 30L && viaIndex(5L)._3 == 30L)
    assert(viaIndex(2L)._3 == 25L && viaIndex(3L)._3 == 25L)
  }

  test("a NEW batch's span shared only with indexed history is found and cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdidx3").toString
    val (b1, b2) = split(corpus)
    SpanDedupIndex.build(b1, s"$dir/idx", "doc_id", "text")
    // batch 2 alone: doc 5's passage occurs ONCE within the batch —
    // the one-shot pass over just the batch cannot see the duplicate
    val blind = toMap(SpanDedup.cleanse(b2, "doc_id", "text", 8, 20))
    assert(blind(5L)._3 == 0L)
    // index the batch, then cleanse it against full history: cut
    SpanDedupIndex.addBatch(spark, s"$dir/idx", b2, "doc_id", "text")
    val out = toMap(SpanDedupIndex.cleanseWith(
      spark, s"$dir/idx", b2, "doc_id", "text", 8, 20))
    assert(out(5L)._3 == 30L && out(5L)._4 == words("f", 12).mkString(" "))
    assert(out(6L)._3 == 0L && out(7L)._3 == 0L)
  }

  test("compact + vacuum drop composed deltas; cleanseWith unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdvac").toString
    val (b1, b2) = split(corpus)
    SpanDedupIndex.build(b1, s"$dir/idx", "doc_id", "text")
    SpanDedupIndex.addBatch(spark, s"$dir/idx", b2, "doc_id", "text")
    val before = toMap(SpanDedupIndex.cleanseWith(
      spark, s"$dir/idx", corpus, "doc_id", "text"))
    // live deltas are not superseded until compaction folds them
    assert(SpanDedupIndex.vacuum(spark, s"$dir/idx") == 0)
    assert(SpanDedupIndex.compact(spark, s"$dir/idx") == 2)
    assert(SpanDedupIndex.vacuum(spark, s"$dir/idx") == 2)
    assert(SpanDedupIndex.latestVersion(s"$dir/idx").contains(2))
    assert(toMap(SpanDedupIndex.cleanseWith(
      spark, s"$dir/idx", corpus, "doc_id", "text")) == before)
  }
}
