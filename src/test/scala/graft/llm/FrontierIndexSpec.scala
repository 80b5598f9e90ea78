package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class FrontierIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-frontier").toString

  private def urls(us: String*) = us.toDF("url")

  test("novel-only appends: versions are disjoint, admission drops seen URLs") {
    val idx = tmp() + "/idx"
    assert(FrontierIndex.latestVersion(idx).isEmpty)
    FrontierIndex.build(urls("https://a.x/1", "https://a.x/2"), idx, "url")
    assert(FrontierIndex.latestVersion(idx).contains(1))
    // overlap: /2 is seen; only /3 is novel
    val v = FrontierIndex.addBatch(spark, idx,
      urls("https://a.x/2", "https://a.x/3"), "url")
    assert(v == 2)
    assert(spark.read.parquet(IndexLog.read(idx).at(2).get.adds("urls")).collect()
      .map(_.getString(0)).toSeq == Seq("https://a.x/3"))
    assert(FrontierIndex.visited(spark, idx).count() == 3)
    val admitted = FrontierIndex.admit(spark, idx,
      urls("https://a.x/1", "https://a.x/9"), "url")
      .collect().map(_.getString(0)).toSeq
    assert(admitted == Seq("https://a.x/9"))
    // candidate-internal duplicates are the caller's rows — kept
    assert(FrontierIndex.admit(spark, idx,
      urls("https://a.x/9", "https://a.x/9"), "url").count() == 2)
  }

  test("tombstones: exact URLs and whole hosts re-admit; compact frees them") {
    val idx = tmp() + "/idx"
    FrontierIndex.build(urls(
      "https://a.x/1", "https://a.x/2", "https://b.y/1"), idx, "url")
    FrontierIndex.forgetUrls(urls("https://a.x/1"), idx, "url")
    FrontierIndex.forgetHosts(Seq("b.y").toDF("host"), idx, "host")
    // tombstone entries keep the version
    assert(FrontierIndex.latestVersion(idx).contains(1))
    val vis = FrontierIndex.visited(spark, idx)
      .collect().map(_.getString(0)).toSeq
    assert(vis == Seq("https://a.x/2"))
    val re = FrontierIndex.admit(spark, idx, urls(
      "https://a.x/1", "https://a.x/2", "https://b.y/1"), "url")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(re == Seq("https://a.x/1", "https://b.y/1"))
    // the documented re-ingest caveat: while the tombstone is live, a
    // re-added url stays hidden…
    FrontierIndex.addBatch(spark, idx, urls("https://a.x/1"), "url")
    assert(!FrontierIndex.visited(spark, idx).collect()
      .map(_.getString(0)).contains("https://a.x/1"))
    // …and compact materializes the subtracted set, freeing tombstones
    val succ = tmp() + "/idx2"
    FrontierIndex.compact(spark, idx, succ, targetFiles = 1)
    assert(FrontierIndex.visited(spark, succ).collect()
      .map(_.getString(0)).toSeq == Seq("https://a.x/2"))
    FrontierIndex.addBatch(spark, succ, urls("https://a.x/1"), "url")
    assert(FrontierIndex.visited(spark, succ).count() == 2)
  }

  test("admission works when the candidate column is itself named 'url'") {
    val idx = tmp() + "/idx"
    FrontierIndex.build(urls("https://a.x/1"), idx, "url")
    val cands = Seq(("https://a.x/1", 1L), ("https://a.x/2", 2L))
      .toDF("url", "k")
    val got = FrontierIndex.admit(spark, idx, cands, "url")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("https://a.x/2", 2L)))
  }

  test("NULL-url candidates are never admitted (no eternal re-admission loop)") {
    val idx = tmp() + "/idx"
    FrontierIndex.build(urls("https://a.x/1"), idx, "url")
    val cands = Seq((Option.empty[String], 1L),
      (Some("https://a.x/2"), 2L)).toDF("url", "k")
    // the null row is unfetchable and the index can never hold it —
    // admitting it would re-dispatch it every round forever
    val got = FrontierIndex.admit(spark, idx, cands, "url")
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(2L))
  }
}
