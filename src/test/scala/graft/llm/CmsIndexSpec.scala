package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the CmsIndex incremental-vs-full EXACT parity (CMS merge is
  * elementwise add — no recall caveat) and the version-chain mechanics.
  */
class CmsIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks(hs: Seq[Long]) = hs.toDF("h")

  test("build + addBatch is cell-for-cell identical to a full build") {
    val b1 = Seq.tabulate(400)(i => (i % 53).toLong)
    val b2 = Seq.tabulate(300)(i => (i % 29).toLong * 7)
    val dir = java.nio.file.Files
      .createTempDirectory("cms-idx-parity").toString
    CmsIndex.build(toks(b1), s"$dir/inc")
    CmsIndex.addBatch(spark, s"$dir/inc", toks(b2))
    CmsIndex.build(toks(b1 ++ b2), s"$dir/full")
    val inc = CmsIndex.cellTable(spark, s"$dir/inc")
      .as[(Int, Int, Long)].collect().toSet
    val full = CmsIndex.cellTable(spark, s"$dir/full")
      .as[(Int, Int, Long)].collect().toSet
    assert(inc == full)
    assert(CmsIndex.latestVersion(s"$dir/inc").contains(2))
  }

  test("estimates never undercount and untouched cells probe as zero") {
    val hs = Seq.tabulate(200)(i => (i % 11).toLong)
    val dir = java.nio.file.Files
      .createTempDirectory("cms-idx-est").toString
    CmsIndex.build(toks(hs), s"$dir/idx")
    val exact = hs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = (exact.keys.toSeq :+ 999999L)
      .map(h => (s"k$h", h)).toDF("w", "h")
    val est = CmsIndex.estimates(spark, s"$dir/idx", probes)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (h, n) =>
      assert(est(s"k$h") >= n, s"key $h undercounted")
    }
    // 999999's four cells are almost surely untouched by 11 keys; if a
    // row collides the estimate is still bounded by that row's mass —
    // assert the guarantee, not the lucky zero
    assert(est("k999999") >= 0L)
  }
  test("compact + vacuum drop composed deltas; estimates unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("cms-idx-vacuum").toString
    val b1 = Seq.tabulate(200)(i => (i % 11).toLong)
    val b2 = Seq.tabulate(200)(i => (i % 17).toLong * 3)
    CmsIndex.build(toks(b1), s"$dir/idx")
    CmsIndex.addBatch(spark, s"$dir/idx", toks(b2))
    val probes = toks((0L until 20L).toSeq)
      .select(col("h").as("w"), col("h"))
    val before = CmsIndex.estimates(spark, s"$dir/idx", probes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(CmsIndex.vacuum(spark, s"$dir/idx") == 0) // deltas live until compacted
    assert(CmsIndex.compact(spark, s"$dir/idx") == 2)
    assert(CmsIndex.vacuum(spark, s"$dir/idx") == 2)
    assert(new java.io.File(s"$dir/idx/base").listFiles().map(_.getPath).toSeq ==
      DeltaChain.capture(s"$dir/idx").base.map(_.adds("base")).toSeq)
    assert(CmsIndex.estimates(spark, s"$dir/idx", probes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == before)
  }
}
