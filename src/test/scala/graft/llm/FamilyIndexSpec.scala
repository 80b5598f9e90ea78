package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class FamilyIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oneShot(pairs: Seq[(Long, Long)]) =
    asMap(graft.operators.ConnectedComponents.run(
      pairs.toDF("id_a", "id_b"), "id_a", "id_b"))

  test("fold equals one-shot CC: new-new, new-old, and family-merge edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-famidx").toString
    // batch 1: {1,2,3} and {10,11} and singleton-pair {20,21}
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    FamilyIndex.build(b1.toDF("id_a", "id_b"), s"$dir/idx")
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) == oneShot(b1))
    // batch 2: extends a family with a new id (4-3), links two OLD
    // families through a new id (30 bridges 11 and 20 -> all merge to
    // min 10), and adds a fresh family {40,41}
    val b2 = Seq((3L, 4L), (11L, 30L), (30L, 20L), (40L, 41L))
    FamilyIndex.addBatch(spark, s"$dir/idx", b2.toDF("id_a", "id_b"))
    val inc = asMap(FamilyIndex.assignment(spark, s"$dir/idx"))
    assert(inc == oneShot(b1 ++ b2))
    // the bridged families really merged to the global min
    assert(inc(21L) == 10L && inc(30L) == 10L && inc(11L) == 10L)
    // and the untouched family kept its representative
    assert(inc(1L) == 1L && inc(3L) == 1L && inc(4L) == 1L)
  }

  test("direct old-old merge edge (no new id involved) remaps both families") {
    val dir = java.nio.file.Files.createTempDirectory("graft-famidx2").toString
    val b1 = Seq((5L, 6L), (8L, 9L))
    FamilyIndex.build(b1.toDF("id_a", "id_b"), s"$dir/idx")
    val b2 = Seq((6L, 9L)) // contracts to (5, 8): pure family merge
    FamilyIndex.addBatch(spark, s"$dir/idx", b2.toDF("id_a", "id_b"))
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) ==
      Map(5L -> 5L, 6L -> 5L, 8L -> 5L, 9L -> 5L))
  }

  test("random graphs: three-batch fold equals one-shot CC (property sweep)") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(n) {
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)
      }.filter { case (a, b) => a != b }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-famidx-p$trial").toString
      val chunks = edges.grouped((edges.size + 2) / 3).toSeq
      FamilyIndex.build(chunks.head.toDF("id_a", "id_b"), s"$dir/idx")
      chunks.tail.foreach(c =>
        FamilyIndex.addBatch(spark, s"$dir/idx", c.toDF("id_a", "id_b")))
      assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) ==
        oneShot(edges), s"trial $trial diverged from one-shot CC")
    }
  }

  test("empty and self-loop-only batches are committed no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-famidx3").toString
    FamilyIndex.build(Seq((1L, 2L)).toDF("id_a", "id_b"), s"$dir/idx")
    val before = asMap(FamilyIndex.assignment(spark, s"$dir/idx"))
    FamilyIndex.addBatch(spark, s"$dir/idx",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    // an edge inside an existing family contracts to a self-loop
    FamilyIndex.addBatch(spark, s"$dir/idx",
      Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(FamilyIndex.latestVersion(s"$dir/idx").contains(3))
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) == before)
  }

  test("compact + vacuum reclaim composed deltas; reads unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-famidx4").toString
    FamilyIndex.build(Seq((1L, 2L)).toDF("id_a", "id_b"), s"$dir/idx")
    FamilyIndex.addBatch(spark, s"$dir/idx", Seq((2L, 3L)).toDF("id_a", "id_b"))
    val before = asMap(FamilyIndex.assignment(spark, s"$dir/idx"))
    // live deltas are not superseded until compaction folds them
    assert(FamilyIndex.vacuum(spark, s"$dir/idx") == 0)
    assert(FamilyIndex.compact(spark, s"$dir/idx") == 2)
    assert(FamilyIndex.vacuum(spark, s"$dir/idx") == 2)
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) == before)
    // the chain continues past the snapshot
    FamilyIndex.addBatch(spark, s"$dir/idx", Seq((3L, 4L)).toDF("id_a", "id_b"))
    assert(FamilyIndex.latestVersion(s"$dir/idx").contains(3))
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("per-batch delta is batch-bounded: no corpus-sized rewrite on fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-famidx5").toString
    // a 200-member base family; the fold adds ONE edge touching it
    val big = (1L until 200L).map(i => (i, i + 1))
    FamilyIndex.build(big.toDF("id_a", "id_b"), s"$dir/idx")
    FamilyIndex.addBatch(spark, s"$dir/idx", Seq((200L, 500L)).toDF("id_a", "id_b"))
    // the delta holds only the batch outcome (one new id), never the
    // 200 old member rows the copy-on-write fold used to rewrite
    val delta = spark.read.parquet(IndexLog.read(s"$dir/idx").at(2).get.adds("delta"))
    assert(delta.count() <= 2)
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) ==
      oneShot(big :+ (200L, 500L)))
    // a rep-merge delta routes OLD members through the remap chain
    FamilyIndex.addBatch(spark, s"$dir/idx", Seq((0L, 100L)).toDF("id_a", "id_b"))
    val d3 = spark.read.parquet(IndexLog.read(s"$dir/idx").at(3).get.adds("delta"))
    assert(d3.count() <= 2) // one remap row (1 -> 0), one new row (0)
    assert(asMap(FamilyIndex.assignment(spark, s"$dir/idx")) ==
      oneShot(big ++ Seq((200L, 500L), (0L, 100L))))
  }
}
