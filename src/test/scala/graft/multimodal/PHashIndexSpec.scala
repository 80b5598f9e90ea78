package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.llm.{IndexLog, IndexMaintenance, IndexSpecs}

class PHashIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Hashes of noise images: twins (2g, 2g+1) share a seed, the odd one
    * perturbed — Hamming ≤ 1; cross-seed pairs are far apart.
    */
  private def hashes(ids: Seq[Long]) = ids.map { id =>
    val (h1, h2) = PerceptualHash.dHashKernel(
      MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
        perturbR00 = if (id % 2 == 1) 8 else 0), 16, 12)
    (id, h1, h2)
  }.toDF("id", "h1", "h2")

  test("cross-batch twins found via the index probe, no raster access") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phidx").toString
    // batch 1 = even ids, batch 2 = odd ids: EVERY twin is cross-batch
    PHashIndex.build(hashes((0L until 20L).filter(_ % 2 == 0)), s"$dir/idx")
    val probed = PHashIndex.incrementalNearDupPairs(spark, s"$dir/idx",
        hashes((0L until 20L).filter(_ % 2 == 1)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(probed.keySet == (0L until 10L).map(g => (g * 2, g * 2 + 1)).toSet)
    assert(probed.values.forall(_ <= 1L))
  }

  test("probe union equals the one-shot full-corpus pairs; append extends history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phidx2").toString
    val all = hashes(0L until 24L)
    val b1 = hashes((0L until 12L))            // gids 0-5 complete
    val b2 = hashes((12L until 24L))           // gids 6-11 complete
    PHashIndex.build(b1, s"$dir/idx")
    val p1 = PerceptualHash.nearDupPairs(b1, "id")
    val p2 = PHashIndex.incrementalNearDupPairs(spark, s"$dir/idx", b2)
    PHashIndex.append(b2, s"$dir/idx")
    val inc = p1.union(p2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = PerceptualHash.nearDupPairs(all, "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full && full.size == 12)
    // a third batch probes against BOTH prior batches through the
    // appended history: a new exact copy of image gid=0 pairs with ids 0+1
    val b3 = hashes(Seq(0L)).select(
      (org.apache.spark.sql.functions.col("id") + 100L).as("id"),
      org.apache.spark.sql.functions.col("h1"),
      org.apache.spark.sql.functions.col("h2"))
    val p3 = PHashIndex.incrementalNearDupPairs(spark, s"$dir/idx", b3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p3 == Set((0L, 100L), (1L, 100L)))
  }

  test("capped-bucket report is empty below cap, flags cross-batch hot keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phidx3").toString
    PHashIndex.build(hashes(0L until 8L), s"$dir/idx")
    assert(PHashIndex.cappedBucketReport(spark, s"$dir/idx").count() == 0L)
    // 30 exact copies appended in 3 batches of 10: each batch under a
    // cap of 25, the union over it — exactly the divergence the report
    // must surface
    val flat = (1000L until 1030L).map(i => (i, 0L, 0L)).toDF("id", "h1", "h2")
    (0 until 3).foreach { b =>
      PHashIndex.append(flat.filter(col("id") % 3 === b), s"$dir/idx",
        maxBucketSize = 25L)
    }
    val report = PHashIndex.cappedBucketReport(spark, s"$dir/idx",
      maxBucketSize = 25L)
    assert(report.count() == 4L) // all 4 bands of the all-zero hash
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("compact: successor holds identical band rows in fewer files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-phidx4").toString
    val h = (0L until 40L).map(i => (i, i * 0x0101010101010101L, ~i))
      .toDF("id", "h1", "h2")
    PHashIndex.build(h.filter(col("id") < 20L), s"$dir/idx")
    (0 until 4).foreach { b =>
      PHashIndex.append(h.filter(col("id") >= 20L && col("id") % 4 === b),
        s"$dir/idx")
    }
    def bands() = IndexMaintenance.live(spark, IndexLog.read(s"$dir/idx"), "bands")
    val (files, rows) = (IndexSpecs.files(s"$dir/idx", "bands"), IndexSpecs.rows(bands()))
    PHashIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexSpecs.files(s"$dir/idx", "bands") == 1 && files > 1)
    assert(IndexSpecs.rows(bands()) == rows)
  }
}
