package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimHashIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val oldDocs = docs.filter(col("doc_id") < 400)
  private lazy val newDocs = docs.filter(col("doc_id") >= 400)

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental Hamming pairs equal the batch-involving slice of the full run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx").toString
    SimHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val inc = pairSet(SimHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, "doc_id", "text"))
    val full = pairSet(
      SimHashDedup.nearDupPairs(docs, "doc_id", "text"))
      .filter { case (a, b) => a >= 400 || b >= 400 }
    assert(inc == full && inc.nonEmpty)
    assert(inc.forall { case (a, b) => a >= 400 || b >= 400 })
  }

  test("incremental Jaccard-verified pairs equal the full run's batch slice") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx2").toString
    SimHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text",
      radius = 5, blocks = 8)
    val inc = pairSet(SimHashIndex.incrementalNearDupPairsJaccard(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5,
      radius = 5, blocks = 8))
    val full = pairSet(SimHashDedup.nearDupPairsJaccard(
      docs, "doc_id", "text", threshold = 0.5))
      .filter { case (a, b) => a >= 400 || b >= 400 }
    assert(inc == full && inc.nonEmpty)
    // probing with parameters other than the build's is a hard error,
    // not a silently-empty candidate set (the _params sidecar contract)
    val err = intercept[IllegalArgumentException] {
      SimHashIndex.incrementalNearDupPairs(
        spark, s"$dir/idx", newDocs, "doc_id", "text")
    }
    assert(err.getMessage.contains("built with (radius=5, blocks=8)"))
  }

  test("append grows the index to exactly the full corpus's band keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx3").toString
    SimHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    SimHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val indexed = IndexMaintenance.live(spark, IndexLog.read(s"$dir/idx"), "bands").count()
    val direct = SimHashDedup.bandKeys(docs, "doc_id", "text").count()
    assert(indexed == direct)
    // nothing overflows the default cap here: incremental == full holds
    assert(SimHashIndex.cappedBucketReport(spark, s"$dir/idx").isEmpty)
  }

  test("compact: successor holds identical band keys and the params sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx4").toString
    SimHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    SimHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    def bands() = IndexMaintenance.live(spark, IndexLog.read(s"$dir/idx"), "bands")
    val (files, rows) = (IndexSpecs.files(s"$dir/idx", "bands"), IndexSpecs.rows(bands()))
    SimHashIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexSpecs.rows(bands()) == rows)
    assert(IndexSpecs.files(s"$dir/idx", "bands") == 1 && files > 1)
    // the params sidecar stays, so append-after-compact validates
    assert(SimHashIndex.storedParams(spark, s"$dir/idx").contains((3, 6)))
    intercept[IllegalArgumentException](
      SimHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text", radius = 5))
  }
}
