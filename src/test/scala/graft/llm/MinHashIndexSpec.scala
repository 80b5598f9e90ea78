package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class MinHashIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val oldDocs = docs.filter(col("doc_id") < 400)
  private lazy val newDocs = docs.filter(col("doc_id") >= 400)

  /** The live band-key table, read through the index's log. */
  private def bands(p: String) = IndexMaintenance.live(spark, IndexLog.read(p), "bands")

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental batch dedup equals the batch-involving slice of the full run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val inc = pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5))
    // ground truth: the full-corpus run, restricted to pairs touching
    // the new batch (new-vs-old and new-vs-new)
    val full = pairSet(
      MinHashDedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5))
      .filter { case (a, b) => a >= 400 || b >= 400 }
    assert(inc == full && inc.nonEmpty)
    // and no already-indexed pair leaks in
    assert(inc.forall { case (a, b) => a >= 400 || b >= 400 })
  }

  test("append grows the index to exactly the full corpus's band keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx2").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    MinHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val indexed = bands(s"$dir/idx").count()
    // compare against a direct pass under the index's OWN persisted
    // geometry (build self-calibrates bands; append must follow it)
    val g = MinHashIndex.geometry(spark, s"$dir/idx").get
    val direct = MinHashDedup
      .bandKeys(docs, "doc_id", "text", g.numHashes, g.bands).count()
    assert(indexed == direct)
  }

  test("geometry sidecar: append and probe follow the built banding, compact carries it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhgeom").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text", bands = 16)
    assert(MinHashIndex.geometry(spark, s"$dir/idx")
      .contains(MinHashIndex.Geometry(32, 16, 3)))
    // append called with MISMATCHED args still writes 16-band keys —
    // the sidecar, not the call site, owns the geometry
    MinHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text", bands = 4)
    val perDoc = bands(s"$dir/idx")
      .groupBy("id").count().select("count").distinct().collect()
    assert(perDoc.map(_.getLong(0)).toSeq == Seq(16L))
    // probe under the sidecar geometry reproduces the one-shot pairs
    // computed at the same banding
    val inc = MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text",
      threshold = 0.5, bands = 4 /* ignored: sidecar wins */)
    val full = MinHashDedup.nearDupPairs(docs, "doc_id", "text",
      threshold = 0.5, bands = 16)
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val slice = full.collect()
      .filter(r => newIds(r.getLong(0)) || newIds(r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == slice)
    // in-place compaction keeps the sidecar, and the probe it feeds
    MinHashIndex.compact(spark, s"$dir/idx")
    assert(MinHashIndex.geometry(spark, s"$dir/idx")
      .contains(MinHashIndex.Geometry(32, 16, 3)))
    assert(pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5)) == slice)
  }

  test("a rowless _geom sidecar (interrupted build) fails with a diagnosis, not NoSuchElement") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhgeom2").toString
    // simulate the interrupted build: _geom/ exists with schema but no row
    spark.emptyDataFrame
      .withColumn("num_hashes", lit(0)).withColumn("bands", lit(0))
      .withColumn("shingle_words", lit(0))
      .write.parquet(s"$dir/idx/_geom")
    val e = intercept[IllegalStateException] {
      MinHashIndex.geometry(spark, s"$dir/idx")
    }
    assert(e.getMessage.contains("corrupt _geom sidecar"))
  }

  test("cappedBucketReport flags cross-batch occupancy over the cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx3").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    MinHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    // at the default cap nothing in this corpus overflows: parity holds
    assert(MinHashIndex.cappedBucketReport(spark, s"$dir/idx").isEmpty)
    // with an artificially tiny cap the report is non-empty and its
    // occupancies all exceed the cap — the divergence signal fires
    val tiny = MinHashIndex.cappedBucketReport(spark, s"$dir/idx", maxBucketSize = 1L)
    val occ = tiny.select("occupancy").collect().map(_.getLong(0))
    assert(occ.nonEmpty && occ.forall(_ > 1L))
  }

  test("a batch with no near neighbors yields no pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx3").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val spark2 = spark
    import spark2.implicits._
    val alien = Seq((9001L, "zq xv wk pj fm yb dt rn ls cg hw")).toDF("doc_id", "text")
    val inc = MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", alien,
      docs.select("doc_id", "text").unionByName(alien), "doc_id", "text",
      threshold = 0.5)
    assert(inc.count() == 0)
  }

  test("forget: tombstoned docs vanish from probes; compact materializes the delete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx5").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val before = pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5))
    assert(before.exists { case (a, b) => a < 400 }) // some old-side pairs
    // forget every old doc that paired with the batch -> those pairs
    // must vanish, and the result equals a from-scratch build over the
    // surviving history
    val forgotten = before.collect { case (a, _) if a < 400 => a }.toSet
    val spark2 = spark
    import spark2.implicits._
    MinHashIndex.forget(s"$dir/idx", forgotten.toSeq.toDF("doc_id"))
    val after = pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5))
    assert(after == before.filter { case (a, _) => !forgotten.contains(a) })
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-mhidx5b").toString
    MinHashIndex.build(oldDocs.filter(!col("doc_id").isin(forgotten.toSeq: _*)),
      s"$rebuilt/idx", "doc_id", "text")
    assert(after == pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$rebuilt/idx", newDocs, docs, "doc_id", "text", threshold = 0.5)))
    // compact materializes: no live tombstones, filtered rows,
    // identical probes
    MinHashIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexLog.read(s"$dir/idx").live(IndexMaintenance.Dels).isEmpty)
    assert(IndexMaintenance.scan(spark, IndexLog.read(s"$dir/idx"), "bands")
      .filter(col("id").isin(forgotten.toSeq: _*)).isEmpty)
    assert(after == pairSet(MinHashIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", newDocs, docs, "doc_id", "text", threshold = 0.5)))
  }

  test("compact: successor holds identical band keys in fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx4").toString
    MinHashIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    MinHashIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val (files, rows) = (IndexSpecs.files(s"$dir/idx", "bands"), IndexSpecs.rows(bands(s"$dir/idx")))
    MinHashIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexSpecs.files(s"$dir/idx", "bands") == 1 && files > 1)
    assert(IndexSpecs.rows(bands(s"$dir/idx")) == rows)
  }
}
