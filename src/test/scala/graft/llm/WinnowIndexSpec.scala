package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.TextFunctions

class WinnowIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val oldDocs = docs.filter(col("doc_id") < 400)
  private lazy val newDocs = docs.filter(col("doc_id") >= 400)

  /** Full-corpus winnow pairs (the q102 computation, no limit). */
  private def fullPairs(minShared: Long, maxDf: Long) = {
    val post = docs.select(col("doc_id"),
      explode(TextFunctions.winnowedFingerprints(col("text"))).as("f"))
    val keep = post.groupBy("f").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("f")
    val pk = post.join(keep, "f")
    pk.as("a")
      .join(pk.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  private def postings(p: String) =
    IndexMaintenance.live(spark, IndexLog.read(p), "postings")

  private def tripleSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "shared_fps").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental pairs equal the batch-involving slice of the full-corpus run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val inc = tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$dir/idx", newDocs, "doc_id", "text"))
    val full = tripleSet(fullPairs(minShared = 2L, maxDf = 50L))
      .filter { case (a, b, _) => a >= 400 || b >= 400 }
    assert(inc == full && inc.nonEmpty)
    // shared_fps parity matters, not just the pair set: the df cutoff
    // was evaluated over the same corpus as the full run
    assert(inc.forall { case (a, b, _) => a >= 400 || b >= 400 })
  }

  test("append grows the index to exactly the full corpus's postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx2").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    WinnowIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val indexed = postings(s"$dir/idx").count()
    val direct = docs.select(col("doc_id"),
      explode(TextFunctions.winnowedFingerprints(col("text"))).as("f")).count()
    assert(indexed == direct)
  }

  test("append is idempotent at doc granularity (retry cannot double postings)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx5").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    WinnowIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val once = postings(s"$dir/idx").count()
    // the "on any doubt, re-append" retry: a second append of the SAME
    // batch must drop every already-indexed doc's postings — winnow
    // postings feed counts (df, shared_fps), so duplicates would shift
    // the maxDf/minShared thresholds, unlike the band-key indexes
    WinnowIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    assert(postings(s"$dir/idx").count() == once)
  }

  test("re-delivered docs cannot skew the df cutoff (idempotent delivery)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx4").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    // batch = fresh docs PLUS a slice already in the index; double-
    // counting the re-delivered postings in the df cutoff would push
    // shared fingerprints past maxDf and silently drop pairs
    val redelivered = newDocs.unionByName(oldDocs.limit(100))
    val clean = tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$dir/idx", newDocs, "doc_id", "text"))
    val withDupes = tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$dir/idx", redelivered, "doc_id", "text"))
    assert(withDupes == clean && clean.nonEmpty)
  }

  test("a disjoint-content batch yields no cross pairs with history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx3").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    import spark.implicits._
    val alien = Seq(
      (9001L, "zzq qxv wvz pqm zzq qxv wvz pqm xyzzy plugh"),
      (9002L, "totally different alien vocabulary nothing shared here at all"))
      .toDF("doc_id", "text")
    val inc = WinnowIndex.incrementalPairs(spark, s"$dir/idx", alien, "doc_id", "text")
    assert(inc.filter(col("id_a") < 9000L || col("id_b") < 9000L).isEmpty)
  }

  test("compact: successor holds identical postings in fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx4").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    WinnowIndex.append(newDocs, s"$dir/idx", "doc_id", "text")
    val (files, rows) = (IndexSpecs.files(s"$dir/idx", "postings"), IndexSpecs.rows(postings(s"$dir/idx")))
    WinnowIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexSpecs.files(s"$dir/idx", "postings") == 1 && files > 1)
    assert(IndexSpecs.rows(postings(s"$dir/idx")) == rows)
  }
  test("forget: df cutoff and pairs match a from-scratch run over survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wnidx6").toString
    WinnowIndex.build(oldDocs, s"$dir/idx", "doc_id", "text")
    val before = tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$dir/idx", newDocs, "doc_id", "text"))
    val forgotten = before.collect { case (a, _, _) if a < 400 => a }.toSet
    assert(forgotten.nonEmpty)
    val spark2 = spark
    import spark2.implicits._
    WinnowIndex.forget(s"$dir/idx", forgotten.toSeq.toDF("doc_id"))
    val after = tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$dir/idx", newDocs, "doc_id", "text"))
    // parity-EXACT including shared_fps: the df cutoff saw the same
    // surviving corpus a rebuild would (forgotten postings excluded)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-wnidx6b").toString
    WinnowIndex.build(oldDocs.filter(!col("doc_id").isin(forgotten.toSeq: _*)),
      s"$rebuilt/idx", "doc_id", "text")
    assert(after == tripleSet(WinnowIndex.incrementalPairs(
      spark, s"$rebuilt/idx", newDocs, "doc_id", "text")))
    assert(after.forall { case (a, _, _) => !forgotten.contains(a) })
  }
}
