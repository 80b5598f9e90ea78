package graft.streaming

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Multi-batch semantics of the streaming MERGE sink — the part the
  * one-microbatch oracle row (q122) cannot see: batches apply in
  * sequence, each producing a new copy-on-write version, and a restart
  * against an intact checkpoint resumes from the latest snapshot
  * instead of resetting to the seed.
  */
class StreamMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One micro-batch of (k, v, op) changes per element, in order. */
  private def replay(dir: String, batches: Seq[(Long, String, String)]*) =
    StreamOps.replayFiles(dir, batches.map(_.toDF("k", "v", "op")))

  test("two microbatches apply in sequence; versioned snapshots record each step") {
    val root = java.nio.file.Files.createTempDirectory("sm-seq").toString
    val changes = replay(s"$root/src",
      Seq((2L, "b2", "U"), (3L, "c", "I")),
      Seq((1L, "-", "D"), (3L, "c2", "U")))
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val out = StreamMerge.run(spark, changes, target,
        keys = Seq("k"), opCol = "op", dir = s"$root/tbl")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "b2"), (3L, "c2")))
    // v0 seed, one version per batch:
    val versions = new File(s"$root/tbl").listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(versions == Seq("v0", "v1", "v2"))
    val v1 = spark.read.parquet(s"$root/tbl/v1")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(v1 == Seq((1L, "a"), (2L, "b2"), (3L, "c")),
      "intermediate snapshot must reflect exactly batch 1")
  }

  test("restart with an intact checkpoint resumes from the latest version, not the seed") {
    val root = java.nio.file.Files.createTempDirectory("sm-resume").toString
    val changes = replay(s"$root/src", Seq((1L, "a2", "U")))
    val target = Seq((1L, "a")).toDF("k", "v")
    val first = StreamMerge.run(spark, changes, target,
        Seq("k"), "op", s"$root/tbl")
      .as[(Long, String)].collect().toSeq
    assert(first == Seq((1L, "a2")))
    // Second run, same checkpoint: no new files → no batches → the
    // result must still be the post-batch-1 state.
    val second = StreamMerge.run(spark, changes, target,
        Seq("k"), "op", s"$root/tbl")
      .as[(Long, String)].collect().toSeq
    assert(second == Seq((1L, "a2")),
      "an empty resume must not reset the target to the seed")
  }

  test("time travel reads any retained version; vacuum expires old ones, never the latest") {
    val root = java.nio.file.Files.createTempDirectory("sm-ttl").toString
    val changes = replay(s"$root/src",
      Seq((2L, "x", "I")), Seq((2L, "y", "U")))
    val target = Seq((1L, "a")).toDF("k", "v")
    StreamMerge.run(spark, changes, target, Seq("k"), "op", s"$root/tbl")
    assert(StreamMerge.versions(spark, s"$root/tbl") == Seq(0L, 1L, 2L))
    val atV1 = StreamMerge.snapshotAt(spark, s"$root/tbl", 1L)
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(atV1 == Seq((1L, "a"), (2L, "x")))
    val expired = StreamMerge.vacuum(spark, s"$root/tbl", keepLast = 1)
    assert(expired == Seq(0L, 1L))
    assert(StreamMerge.versions(spark, s"$root/tbl") == Seq(2L))
    val latest = StreamMerge.snapshotAt(spark, s"$root/tbl")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(latest == Seq((1L, "a"), (2L, "y")))
    intercept[IllegalArgumentException] {
      StreamMerge.snapshotAt(spark, s"$root/tbl", 0L)
    }
  }

  test("partitioned merge rewrites ONLY touched buckets; untouched partition files stay put") {
    val root = java.nio.file.Files.createTempDirectory("sm-part").toString
    // 4 buckets over k%4; changes touch only bucket 1 (keys 1, 5) and
    // bucket 2 (keys 2, 6: delete EVERY bucket-2 row → bucket dir must
    // vanish).
    val changes = replay(s"$root/src",
      Seq((1L, "a2", "U"), (5L, "e", "I"), (2L, "-", "D"), (6L, "-", "D")))
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (6L, "f"))
      .toDF("k", "v")
    val schema = target.withColumn("op", lit("")).schema
    def partFiles(b: Long): Set[(String, Long)] = {
      val d = new File(s"$root/tbl/data/__bucket=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    // Seed the table (empty change stream), snapshot untouched buckets'
    // file state.
    new File(s"$root/empty").mkdirs()
    val seeded = StreamMerge.runPartitioned(spark,
      spark.readStream.schema(schema).parquet(s"$root/empty/*.parquet"),
      target, "k", "op", s"$root/tbl", numBuckets = 4)
    assert(seeded.count() == 5)
    val b0Before = partFiles(0L)
    val b3Before = partFiles(3L)
    assert(b0Before.nonEmpty && b3Before.nonEmpty)
    val out = StreamMerge.runPartitioned(spark, changes, target,
        "k", "op", s"$root/tbl", numBuckets = 4)
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a2"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(partFiles(0L) == b0Before && partFiles(3L) == b3Before,
      "untouched buckets must not be rewritten")
    assert(partFiles(2L).isEmpty, "a fully-deleted bucket must be removed")
    assert(partFiles(1L) != Set.empty)
  }
}
