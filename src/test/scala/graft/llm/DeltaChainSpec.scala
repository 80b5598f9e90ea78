package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Direct pins for the shared delta-chain layout — the per-index specs
  * cover each converted chain end to end; this one pins the generic
  * invariants every member relies on.
  */
class DeltaChainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cnt(rows: (String, Long)*) = rows.toDF("k", "n")

  test("single-segment read is the snapshot verbatim (no re-sum shuffle)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc1").toString
    DeltaChain.build(cnt("a" -> 2L, "b" -> 1L), dir)
    val composed = DeltaChain.composedSum(spark, dir, Seq("k"), "n")
    // plan shape: a bare relation scan, no Aggregate node
    assert(!composed.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    assert(composed.as[(String, Long)].collect().toSet ==
      Set(("a", 2L), ("b", 1L)))
  }

  test("composition sums across snapshot and every live delta") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc2").toString
    DeltaChain.build(cnt("a" -> 2L), dir)
    DeltaChain.appendDelta(dir)(_ => cnt("a" -> 3L, "b" -> 1L))
    DeltaChain.appendDelta(dir)(_ => cnt("b" -> 4L, "c" -> 5L))
    assert(DeltaChain.latest(dir).contains(3))
    assert(DeltaChain.liveDeltaVersions(dir) == Seq(2, 3))
    assert(DeltaChain.composedSum(spark, dir, Seq("k"), "n")
      .as[(String, Long)].collect().toSet ==
      Set(("a", 5L), ("b", 5L), ("c", 5L)))
  }

  test("compact is a no-op when the base is already the latest version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc4").toString
    DeltaChain.build(cnt("a" -> 1L), dir)
    assert(DeltaChain.compactSum(spark, dir, Seq("k"), "n") == 1)
    assert(DeltaChain.vacuum(spark, dir) == 0)
  }

  test("compaction policy: count leg, bytes leg, and the hold-off cases") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc6").toString
    val lax = DeltaChain.CompactionPolicy(
      maxLiveDeltas = 3, maxDeltaBytesRatio = 1e9)
    // unbuilt chain and fresh build: nothing to fold, never fires
    assert(!DeltaChain.shouldCompact(spark, dir, lax))
    DeltaChain.build(cnt((0 until 200).map(i => s"k$i" -> 1L): _*), dir)
    assert(!DeltaChain.shouldCompact(spark, dir, lax))
    // one small delta: under both legs -> maybeCompact holds off
    DeltaChain.appendDelta(dir)(_ => cnt("a" -> 1L))
    assert(!DeltaChain.shouldCompact(spark, dir, lax))
    assert(DeltaChain.maybeCompact(spark, dir, lax)(
      DeltaChain.compactSum(spark, dir, Seq("k"), "n"),
      DeltaChain.vacuum(spark, dir)).isEmpty)
    assert(DeltaChain.liveDeltaVersions(dir) == Seq(2)) // untouched
    // bytes leg: a tail rivaling the snapshot fires even at 1 delta
    val tight = DeltaChain.CompactionPolicy(
      maxLiveDeltas = 1000, maxDeltaBytesRatio = 0.0)
    assert(DeltaChain.shouldCompact(spark, dir, tight))
    // count leg: the third delta trips maxLiveDeltas = 3
    DeltaChain.appendDelta(dir)(_ => cnt("b" -> 1L))
    assert(!DeltaChain.shouldCompact(spark, dir, lax))
    DeltaChain.appendDelta(dir)(_ => cnt("c" -> 1L))
    assert(DeltaChain.shouldCompact(spark, dir, lax))
    // maybeCompact runs the chain's own fold + vacuum and reports the
    // version; reads unchanged and the tail reclaimed
    val before = DeltaChain.composedSum(spark, dir, Seq("k"), "n")
      .as[(String, Long)].collect().toSet
    assert(DeltaChain.maybeCompact(spark, dir, lax)(
      DeltaChain.compactSum(spark, dir, Seq("k"), "n"),
      DeltaChain.vacuum(spark, dir)).contains(4))
    assert(DeltaChain.liveDeltaVersions(dir).isEmpty)
    assert(DeltaChain.composedSum(spark, dir, Seq("k"), "n")
      .as[(String, Long)].collect().toSet == before)
    // just-compacted: policy quiesces again
    assert(!DeltaChain.shouldCompact(spark, dir, tight))
  }

  test("capture is one consistent shape: a later delta never folds under a lower label") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dc5").toString
    DeltaChain.build(cnt("a" -> 1L), dir)
    DeltaChain.appendDelta(dir)(_ => cnt("a" -> 1L))
    val c = DeltaChain.capture(dir)
    assert(c.base.map(_.version).contains(1) &&
      c.deltas.map(_.version) == Seq(2) && c.version.contains(2))
    // the race compactSum closes: a delta lands AFTER the capture —
    // composing and labeling from the captured shape must not include
    // it, so it stays live above the new base and is counted once
    DeltaChain.appendDelta(dir)(_ => cnt("a" -> 10L))
    assert(DeltaChain.capture(dir).version.contains(3))
    // compactSum's own capture now sees v3; after compaction the chain
    // reads the same totals (count-once invariant)
    assert(DeltaChain.compactSum(spark, dir, Seq("k"), "n") == 3)
    assert(DeltaChain.liveDeltaVersions(dir).isEmpty)
    assert(DeltaChain.composedSum(spark, dir, Seq("k"), "n")
      .as[(String, Long)].collect().toSet == Set(("a", 12L)))
  }
}
