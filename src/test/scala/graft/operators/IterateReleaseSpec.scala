package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-13 optimization pin: the iterative graph operators must not
  * LEAK materialized blocks.
  *
  * Every `.materialized` in an iterative loop persists MEMORY_AND_DISK
  * blocks that the ContextCleaner only reclaims on a driver GC — before
  * the fix, a PageRank/HITS/CC call left its edge checkpoint plus every
  * superseded round's checkpoint pinned in the block manager for the
  * session's lifetime (§5 eviction pressure on a long-lived session
  * running many graph queries).
  *
  * The pin, for every iterative operator: after running the operator
  * AND executing an action on its returned frame, the number of
  * persistent RDDs added by the call must not exceed what the returned
  * plan still legitimately references (the final checkpoint(s); for CC
  * also the materialized input that its verts leg reads; nothing for
  * BpeTrainer, which returns a driver-side merge table). Everything
  * else — the input's blocks where provably dead, every superseded
  * iteration — must be unpersisted by the operator itself, not left
  * for GC.
  */
class IterateReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if rdd.getStorageLevel.useMemory => id }.toSet

  // counts only RDDs the call created: a driver GC that reclaims an
  // earlier test's leftovers mid-test must not offset this call's leaks
  private def leakedSince(before: Set[Int]): Int = (persistentIds -- before).size

  test("PageRank.run releases the edge blocks and superseded rounds") {
    val before = persistentIds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 5L))
      .toDF("u", "v")
    val out = PageRank.run(edges, iters = 3)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    // the returned plan reads ONE checkpoint: the final ranks table
    assert(leaked <= 1,
      s"PageRank.run leaked $leaked persistent RDDs (expected <= 1: the " +
        "final ranks checkpoint) — edge/superseded-round release is gone")
  }

  test("PageRank.personalized releases the edge blocks and superseded rounds") {
    val before = persistentIds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("u", "v")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = PageRank.personalized(edges, seeds, iters = 3)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    assert(leaked <= 1,
      s"personalized PageRank leaked $leaked persistent RDDs (expected <= 1)")
  }

  test("Hits.run releases the edge blocks and superseded half-rounds") {
    val before = persistentIds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("u", "v")
    val out = Hits.run(edges, iters = 3)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    // the returned union reads the LAST round's aRaw + hRaw checkpoints
    assert(leaked <= 2,
      s"Hits.run leaked $leaked persistent RDDs (expected <= 2: the last " +
        "round's raw-sum checkpoints) — edge/superseded-round release is gone")
  }

  test("ConnectedComponents.run releases superseded rounds") {
    val before = persistentIds
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (21L, 22L), (3L, 10L))
      .toDF("id_a", "id_b")
    val out = ConnectedComponents.run(pairs)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    // the returned plan legitimately reads TWO checkpoints: the
    // materialized input (verts leg) and the fixpoint edge set
    assert(leaked <= 2,
      s"ConnectedComponents.run leaked $leaked persistent RDDs (expected " +
        "<= 2: input + fixpoint) — superseded-round release is gone")
  }

  test("KCore.peel releases superseded rounds") {
    val before = persistentIds
    // a 5-node chain peels for three rounds at k = 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L),
      (8L, 6L)).toDF("u", "v")
    val out = KCore.peel(edges, k = 2, rounds = 5)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    // the returned degrees read only the final edge checkpoint
    assert(leaked <= 1,
      s"KCore.peel leaked $leaked persistent RDDs (expected <= 1: the final " +
        "edge set) — superseded-round release is gone")
  }

  test("LabelPropagation.run releases the symmetrized edges and superseded rounds") {
    val before = persistentIds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val out = LabelPropagation.run(edges, iters = 3)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    assert(leaked <= 1,
      s"LabelPropagation.run leaked $leaked persistent RDDs (expected <= 1: " +
        "the final labels) — edge/superseded-round release is gone")
  }

  test("TreePaths.resolve releases superseded rounds") {
    val before = persistentIds
    val chain = ((0L, 0L) +: (1L to 10L).map(i => (i, i - 1)))
      .toDF("node", "parent")
    val out = TreePaths.resolve(chain, rounds = 4)
    out.write.format("noop").mode("overwrite").save()
    val leaked = leakedSince(before)
    assert(leaked <= 1,
      s"TreePaths.resolve leaked $leaked persistent RDDs (expected <= 1: " +
        "the final state) — superseded-round release is gone")
  }

  test("BpeTrainer.train releases every state (it returns only the merge table)") {
    val before = persistentIds
    val words = Seq(("abab", 2L), ("ab", 1L), ("abc", 1L)).toDF("word", "freq")
    val merges = graft.llm.BpeTrainer.train(words, rounds = 3)
    assert(merges.nonEmpty)
    val leaked = leakedSince(before)
    assert(leaked <= 0,
      s"BpeTrainer.train leaked $leaked persistent RDDs (expected 0)")
  }

  test("results are unchanged by the release (PageRank fixpoint hash)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 5L))
      .toDF("u", "v")
    val a = PageRank.run(edges, iters = 3).orderBy("node")
      .collect().map(_.toString).mkString("|")
    val b = PageRank.run(edges, iters = 3).orderBy("node")
      .collect().map(_.toString).mkString("|")
    assert(a == b, "release changed PageRank results across invocations")
  }
}
