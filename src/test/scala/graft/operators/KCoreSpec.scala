package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class KCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    KCore.peel(edges.toDF("u", "v"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle plus pendant: 2-core is the triangle, pendant peels off") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = run(edges, k = 2, rounds = 2)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("chain cascade: peeling propagates inward round by round") {
    // path 1-2-3-4-5: endpoints have degree 1; the 2-core is empty, but
    // it takes TWO peels to see it — round 1 keeps the middle {2,3,4},
    // round 2 peels the new endpoints and with them every edge
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(chain, k = 2, rounds = 1).keySet == Set(2L, 3L, 4L))
    assert(run(chain, k = 2, rounds = 2).isEmpty)
    // converged: extra rounds are no-ops
    assert(run(chain, k = 2, rounds = 5).isEmpty)
  }

  test("self-loops and duplicate edges (incl. reversed) are normalized away") {
    val messy = Seq((1L, 2L), (2L, 1L) /* reversed duplicate */,
      (1L, 1L), (2L, 3L), (1L, 3L))
    // edges canonicalize to (least, greatest) before distinct(), so a
    // reversed duplicate counts the edge ONCE — an input carrying both
    // orientations must not double every degree (that would shift the
    // effective k threshold)
    val got = run(messy, k = 1, rounds = 1)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(run(Seq((1L, 2L), (2L, 1L)), k = 1, rounds = 1) ==
      Map(1L -> 1L, 2L -> 1L))
    // a symmetrized triangle is still only a 2-core, not a 4-core
    val symTri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
    assert(run(symTri, k = 3, rounds = 2).isEmpty)
    assert(run(symTri, k = 2, rounds = 1).keySet == Set(1L, 2L, 3L))
    assert(run(Seq((1L, 1L)), k = 1, rounds = 1).isEmpty)
  }

  // the rounds/converged report is pinned in IterateFixpointSpec
  test("peelToFixpoint: early stop equals fixed-round peel") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val early = KCore.peelToFixpoint(chain, k = 2, maxRounds = 20).result
    val fixed = KCore.peel(chain, k = 2, rounds = 5).collect().toSet
    assert(early.collect().toSet == fixed)
  }

  test("k=degree+1 empties any graph; k=1 keeps every non-isolated node") {
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(run(clique, k = 4, rounds = 3).isEmpty)
    assert(run(clique, k = 3, rounds = 1).keySet == Set(1L, 2L, 3L, 4L))
    assert(run(clique, k = 1, rounds = 1).values.sum == clique.size * 2L)
  }

  test("partition invariance") {
    val edges = (0L until 200L).map(i => (i % 23, 100L + (i * 7) % 13))
    val a = KCore.peel(edges.toDF("u", "v").repartition(1), 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = KCore.peel(edges.toDF("u", "v").repartition(17), 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }
}
