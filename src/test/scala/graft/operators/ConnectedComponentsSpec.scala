package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.functions._
import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find ground truth: id -> min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("two triangles and a bridge collapse to the right minima") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (3L, 10L), (20L, 21L))
    assert(runCc(edges) == unionFind(edges))
  }

  test("chain graph (worst-case diameter) converges within maxIter") {
    // 64-node path: label propagation would need 63 rounds; star
    // contraction must land well under the default 25
    val edges = (1L until 64L).map(i => (i, i + 1))
    val cc = runCc(edges)
    assert(cc.size == 64 && cc.values.forall(_ == 1L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L))
    val cc = runCc(edges)
    assert(cc == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("empty edge set yields an empty assignment") {
    assert(runCc(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("throws when the round budget runs out before the fixpoint") {
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(chain, maxIter = 1)
    }
    assert(ex.getMessage.contains("did not converge in 1 rounds"))
  }

  test("an edge set empty after canonicalization returns without running a round") {
    // a round would release the superseded canonical edge checkpoint,
    // so no round means no unpersist of an RDD the call created
    val sc = spark.sparkContext
    val floor = sc.emptyRDD[Int].id
    val unpersisted = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId > floor) unpersisted.incrementAndGet()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "cc-marker"))
          marker.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val cc = runCc(Seq((5L, 5L), (6L, 6L), (5L, 5L)))
      // one listener queue delivers in post order: once the marker job
      // is seen, every unpersist the call posted has been counted
      sc.setJobDescription("cc-marker")
      spark.range(1).count()
      sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(cc == Map(5L -> 5L, 6L -> 6L))
      assert(unpersisted.get == 0, s"${unpersisted.get} superseded states released")
    } finally sc.removeSparkListener(listener)
  }

  test("random graphs match union-find") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(runCc(edges) == unionFind(edges))
    }
  }

  test("byNearDupPairs keeps one min-id survivor per group plus unpaired rows") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // groups {1,2,3} (chain: non-transitive pairs), {5,7}; 4,6,8 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.byNearDupPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 4L, 5L, 6L, 8L))
  }
}
