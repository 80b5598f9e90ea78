package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

class EmbeddingLshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Twin vectors: ids (2g, 2g+1) share a direction — the odd one is
    * the even one scaled ×2, so the cosine is exactly 1 and every sign
    * bit (hence every LSH signature) is identical. Cross-group vectors
    * are independent Gaussians (cosine concentrates near 0 at dim 64).
    */
  private def vecs(ids: Seq[Long]) = ids.map { id =>
    val r = new scala.util.Random(id / 2)
    val base = Array.fill(64)(r.nextGaussian().toFloat)
    (id, if (id % 2 == 1) base.map(_ * 2.0f) else base)
  }.toDF("vec_id", "embedding")

  test("cross-batch twins found via the index probe, corpus never re-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx").toString
    // batch 1 = even ids, batch 2 = odd ids: EVERY twin is cross-batch
    EmbeddingLshIndex.build(vecs((0L until 20L).filter(_ % 2 == 0)), s"$dir/idx")
    val probed = EmbeddingLshIndex.incrementalNearDupPairs(spark, s"$dir/idx",
        vecs((0L until 20L).filter(_ % 2 == 1)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed.keySet == (0L until 10L).map(g => (g * 2, g * 2 + 1)).toSet)
    assert(probed.values.forall(_ == 1.0))
  }

  test("probe union equals the one-shot full-corpus pairs; append extends history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx2").toString
    val all = vecs(0L until 24L)
    val b1 = vecs(0L until 12L)                // gids 0-5 complete
    val b2 = vecs(12L until 24L)               // gids 6-11 complete
    EmbeddingLshIndex.build(b1, s"$dir/idx")
    val p1 = EmbeddingKnn.nearDupPairsLsh(b1, threshold = 0.9)
    val p2 = EmbeddingLshIndex.incrementalNearDupPairs(
      spark, s"$dir/idx", b2, threshold = 0.9)
    EmbeddingLshIndex.append(b2, s"$dir/idx")
    val inc = p1.union(p2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = EmbeddingKnn.nearDupPairsLsh(all, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full && full.size == 12)
    // a third batch probes against BOTH prior batches through the
    // appended history: an exact copy of gid 0's vector pairs with 0+1
    val b3 = vecs(Seq(0L)).select((col("vec_id") + 100L).as("vec_id"),
      col("embedding"))
    val p3 = EmbeddingLshIndex.incrementalNearDupPairs(
        spark, s"$dir/idx", b3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p3 == Set((0L, 100L), (1L, 100L)))
  }

  test("capped-bucket report is empty below cap, flags cross-batch hot keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx3").toString
    EmbeddingLshIndex.build(vecs(0L until 8L), s"$dir/idx")
    assert(EmbeddingLshIndex.cappedBucketReport(spark, s"$dir/idx").count() == 0L)
    // 30 copies of one vector appended in 3 batches of 10: each batch
    // under a cap of 25, the cross-batch union over it — exactly the
    // divergence the report must surface, in all 8 LSH tables
    val g0 = vecs(Seq(0L)).select(col("embedding")).as[Array[Float]].head()
    val flat = (1000L until 1030L).map(i => (i, g0)).toDF("vec_id", "embedding")
    (0 until 3).foreach { b =>
      EmbeddingLshIndex.append(flat.filter(col("vec_id") % 3 === b),
        s"$dir/idx", maxBucketSize = 25L)
    }
    val report = EmbeddingLshIndex.cappedBucketReport(spark, s"$dir/idx",
      maxBucketSize = 25L)
    assert(report.count() == 8L) // one hot bucket per LSH table
    // pre-flight form: the same 8 hot buckets named BEFORE any write
    // (what a capped build would drop), none at the default cap
    assert(EmbeddingLshIndex.hotInputBuckets(flat,
      maxBucketSize = 25L).count() == 8L)
    assert(EmbeddingLshIndex.hotInputBuckets(flat).count() == 0L)
  }

  test("compact: successor shrinks files, probe results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx5").toString
    EmbeddingLshIndex.build(vecs((0L until 8L)), s"$dir/idx")
    // several small appends -> many small band files
    (8L until 20L).grouped(3).foreach { g =>
      EmbeddingLshIndex.append(vecs(g.toSeq), s"$dir/idx")
    }
    // identical probe decisions through the compacted index
    val probe = vecs(Seq(0L)).select((col("vec_id") + 500L).as("vec_id"),
      col("embedding"))
    def pairs() = EmbeddingLshIndex
      .incrementalNearDupPairs(spark, s"$dir/idx", probe, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (files, before) = (IndexSpecs.files(s"$dir/idx", "bands"), pairs())
    EmbeddingLshIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    assert(IndexSpecs.files(s"$dir/idx", "bands") == 1 && files > 1)
    assert(IndexSpecs.files(s"$dir/idx", "vecs") == 1)
    assert(pairs() == before)
    assert(pairs() == Set((0L, 500L, 1.0), (1L, 500L, 1.0)))
  }

  test("forget: tombstoned ids vanish from probes; compact materializes the delete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx6").toString
    EmbeddingLshIndex.build(vecs(0L until 12L), s"$dir/idx")
    // a copy of gid 0's direction pairs with BOTH twins 0 and 1...
    val probe = vecs(Seq(0L)).select((col("vec_id") + 500L).as("vec_id"),
      col("embedding"))
    def pairs(p: String) = EmbeddingLshIndex
      .incrementalNearDupPairs(spark, p, probe, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(s"$dir/idx") == Set((0L, 500L), (1L, 500L)))
    // ...until twin 1 is forgotten
    EmbeddingLshIndex.forget(spark, s"$dir/idx", Seq(1L).toDF("vec_id"))
    assert(pairs(s"$dir/idx") == Set((0L, 500L)))
    // re-delivered forget (crash-retry) is absorbed by the anti-join
    EmbeddingLshIndex.forget(spark, s"$dir/idx", Seq(1L).toDF("vec_id"))
    assert(pairs(s"$dir/idx") == Set((0L, 500L)))
    // cleanseWith honors tombstones too: a twin of forgotten id 1 only
    // matches via surviving twin 0 (same direction) — so forget gid 1
    // entirely and check a gid-1 copy is admitted
    EmbeddingLshIndex.forget(spark, s"$dir/idx", Seq(2L, 3L).toDF("vec_id"))
    val gid1copy = vecs(Seq(2L)).select((col("vec_id") + 600L).as("vec_id"),
      col("embedding"))
    assert(EmbeddingLshIndex.cleanseWith(spark, s"$dir/idx", gid1copy,
      threshold = 0.9).count() == 1L)
    // compact materializes: no live tombstones, filtered tables,
    // identical probe decisions
    EmbeddingLshIndex.compact(spark, s"$dir/idx", targetFiles = 1)
    val log = IndexLog.read(s"$dir/idx")
    assert(log.live(IndexMaintenance.Dels).isEmpty)
    assert(IndexMaintenance.scan(spark, log, "vecs")
      .filter(col("id").isin(1L, 2L, 3L)).isEmpty)
    assert(pairs(s"$dir/idx") == Set((0L, 500L)))
  }

  test("defaultPlanesPerTable follows the measured decade law (occupancy ≤ 8)") {
    // anchors from the round-8 recall curves / decade table
    assert(EmbeddingLshIndex.defaultPlanesPerTable(100L) == 8)   // floor
    assert(EmbeddingLshIndex.defaultPlanesPerTable(2000L) == 8)
    assert(EmbeddingLshIndex.defaultPlanesPerTable(20000L) == 12)
    assert(EmbeddingLshIndex.defaultPlanesPerTable(200000L) == 15)
    // monotone, and capped (sig is a Long; dot cost linear in planes)
    assert(EmbeddingLshIndex.defaultPlanesPerTable(2000000L) == 18)
    assert(EmbeddingLshIndex.defaultPlanesPerTable(Long.MaxValue / 2) == 48)
  }

  test("build persists geometry; probes resolve it; explicit mismatch fails fast") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx7").toString
    // 2-batch split of > 2^11 vectors so the decade law binds: auto
    // build must pick planes from the BUILD batch's cardinality and
    // the probe must resolve the same count from the sidecar (a probe
    // at the legacy default 8 would compute different signatures and
    // silently find nothing)
    val even = vecs((0L until 6000L).filter(_ % 2 == 0))
    EmbeddingLshIndex.build(even, s"$dir/idx")
    val g = EmbeddingLshIndex.geometry(spark, s"$dir/idx").get
    assert(g == EmbeddingLshIndex.Geometry(8,
      EmbeddingLshIndex.defaultPlanesPerTable(3000L), 64, 42L))
    assert(g.planesPerTable == 9) // ceil(log2(3000/8))
    // auto probe: every odd twin pairs with its indexed even twin
    val probed = EmbeddingLshIndex.incrementalNearDupPairs(spark,
        s"$dir/idx", vecs((0L until 40L).filter(_ % 2 == 1)),
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 20L).map(gid => (gid * 2, gid * 2 + 1)).toSet
      .subsetOf(probed))
    // explicit params matching the sidecar are accepted...
    EmbeddingLshIndex.append(vecs(Seq(10001L)), s"$dir/idx",
      planesPerTable = 9)
    // ...an under-set plane count (the round-8 decade-blowup mistake)
    // or a wrong seed is rejected, not silently zero-recall
    val e1 = intercept[IllegalArgumentException] {
      EmbeddingLshIndex.incrementalNearDupPairs(spark, s"$dir/idx",
        vecs(Seq(1L)), planesPerTable = 8)
    }
    assert(e1.getMessage.contains("build geometry"))
    intercept[IllegalArgumentException] {
      EmbeddingLshIndex.cleanseWith(spark, s"$dir/idx", vecs(Seq(1L)),
        seed = 7L)
    }
    // in-place compaction keeps the geometry
    EmbeddingLshIndex.compact(spark, s"$dir/idx")
    assert(EmbeddingLshIndex.geometry(spark, s"$dir/idx").contains(g))
    assert(probed.subsetOf(EmbeddingLshIndex.incrementalNearDupPairs(spark,
        s"$dir/idx", vecs((0L until 40L).filter(_ % 2 == 1)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("legacy index without a sidecar resolves the historical defaults") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx8").toString
    EmbeddingLshIndex.build(vecs(0L until 8L), s"$dir/idx")
    // simulate a pre-sidecar index: drop _geom (and the cache entry via
    // a fresh path copy)
    val legacy = s"$dir/legacy"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/idx"), new java.io.File(legacy))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$legacy/_geom"))
    assert(EmbeddingLshIndex.geometry(spark, legacy).isEmpty)
    // auto probe falls back to the 8/8/64/42 the index was built with
    val probed = EmbeddingLshIndex.incrementalNearDupPairs(spark, legacy,
        vecs(Seq(1L)).select((col("vec_id") + 100L).as("vec_id"),
          col("embedding")), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == Set((0L, 101L), (1L, 101L)))
  }

  test("cleanseWith: probe-only admission filter matches one-shot cleanseAgainst") {
    val dir = java.nio.file.Files.createTempDirectory("graft-elidx4").toString
    // reference = gids 0-2 complete (their twins included); batch has
    // gid 0's exact copy (contaminated), gid 1's twin (contaminated),
    // and fresh gids 50-52 (admitted)
    val reference = vecs(0L until 6L)
    EmbeddingLshIndex.build(reference, s"$dir/idx")
    val copy0 = vecs(Seq(0L)).select((col("vec_id") + 200L).as("vec_id"),
      col("embedding"))
    val twin1 = vecs(Seq(3L)).select((col("vec_id") + 300L).as("vec_id"),
      col("embedding"))
    val batch = vecs(100L until 106L).union(copy0).union(twin1)
    val admitted = EmbeddingLshIndex.cleanseWith(spark, s"$dir/idx", batch,
        threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == (100L until 106L).toSet)
    // parity with the one-shot operator on the same reference
    val oneShot = EmbeddingKnn.cleanseAgainst(batch, reference,
        threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == oneShot)
    // batch-internal twins are NOT the cleanse's business: a twin pair
    // inside the batch with no reference partner is fully admitted
    assert(admitted.intersect(Set(100L, 101L)) == Set(100L, 101L))
  }
}
