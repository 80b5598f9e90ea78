package graft.sources

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DeletionVectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dv").toString + "/t"
    (0L until 100L).map(i => (i, s"v$i", i % 4))
      .toDF("id", "payload", "bucket")
      .repartition(4)
      .write.parquet(dir)
    dir
  }

  private def liveIds(t: String): Set[Long] =
    DeletionVectors.read(spark, t).select("id").collect().map(_.getLong(0)).toSet

  test("delete removes exactly the predicate rows; data files untouched") {
    val t = mkTable()
    val before = spark.read.parquet(t).inputFiles.sorted
    val n = DeletionVectors.delete(spark, t, col("id") < 10)
    assert(n == 10)
    assert(liveIds(t) == (10L until 100L).toSet)
    // plain reads see the same immutable data files (and no _dv leakage)
    assert(spark.read.parquet(t).inputFiles.sorted.sameElements(before))
    assert(spark.read.parquet(t).count() == 100)
  }

  test("generations compose and re-deletes are idempotent") {
    val t = mkTable()
    assert(DeletionVectors.delete(spark, t, col("bucket") === 0) == 25)
    assert(DeletionVectors.delete(spark, t, col("id") < 20) == 15)
    // second call: every id<20 ∧ bucket!=0 row is already dead
    assert(DeletionVectors.delete(spark, t, col("id") < 20) == 0)
    assert(liveIds(t) == (20L until 100L).filter(_ % 4 != 0).toSet)
  }

  test("stats account every data file: n_rows == n_deleted + n_live") {
    val t = mkTable()
    DeletionVectors.delete(spark, t, col("id") % 10 === 3)
    val st = DeletionVectors.stats(spark, t).collect()
    assert(st.length == 4)
    assert(st.forall(r => r.getLong(1) == r.getLong(2) + r.getLong(3)))
    assert(st.map(_.getLong(2)).sum == 10)
  }

  test("materialize folds DVs into plain files with no sidecar") {
    val t = mkTable()
    DeletionVectors.delete(spark, t, col("id") >= 50)
    val dest = java.nio.file.Files.createTempDirectory("graft-dvm").toString + "/m"
    DeletionVectors.materialize(spark, t, dest)
    val out = spark.read.parquet(dest)
    assert(out.count() == 50)
    assert(out.columns.sorted.sameElements(Array("bucket", "id", "payload")))
    assert(DeletionVectors.deletedPositions(spark, dest).count() == 0)
  }

  test("two writers deleting disjoint predicates at once both land") {
    // both start each round together; a shared sidecar directory made
    // them share Hadoop's _temporary/0, where one job's commit removes
    // the other's uncommitted output
    val preds = Seq(col("bucket") === 1, col("bucket") === 2)
    val serial = mkTable()
    preds.foreach(DeletionVectors.delete(spark, serial, _))
    val want = liveIds(serial)
    val rounds = 24
    val pool = Executors.newFixedThreadPool(2)
    val failed = try (1 to rounds).flatMap { round =>
      val t = mkTable()
      val barrier = new CyclicBarrier(2)
      val deleted = preds.map(p => pool.submit(new Callable[Long] {
        def call(): Long = { barrier.await(); DeletionVectors.delete(spark, t, p) }
      })).map(f => scala.util.Try(f.get(5, TimeUnit.MINUTES)))
      val got = liveIds(t)
      if (deleted.forall(_.toOption.contains(25L)) && got == want) None
      else Some(s"round $round: ${deleted.map(_.fold(_.toString.take(160), _.toString))} " +
        s"missing ${(want -- got).size}, extra ${(got -- want).size}")
    } finally pool.shutdownNow()
    assert(failed.isEmpty, s"${failed.size}/$rounds rounds failed: ${failed.mkString("; ")}")
  }

  test("delete on a table with no DVs yet, and a no-match predicate") {
    val t = mkTable()
    assert(DeletionVectors.delete(spark, t, col("id") > 1000) == 0)
    assert(liveIds(t).size == 100)
  }
}
