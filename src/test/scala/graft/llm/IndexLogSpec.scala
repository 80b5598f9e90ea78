package graft.llm

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The commit log's concurrency contract: the put-if-absent primitive
  * has exactly one winner per sequence number, and concurrent folds
  * through [[IndexLog.commit]] lose no update. Crash behaviour is
  * pinned in IndexCrashSpec.
  */
class IndexLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-indexlog").toString

  /** Run `n` bodies on `n` threads and wait for all of them. */
  private def inParallel[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(body(i)))),
      5.minutes)
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("put-if-absent: threads racing one sequence number have exactly one winner") {
    val path = tmp()
    val threads = 8
    val rounds = 25
    val barrier = new CyclicBarrier(threads)
    val wins = inParallel(threads) { t =>
      (1 to rounds).map { seq =>
        barrier.await()
        IndexLog.tryCommit(path, IndexLog.Entry(seq.toLong, seq, s"writer-$t",
          Map("data" -> s"$path/data/$seq-$t")))
      }
    }
    (0 until rounds).foreach { r =>
      assert(wins.count(_(r)) == 1, s"round ${r + 1}: ${wins.map(_(r))}")
    }
    // each entry is the winner's, complete
    val log = IndexLog.read(path)
    assert(log.entries.map(_.seq) == (1L to rounds.toLong))
    log.entries.foreach { e =>
      val t = e.kind.stripPrefix("writer-").toInt
      assert(wins(t)(e.seq.toInt - 1))
      assert(e.adds == Map("data" -> s"$path/data/${e.seq}-$t"))
    }
  }

  test("commit: concurrent writers each land, one version apart, none lost") {
    val path = tmp()
    val threads = 6
    val each = 10
    inParallel(threads) { t =>
      (1 to each).foreach { i =>
        IndexLog.commit(path)(log =>
          log.propose(log.nextVersion, "test", Map("w" -> s"$path/w/$t-$i")))
      }
    }
    val log = IndexLog.read(path)
    assert(log.entries.map(_.version) == (1 to threads * each))
    assert(log.entries.map(_.adds("w")).toSet ==
      (for (t <- 0 until threads; i <- 1 to each) yield s"$path/w/$t-$i").toSet)
  }

  test("live pointer: a later flip supersedes, versions are monotone") {
    val root = tmp()
    assert(IndexMaintenance.resolveLive(spark, root, s"$root/a") == s"$root/a")
    assert(IndexMaintenance.commitLivePointer(spark, root, s"$root/a") == 1)
    assert(IndexMaintenance.commitLivePointer(spark, root, s"$root/b") == 2)
    assert(IndexMaintenance.resolveLive(spark, root, s"$root/a") == s"$root/b")
  }

  test("vacuum bounds the log: superseded entries go, the head stays") {
    val path = tmp()
    val cnt = Seq(("a", 1L)).toDF("k", "n")
    DeltaChain.build(cnt, path)
    (1 to 3).foreach { _ =>
      DeltaChain.appendDelta(path)(_ => cnt)
      DeltaChain.compactSum(spark, path, Seq("k"), "n")
      DeltaChain.vacuum(spark, path)
    }
    // one live base; every superseded base and delta entry trimmed
    assert(IndexLog.read(path).entries.map(e => (e.kind, e.version)) ==
      Seq(("base", 4)))
    assert(DeltaChain.composedSum(spark, path, Seq("k"), "n")
      .as[(String, Long)].collect().toSeq == Seq(("a", 4L)))
    DeltaChain.appendDelta(path)(_ => cnt)
    assert(DeltaChain.latest(path).contains(5))
  }

  test("a stale snapshot loses to a compaction and vacuum: no sequence number is reused") {
    val path = tmp()
    val cnt = Seq(("a", 1L)).toDF("k", "n")
    DeltaChain.build(cnt, path)
    var attempts = 0
    // the first attempt holds the snapshot at seq 1 while another writer
    // appends (seq 2), compacts (seq 3, superseding seq 1 and 2) and
    // vacuums; its proposal at seq 2 must lose, not land below the base
    DeltaChain.appendDelta(path) { _ =>
      attempts += 1
      if (attempts == 1) {
        DeltaChain.appendDelta(path)(_ => cnt)
        DeltaChain.compactSum(spark, path, Seq("k"), "n")
        assert(DeltaChain.vacuum(spark, path) == 2)
        assert(IndexLog.read(path).entries.map(_.seq) == Seq(3L))
      }
      cnt
    }
    assert(attempts == 2)
    val log = IndexLog.read(path)
    assert(log.entries.map(e => (e.seq, e.kind, e.version)) ==
      Seq((3L, "base", 2), (4L, "delta", 3)))
    assert(DeltaChain.composedSum(spark, path, Seq("k"), "n")
      .as[(String, Long)].collect().toSeq == Seq(("a", 3L)))
  }

  /** Two threads fold disjoint batches into one index at once; the
    * composed result must equal a from-scratch build over every batch,
    * with exactly one log entry per version.
    */
  test("concurrent folds: LineDedupIndex and Bm25Index lose no batch") {
    val docs = (0L until 70L).map(i =>
      (i, s"common words here doc$i term${i % 5} extra${i % 11}")).toDF("doc_id", "text")
    val linesOf = split(col("text"), " ")
    def batch(b: Int) = docs.filter(col("doc_id") % 7 === b)
    val line = s"${tmp()}/lines"
    val bm25 = s"${tmp()}/bm25"
    LineDedupIndex.build(batch(0), line, "doc_id", linesOf)
    Bm25Index.build(batch(0), bm25, "doc_id", "text")
    inParallel(2) { t =>
      (1 to 6).filter(_ % 2 == t).foreach { b =>
        LineDedupIndex.addBatch(spark, line, batch(b), "doc_id", linesOf)
        Bm25Index.addBatch(spark, bm25, batch(b), "doc_id", "text")
      }
    }
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(asMap(LineDedupIndex.dfTable(spark, line)) ==
      asMap(LineDedup.lineDf(docs, "doc_id", linesOf)))
    val queries = Seq((1L, "common term3"), (2L, "doc42 extra7")).toDF("qid", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "did", "score_x1000").collect().map(_.toSeq).toSet
    assert(rows(Bm25Index.search(spark, bm25, queries, k = 5)) ==
      rows(Bm25.search(docs, "doc_id", "text", queries, k = 5)))
    Seq(line, bm25).foreach { p =>
      assert(IndexLog.read(p).entries.map(_.version) == (1 to 7))
    }
  }
}
