package graft.llm

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The commit log's concurrency contract: the put-if-absent primitive
  * has exactly one winner per sequence number, and concurrent writers
  * through [[IndexLog.commit]] — folds, band-key appends, tombstones and
  * in-place compactions — lose no update. Crash behaviour is pinned in
  * IndexCrashSpec.
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

  // ---- two writers on the band-key wing, the tombstones and compaction ----

  // each writer's frames are one partition, so one write's tasks never
  // queue behind the other's

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"doc $i shares alpha beta gamma delta tail${i % 7} x$i"))
      .toDF("doc_id", "text").coalesce(1)

  private def hashes(ids: Range): DataFrame =
    ids.map(i => (i.toLong, i * 0x0101010101010101L, ~i.toLong)).toDF("id", "h1", "h2").coalesce(1)

  private def vecs(ids: Range): DataFrame = ids.map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Array.fill(64)(r.nextGaussian().toFloat))
  }.toDF("vec_id", "embedding").coalesce(1)

  private def urls(ids: Range): DataFrame =
    ids.map(i => s"https://h${i % 3}.x/$i").toDF("url").coalesce(1)

  private val sleepRow = udf { (ms: Int) => Thread.sleep(ms); true }.asNondeterministic()

  /** The two writers' frames: writer 0's rows sleep 15 ms before a
    * shuffle, writer 1's 30 ms after it, so writer 0's operation commits
    * while writer 1's write tasks still run.
    */
  private def writer(t: Int)(df: DataFrame): DataFrame = {
    val key = col(df.columns.head)
    if (t == 0) df.filter(sleepRow(lit(15))).repartition(key)
    else df.repartition(key).filter(sleepRow(lit(30)))
  }

  /** Batch `b` of 20 ids: 0 is the index's build, 1 to 6 the writers'. */
  private def batch(b: Int): Range = b * 20 until b * 20 + 20

  /** The ids of `table`'s live rows (tombstones applied), and the
    * tombstoned ids.
    */
  private def ids(path: String, table: String): Set[String] = {
    val log = IndexLog.read(path)
    IndexMaintenance.live(spark, log, table).select("id").distinct()
      .as[Long].collect().map(i => s"$table:$i").toSet
  }

  private def dels(path: String): Set[String] =
    IndexMaintenance.tombstones(spark, IndexLog.read(path)).toSeq
      .flatMap(_.collect().map(r => s"del:${r.get(0)}")).toSet

  /** One two-writer row: `setup(path)` builds the index; `op(path, t, i)`
    * is writer t's i-th of three operations; `state(path)` is what the
    * index holds.
    */
  private case class Race(name: String, setup: String => Unit,
      op: (String, Int, Int) => Unit, state: String => Set[String])

  private def appendRace(name: String, build: (Range, String) => Unit,
      append: (Range, Int, String) => Unit, tables: String*) =
    Race(name, p => build(batch(0), p), (p, t, i) => append(batch(1 + 3 * t + i), t, p),
      p => tables.flatMap(ids(p, _)).toSet)

  private val races = Seq(
    appendRace("MinHashIndex.append",
      (r, p) => MinHashIndex.build(docs(r), p, "doc_id", "text"),
      (r, t, p) => MinHashIndex.append(writer(t)(docs(r)), p, "doc_id", "text",
        maxBucketSize = 0L), "bands"),
    appendRace("SimHashIndex.append",
      (r, p) => SimHashIndex.build(docs(r), p, "doc_id", "text"),
      (r, t, p) => SimHashIndex.append(writer(t)(docs(r)), p, "doc_id", "text",
        maxBucketSize = 0L), "bands"),
    appendRace("WinnowIndex.append",
      (r, p) => WinnowIndex.build(docs(r), p, "doc_id", "text"),
      (r, t, p) => WinnowIndex.append(writer(t)(docs(r)), p, "doc_id", "text"), "postings"),
    appendRace("PHashIndex.append",
      (r, p) => graft.multimodal.PHashIndex.build(hashes(r), p),
      (r, t, p) => graft.multimodal.PHashIndex.append(writer(t)(hashes(r)), p,
        maxBucketSize = 0L), "bands"),
    appendRace("EmbeddingLshIndex.append",
      (r, p) => EmbeddingLshIndex.build(vecs(r), p),
      (r, t, p) => EmbeddingLshIndex.append(writer(t)(vecs(r)), p, maxBucketSize = 0L), "vecs", "bands"),
    Race("PHashIndex.append and IndexMaintenance.forget",
      p => graft.multimodal.PHashIndex.build(hashes(batch(0)), p),
      { (p, t, i) =>
        val b = batch(1 + 3 * t + i)
        graft.multimodal.PHashIndex.append(writer(t)(hashes(b)), p, maxBucketSize = 0L)
        IndexMaintenance.forget(p, writer(t)(b.take(2).map(_.toLong).toDF("id").coalesce(1)))
      },
      p => ids(p, "bands") ++ dels(p)),
    Race("FrontierIndex.forgetUrls",
      p => FrontierIndex.build(urls(0 until 140), p, "url"),
      (p, t, i) => FrontierIndex.forgetUrls(writer(t)(urls(3 * t + i until 140 by 6)), p, "url"),
      p => FrontierIndex.visited(spark, p).as[String].collect().toSet ++ dels(p)),
    Race("MinHashIndex.append racing compact and vacuum",
      p => MinHashIndex.build(docs(batch(0)), p, "doc_id", "text"),
      (p, t, i) =>
        if (t == 0) MinHashIndex.append(docs(batch(1 + i)), p, "doc_id", "text")
        else { MinHashIndex.compact(spark, p, 1); IndexLog.vacuum(p) },
      p => ids(p, "bands")))

  private val rounds = 4

  races.foreach { race =>
    test(s"two writers: ${race.name} ends with a serial run's ids and tombstones") {
      def fresh() = {
        val p = s"${tmp()}/idx"
        race.setup(p)
        p
      }
      val serial = fresh()
      for (t <- 0 until 2; i <- 0 until 3) race.op(serial, t, i)
      val want = race.state(serial)
      val failed = (1 to rounds).flatMap { round =>
        val p = fresh()
        val barrier = new CyclicBarrier(2)
        // both writers start each of their operations together
        val errors = inParallel(2) { t =>
          (0 until 3).flatMap { i =>
            barrier.await()
            scala.util.Try(race.op(p, t, i)).failed.toOption
          }
        }.flatten
        val got = race.state(p)
        if (errors.isEmpty && got == want) None
        else Some(s"round $round: ${errors.map(_.toString.take(160))} " +
          s"missing ${(want -- got).size}, extra ${(got -- want).size}")
      }
      assert(failed.isEmpty, s"${failed.size}/$rounds rounds failed: ${failed.mkString("; ")}")
    }
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
