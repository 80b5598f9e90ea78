package graft.llm

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** One kill-point table over every persisted index ([[IndexLog]]'s
  * crash contract). Each row is one operation; each runs at two kill
  * points:
  *
  *  - the data job dies midway (its input throws inside a task, or, for
  *    a compaction, which has no input frame, its task commit throws);
  *  - the data is complete but no entry is committed — the operation
  *    runs for real against a copy of its target, every file it wrote
  *    outside `_log` is copied back into the original, and each entry
  *    it committed lands only as a temp entry file (the commit died
  *    before its link).
  *
  * At both, the torn attempt must be invisible (the observable state,
  * versions included, equals the state before), vacuum must spare the
  * torn attempt's directories, supersede nothing and delete its temp
  * entries, and a plain retry must reach exactly the state of a clean
  * run.
  */
class IndexCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `fixture(root)` commits the state the operation starts from;
    * `target(root)` is where the operation commits (the index or a
    * successor); `run(root, target, input)` performs
    * it with its input frame passed through `input`; `read(root)` is
    * the observable state. `poisonable` rows have an input frame a
    * data job consumes; `vacuum` is the member's vacuum, if it has one.
    */
  private case class Op(name: String, fixture: String => Unit,
      target: String => String,
      run: (String, String, DataFrame => DataFrame) => Unit,
      read: String => Set[String], poisonable: Boolean = true,
      vacuum: Option[String => Int] = None)

  private val killed =
    udf(() => sys.error("kill point: the data job dies midway"): Boolean)
      .asNondeterministic()

  private val poison: DataFrame => DataFrame =
    _.repartition(2).filter(killed())

  /** A session whose parquet task commits die. */
  private lazy val dying = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.output.committer.class",
      classOf[IndexCrashSpec.DyingCommitter].getName)
    s
  }

  /** The session a compaction runs in: `dying` at the first kill point. */
  private def sessionOf(in: DataFrame => DataFrame) = if (in eq poison) dying else spark

  private def tmp(): String = Files.createTempDirectory("graft-crash").toString

  private def strings(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private def versioned(v: Option[Int])(rows: => Set[String]): Set[String] =
    v.fold(Set("unbuilt"))(n => rows + s"version=$n")

  // ---- fixtures ----

  private def lines(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Seq("SHARED HEADER", s"body $i", s"tag ${i % 3}")))
      .toDF("id", "lines")

  private val linesCol: Column = col("lines")

  private def docs(ids: Seq[Long]): DataFrame = Seq(
    (1L, "spark shuffles data across the cluster"),
    (2L, "spark caches hot data in memory"),
    (3L, "the cluster scales the shuffle tier"),
    (4L, "rare xylophone token lives here"),
    (5L, "memory tier caches the hot shuffle"))
    .filter(r => ids.contains(r._1)).toDF("doc_id", "text")

  private def spanDocs(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      ((0 until 12).map(j => s"w$i-$j") ++ (0 until 10).map(j => s"dup$j"))
        .mkString(" "))).toDF("doc_id", "text")

  private def toks(hs: Seq[Long]): DataFrame = hs.toDF("h")

  private def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("id_a", "id_b")

  private def urls(us: String*): DataFrame = us.toDF("url")

  private val queries = Seq((100L, "spark data"), (200L, "xylophone"),
    (300L, "hot memory")).toDF("qid", "qtext")

  private def hashes(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, i * 0x0101010101010101L, ~i)).toDF("id", "h1", "h2")

  private def vecs(ids: Seq[Long]): DataFrame = ids.map { i =>
    val r = new scala.util.Random(i / 2)
    (i, Array.fill(64)(r.nextGaussian().toFloat))
  }.toDF("vec_id", "embedding")

  // ---- reads ----

  private def lineRead(root: String) = versioned(
    LineDedupIndex.latestVersion(s"$root/idx"))(
    strings(LineDedupIndex.dfTable(spark, s"$root/idx")) +
      s"live=${DeltaChain.liveDeltaVersions(s"$root/idx")}")

  private def bm25Read(idx: String) = versioned(Bm25Index.latestVersion(idx))(
    strings(Bm25Index.search(spark, idx, queries, k = 3)))

  private def famRead(root: String) = versioned(
    FamilyIndex.latestVersion(s"$root/idx"))(
    strings(FamilyIndex.assignment(spark, s"$root/idx")) +
      s"live=${DeltaChain.liveDeltaVersions(s"$root/idx")}")

  private def idx(root: String) = s"$root/idx"

  /** A log-committed index's state: the kinds of its entries and each
    * table's live rows, tombstones applied.
    */
  private def tables(names: String*)(root: String): Set[String] = {
    val log = IndexLog.read(idx(root))
    versioned(log.latestVersion)(names.flatMap(t =>
      strings(IndexMaintenance.live(spark, log, t)).map(r => s"$t:$r")).toSet +
      s"entries=${log.entries.map(_.kind)}")
  }

  private def frontierRead(root: String) =
    tables()(root) ++ strings(FrontierIndex.visited(spark, idx(root)))

  /** build, append, compact and forget rows for a band-key index. */
  private def wing(name: String, tableNames: Seq[String], input: Seq[Long] => DataFrame,
      build: (DataFrame, String) => Unit, append: (DataFrame, String) => Unit,
      compact: (org.apache.spark.sql.SparkSession, String) => Unit,
      forget: Option[(String, DataFrame) => Unit]): Seq[Op] = {
    val read = tables(tableNames: _*) _
    val vacuum = Some((r: String) => IndexLog.vacuum(idx(r)))
    def built(r: String) = build(input(Seq(1L, 2L, 3L)), idx(r))
    Seq(
      Op(s"$name.build", _ => (), idx, (_, t, in) => build(in(input(Seq(1L, 2L, 3L))), t),
        read, vacuum = vacuum),
      Op(s"$name.append", built, idx, (_, t, in) => append(in(input(Seq(4L, 5L))), t),
        read, vacuum = vacuum),
      Op(s"$name.compact", { r =>
          built(r)
          append(input(Seq(4L)), idx(r))
          append(input(Seq(5L)), idx(r))
          IndexMaintenance.forget(idx(r), Seq(2L).toDF("id"))
        }, idx, (_, t, in) => compact(sessionOf(in), t), read, vacuum = vacuum)) ++
      forget.map(f => Op(s"$name.forget", built, idx,
        (_, t, in) => f(t, in(Seq(2L, 3L).toDF("id"))), read, vacuum = vacuum))
  }

  private val ops = Seq(
    Op("LineDedupIndex.build", _ => (), idx,
      (_, t, in) => LineDedupIndex.build(in(lines(0 until 10)), t, "id", linesCol),
      lineRead),
    Op("LineDedupIndex.addBatch",
      r => LineDedupIndex.build(lines(0 until 10), idx(r), "id", linesCol), idx,
      (_, t, in) => LineDedupIndex.addBatch(spark, t, in(lines(10 until 20)),
        "id", linesCol),
      lineRead, vacuum = Some(r => LineDedupIndex.vacuum(spark, idx(r)))),
    // DeltaChain compaction, through its LineDedupIndex member
    Op("LineDedupIndex.compact", { r =>
        LineDedupIndex.build(lines(0 until 10), idx(r), "id", linesCol)
        LineDedupIndex.addBatch(spark, idx(r), lines(10 until 20), "id", linesCol)
        LineDedupIndex.addBatch(spark, idx(r), lines(20 until 30), "id", linesCol)
      }, idx,
      (_, t, _) => LineDedupIndex.compact(spark, t),
      lineRead, poisonable = false,
      vacuum = Some(r => LineDedupIndex.vacuum(spark, idx(r)))),
    Op("CmsIndex.addBatch",
      r => CmsIndex.build(toks(Seq.tabulate(100)(i => (i % 7).toLong)), idx(r)), idx,
      (_, t, in) => CmsIndex.addBatch(spark, t,
        in(toks(Seq.tabulate(100)(i => (i % 13).toLong)))),
      r => versioned(CmsIndex.latestVersion(idx(r)))(
        strings(CmsIndex.cellTable(spark, idx(r)))),
      vacuum = Some(r => CmsIndex.vacuum(spark, idx(r)))),
    Op("SpanDedupIndex.addBatch",
      r => SpanDedupIndex.build(spanDocs(0 until 3), idx(r), "doc_id", "text"), idx,
      (_, t, in) => SpanDedupIndex.addBatch(spark, t, in(spanDocs(3 until 6)),
        "doc_id", "text"),
      r => versioned(SpanDedupIndex.latestVersion(idx(r)))(
        strings(SpanDedupIndex.gramTable(spark, idx(r)))),
      vacuum = Some(r => SpanDedupIndex.vacuum(spark, idx(r)))),
    Op("FamilyIndex.addBatch",
      r => FamilyIndex.build(pairs((1L, 2L), (3L, 4L)), idx(r)), idx,
      (_, t, in) => FamilyIndex.addBatch(spark, t, in(pairs((2L, 3L), (7L, 8L)))),
      famRead, vacuum = Some(r => FamilyIndex.vacuum(spark, idx(r)))),
    Op("FamilyIndex.compact", { r =>
        FamilyIndex.build(pairs((1L, 2L), (3L, 4L)), idx(r))
        FamilyIndex.addBatch(spark, idx(r), pairs((2L, 3L)))
        FamilyIndex.addBatch(spark, idx(r), pairs((0L, 4L), (7L, 8L)))
      }, idx,
      (_, t, _) => FamilyIndex.compact(spark, t),
      famRead, poisonable = false,
      vacuum = Some(r => FamilyIndex.vacuum(spark, idx(r)))),
    Op("Bm25Index.build", _ => (), idx,
      (_, t, in) => Bm25Index.build(in(docs(Seq(1L, 2L, 3L))), t, "doc_id", "text"),
      r => bm25Read(idx(r))),
    Op("Bm25Index.addBatch",
      r => Bm25Index.build(docs(Seq(1L, 2L)), idx(r), "doc_id", "text"), idx,
      (_, t, in) => Bm25Index.addBatch(spark, t, in(docs(Seq(3L, 4L, 5L))),
        "doc_id", "text"),
      r => bm25Read(idx(r))),
    Op("Bm25Index.deleteDocs",
      r => Bm25Index.build(docs(1L to 5L), idx(r), "doc_id", "text"), idx,
      (_, t, in) => Bm25Index.deleteDocs(spark, t, in(Seq(4L).toDF("doc_id"))),
      r => bm25Read(idx(r))),
    Op("Bm25Index.compact (successor)", { r =>
        Bm25Index.build(docs(Seq(1L, 2L)), idx(r), "doc_id", "text")
        Bm25Index.addBatch(spark, idx(r), docs(Seq(3L, 4L, 5L)), "doc_id", "text")
      }, r => s"$r/succ",
      (r, t, _) => Bm25Index.compact(spark, idx(r), t),
      r => bm25Read(s"$r/succ"), poisonable = false),
    Op("FrontierIndex.addBatch",
      r => FrontierIndex.build(urls("https://a.x/1"), idx(r), "url"), idx,
      (_, t, in) => FrontierIndex.addBatch(spark, t,
        in(urls("https://a.x/1", "https://a.x/2")), "url"),
      r => versioned(FrontierIndex.latestVersion(idx(r)))(
        strings(FrontierIndex.visited(spark, idx(r))))),
    Op("FrontierIndex.forgetUrls",
      r => FrontierIndex.build(urls("https://a.x/1", "https://b.y/2"), idx(r), "url"), idx,
      (_, t, in) => FrontierIndex.forgetUrls(in(urls("https://a.x/1")), t, "url"),
      frontierRead),
    Op("FrontierIndex.forgetHosts",
      r => FrontierIndex.build(urls("https://a.x/1", "https://b.y/2"), idx(r), "url"), idx,
      (_, t, in) => FrontierIndex.forgetHosts(in(Seq("b.y").toDF("host")), t, "host"),
      frontierRead)) ++
    wing("MinHashIndex", Seq("bands"), docs,
      MinHashIndex.build(_, _, "doc_id", "text"), MinHashIndex.append(_, _, "doc_id", "text"),
      MinHashIndex.compact(_, _, 1), Some(MinHashIndex.forget)) ++
    wing("SimHashIndex", Seq("bands"), docs,
      SimHashIndex.build(_, _, "doc_id", "text"), SimHashIndex.append(_, _, "doc_id", "text"),
      SimHashIndex.compact(_, _, 1), None) ++
    wing("WinnowIndex", Seq("postings"), docs,
      WinnowIndex.build(_, _, "doc_id", "text"), WinnowIndex.append(_, _, "doc_id", "text"),
      WinnowIndex.compact(_, _, 1), None) ++
    wing("PHashIndex", Seq("bands"), hashes,
      graft.multimodal.PHashIndex.build(_, _), graft.multimodal.PHashIndex.append(_, _),
      graft.multimodal.PHashIndex.compact(_, _, 1), None) ++
    wing("EmbeddingLshIndex", Seq("vecs", "bands"), vecs,
      EmbeddingLshIndex.build(_, _), EmbeddingLshIndex.append(_, _),
      EmbeddingLshIndex.compact(_, _, 1), Some(EmbeddingLshIndex.forget(spark, _, _)))

  // ---- kill points ----

  private def files(dir: JPath): Seq[JPath] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.toList
      finally s.close()
    }

  /** Run `op` for real against a copy of its target, then copy every
    * file it wrote outside `_log` back, and each entry it committed as
    * a temp entry file: complete data, no entry. Returns the top-level
    * directories and the temp entries the torn attempt added.
    */
  private def tornRun(op: Op, root: String): (Set[File], Set[File]) = {
    val target = new File(op.target(root)).toPath
    val shadow = new File(tmp(), "shadow").toPath
    files(target).foreach { f =>
      val to = shadow.resolve(target.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to)
    }
    op.run(root, shadow.toString, identity)
    val (log, data) = files(shadow).map(shadow.relativize)
      .filter(rel => !Files.exists(target.resolve(rel)))
      .partition(_.iterator.asScala.exists(_.toString == "_log"))
    val dirs = data.flatMap { rel =>
      val to = target.resolve(rel)
      if (Files.isDirectory(shadow.resolve(rel))) Files.createDirectories(to)
      else Files.copy(shadow.resolve(rel), to)
      // the data directory is the rel's first two components: table/dir
      if (rel.getNameCount >= 2) Some(target.resolve(rel.subpath(0, 2)).toFile)
      else None
    }.toSet
    val entries = log.filter(rel => Files.isRegularFile(shadow.resolve(rel))).map { rel =>
      val to = target.resolve(rel)
      Files.createDirectories(to.getParent)
      Files.copy(shadow.resolve(rel),
        to.resolveSibling(s".${to.getFileName}.torn.tmp")).toFile
    }.toSet
    (dirs, entries)
  }

  private def cleanRun(op: Op): String = {
    val root = tmp()
    op.fixture(root)
    op.run(root, op.target(root), identity)
    root
  }

  private def retryHeals(op: Op, root: String): Unit = {
    op.run(root, op.target(root), identity)
    val clean = cleanRun(op)
    assert(op.read(root) == op.read(clean))
    op.vacuum.foreach { v =>
      // the committed attempt supersedes exactly what a clean run does
      assert(v(root) == v(clean))
      assert(op.read(root) == op.read(clean))
    }
  }

  ops.filter(_.poisonable).foreach { op =>
    test(s"${op.name}: the data job dies midway") {
      val root = tmp()
      op.fixture(root)
      val before = op.read(root)
      intercept[Exception](op.run(root, op.target(root), poison))
      assert(op.read(root) == before)
      op.vacuum.foreach(v => assert(v(root) == 0))
      retryHeals(op, root)
    }
  }

  ops.foreach { op =>
    test(s"${op.name}: data complete, no entry committed") {
      val root = tmp()
      op.fixture(root)
      val before = op.read(root)
      val (torn, tornEntries) = tornRun(op, root)
      assert(torn.nonEmpty)
      assert(tornEntries.nonEmpty)
      assert(op.read(root) == before)
      op.vacuum.foreach { v =>
        assert(v(root) == 0)
        assert(op.read(root) == before)
        torn.foreach(d => assert(d.exists(), s"vacuum removed in-flight $d"))
      }
      // the log's own vacuum deletes the crashed commit's temp entries
      tornEntries.foreach { f =>
        assert(IndexLog.vacuum(f.getParentFile.getParent) == 0)
        assert(!f.exists(), s"vacuum left temp entry $f")
      }
      assert(op.read(root) == before)
      retryHeals(op, root)
    }
  }
}

object IndexCrashSpec {
  /** A parquet output committer whose task commit dies. */
  class DyingCommitter(out: org.apache.hadoop.fs.Path,
      ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
    override def commitTask(ctx: org.apache.hadoop.mapreduce.TaskAttemptContext): Unit =
      sys.error("kill point: the data job dies midway")
  }
}
