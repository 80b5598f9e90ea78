package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{IndexLog, IndexMaintenance}

/** `Parquet.read` against `spark.read.parquet` over every shape of read
  * `src/main` makes: the same schema and rows, with no job run to build
  * the frame where Spark's inference runs one.
  */
class ParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val corpus = "perfbench/data/sf0.01"

  /** The descriptions of the jobs `body` starts on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"parquet-spec-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      try body finally sc.setJobDescription(null)
      // the listener queue delivers in post order: once the marker job is
      // seen, every job before it has been counted
      sc.setJobDescription(tag + "-marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains(tag + "-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains(tag + "-marker"))
    } finally sc.removeSparkListener(listener)
    jobs.toArray.count(_ == tag)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def sameAsSpark(paths: String*): Unit = {
    var ours: DataFrame = null
    var theirs: DataFrame = null
    assert(jobsOf { ours = Parquet.read(spark, paths: _*) } == 0, paths)
    assert(jobsOf { theirs = spark.read.parquet(paths: _*) } == 1, paths)
    assert(ours.schema == theirs.schema, paths)
    assert(rows(ours) == rows(theirs), paths)
  }

  test("every corpus table, events' NANOS ts included, reads as spark.read.parquet does") {
    Tables.all.foreach(t => sameAsSpark(Tables.path(corpus, t)))
  }

  test("index tables, partitioned and empty writes, single files and globs read as spark.read.parquet does") {
    graft.queries.Scratch.using("parquet-spec") { d =>
      import spark.implicits._
      val idx = s"$d/index"
      IndexMaintenance.build(idx)(Seq("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
      IndexMaintenance.append(idx)(_ => Seq("t" -> Seq((3L, "c")).toDF("id", "v")))
      IndexMaintenance.forget(idx, Seq(2L).toDF("id"))
      val log = IndexLog.read(idx)
      assert(log.live("t").size == 2)
      sameAsSpark(log.live("t"): _*)
      // a root under an underscore directory: <index>/_dels/<seq>-<tok>
      assert(log.live(IndexMaintenance.Dels).map(_.contains("/_dels/")) == Seq(true))
      sameAsSpark(log.live(IndexMaintenance.Dels): _*)

      Seq((1, "x", 0.5), (2, "y", 1.5), (3, "z", 2.5)).toDF("id", "s", "batch_val")
        .withColumn("batch", $"id" % 2).write.partitionBy("batch").parquet(s"$d/parts")
      sameAsSpark(s"$d/parts")

      Seq.empty[(Long, String)].toDF("id", "s").write.parquet(s"$d/empty")
      sameAsSpark(s"$d/empty")

      Seq((1, Seq(1.0, 2.0)), (2, Seq(3.0))).toDF("id", "vec").repartition(2).write.parquet(s"$d/files")
      val part = new java.io.File(s"$d/files").listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min
      sameAsSpark(part)
      sameAsSpark(s"$d/files/*.parquet")
    }
  }

  test("a directory with no data file fails with an error that names it") {
    graft.queries.Scratch.using("parquet-spec-none") { d =>
      new java.io.File(s"$d/t/_hidden").mkdirs()
      val e = intercept[IllegalArgumentException](Parquet.read(spark, s"$d/t"))
      assert(e.getMessage.contains(s"$d/t"))
    }
  }
}
