package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records Spark jobs, stages and tasks, plus the bytes and files that
  * write commands report, as plain records with their event times. It is
  * attached from outside the program and reads only listener events. */
final class Collector(clock: Clock) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, Map[String, Any]]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val tasks = ArrayBuffer.empty[Seq[Any]]
  private val execStartMs = mutable.Map.empty[Long, Long]
  // SQL execution id -> graft frames of the call that started it
  private val execFrames = mutable.Map.empty[Long, Seq[String]]
  // accumulator id -> ("files" | "bytes") of a write command's metrics
  private val writeAcc = mutable.Map.empty[Long, String]
  private val writes = ArrayBuffer.empty[Map[String, Any]]

  /** Frames of the call site that name a graft class, innermost first. */
  private def graftFrames(callSite: String): Seq[String] =
    callSite.split("\n").map(_.trim).filter(l => Collector.GraftFrame.findFirstIn(l).isDefined).toSeq

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.long").filter(_.nonEmpty)
      .orElse(j.stageInfos.sortBy(_.stageId).headOption.map(_.details)).getOrElse("")
    // adaptive query stages run their jobs from a thread pool, whose call
    // site has no graft frame: fall back to the SQL execution's call site
    val frames = Some(graftFrames(site)).filter(_.nonEmpty)
      .orElse(prop("spark.sql.execution.id").flatMap(id => execFrames.get(id.toLong)))
      .getOrElse(Nil)
    jobs(j.jobId) = Map(
      "id" -> j.jobId, "start_ms" -> j.time, "stages" -> j.stageIds,
      "frames" -> frames.take(4),
      "streaming" -> prop("sql.streaming.queryId").isDefined)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(j.jobId) = j.time
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    stages += Map("id" -> i.stageId, "attempt" -> i.attemptNumber(), "name" -> i.name,
      "start_ms" -> i.submissionTime.getOrElse(0L), "end_ms" -> i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Seq(t.stageId, t.taskInfo.launchTime, t.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.outputMetrics.bytesWritten)
  }

  private def noteWriteMetrics(plan: SparkPlanInfo): Unit = {
    plan.metrics.foreach { mi =>
      Collector.WriteMetrics.get(mi.name).foreach(k => writeAcc(mi.accumulatorId) = k)
    }
    plan.children.foreach(noteWriteMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStartMs(s.executionId) = s.time
        execFrames(s.executionId) = graftFrames(s.details)
        noteWriteMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteWriteMetrics(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val byKind = d.accumUpdates.flatMap { case (id, v) => writeAcc.get(id).map(_ -> v) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (byKind.nonEmpty) writes += Map(
          "time_ms" -> execStartMs.getOrElse(d.executionId, clock.nowMs.toLong),
          "files" -> byKind.getOrElse("files", 0L), "bytes" -> byKind.getOrElse("bytes", 0L))
      case _ =>
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => j + ("end_ms" -> jobEnds.getOrElse(j("id").asInstanceOf[Int], 0L)))
  }
  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.toSeq)
  /** [stage, launch_ms, finish_ms, run_ms, cpu_ns, shuffle_read_b,
    *  shuffle_write_b, spill_b, output_b] per task. */
  def taskRecords: Seq[Seq[Any]] = synchronized(tasks.toSeq)
  def writeRecords: Seq[Map[String, Any]] = synchronized(writes.toSeq)
}

object Collector {
  /** A frame of a graft class (`graft.<module>.X` or `graft.X`), not of
    * the benchmark's own `graftbench` package. */
  val GraftFrame = """(?:^|[\s(])graft\.[A-Za-z_$][\w$]*\.""".r
  private val WriteMetrics = Map("number of written files" -> "files", "written output" -> "bytes")
}

/** Records each streaming micro-batch's progress: its phases and
  * state-store rows. */
final class StreamCollector extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches += Map(
      "run" -> p.runId.toString, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> d, "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
  }

  def records: Seq[Map[String, Any]] = synchronized(batches.toSeq)
}

/** Times the `plans` kernels through their registered SQL names on fixed
  * seeded inputs (the same inputs on every run), apart from any query
  * plan. Reports ns per row: the best of several timings of one
  * aggregation over the kernel, divided by the rows it read. The
  * `baseline` entry is the same plan with a trivial expression. */
object Kernels {
  private val Rows = 30000
  private val Copies = 8
  private val Repeats = 5

  def run(spark: org.apache.spark.sql.SparkSession): Map[String, Double] = {
    def tokens(salt: Int) =
      s"transform(sequence(1, 24), i -> concat('w', cast(pmod(xxhash64(id, i, $salt), 300) as string)))"
    def vector(salt: Int) =
      s"transform(sequence(1, 64), i -> cast(pmod(xxhash64(id, i, $salt), 2000) as double) / 1000 - 1)"
    val base = spark.range(Rows)
      .selectExpr(s"${tokens(7)} as a", s"${tokens(11)} as b", s"${vector(13)} as u", s"${vector(17)} as v")
      .cache()
    base.count()
    // replicate the cached rows so that the kernel, not the job launch,
    // dominates each timing
    val input = base.crossJoin(spark.range(Copies).withColumnRenamed("id", "copy"))
    val exprs = Seq(
      "baseline" -> "max(size(a) + size(b))",
      "intersect_size" -> "max(intersect_size(a, b))",
      "jaccard_similarity" -> "max(jaccard_similarity(a, b))",
      "minhash_signature" -> "max(size(minhash_signature(a, 64)))",
      "simhash64" -> "bit_xor(simhash64(a))",
      "dot_product" -> "max(dot_product(u, v))")
    val result = exprs.map { case (name, e) =>
      val best = (1 to Repeats).map { _ =>
        val t0 = System.nanoTime()
        input.selectExpr(e).collect()
        System.nanoTime() - t0
      }.min
      name -> best.toDouble / (Rows.toLong * Copies)
    }.toMap
    base.unpersist(blocking = true)
    result
  }
}
