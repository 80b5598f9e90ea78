package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-stage measurement harness for one or more declared queries
  * (guide §1: measure first, empirically, at the stage level).
  *
  * Runs each named query through the noop sink (same timed action as
  * [[graft.Bench]]) with a listener that aggregates, per stage: wall
  * clock, summed task time, task count, input bytes, shuffle
  * read/write bytes, and spill. Prints the top stages by task time and
  * the job count — the "which operator is the money going to" view the
  * Spark UI gives on a cluster, as plain stdout here (UI is disabled
  * in the sandbox).
  *
  * Usage:
  *   SPARK_GRAFT_ONLY=q93_pagerank tools/profile.sh [passes]
  * Each query runs `passes` times (default 2); per-stage numbers are
  * reported for the LAST pass (codegen/JIT warm), per-pass walls for
  * all.
  */
object ProfileQuery {

  private final case class StageAgg(
      var name: String,
      var wallMs: Long = 0,
      var taskMs: Long = 0,
      var tasks: Int = 0,
      var inputBytes: Long = 0,
      var shuffleRead: Long = 0,
      var shuffleWrite: Long = 0,
      var spill: Long = 0)

  private final class Agg extends SparkListener {
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    var jobs = 0
    val submitted = mutable.Map.empty[Int, Long]
    // stage -> the submitting job's call site (which protocol action)
    val stageSite = mutable.Map.empty[Int, String]
    // SQL execution id -> the query's call site (e.g. "parquet at
    // Bm25Index.scala:54") — the attribution the stage/job events lack
    val execSite = mutable.Map.empty[Long, String]
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSite(s.executionId) = s.description
        case _ =>
      }
    // (jobId, call site, submit ns, end ns) — per-job wall attribution
    val jobLog = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    private val jobStartNs = mutable.Map.empty[Int, (String, Long)]
    // jobs that only read a parquet footer for schema inference
    var inferJobs = 0
    // summed task executorDeserializeTime: task binaries, closures and the
    // Hadoop confs they carry
    var deserMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      if (j.stageInfos.exists(_.details.contains("mergeSchemasInParallel"))) inferJobs += 1
      val p = Option(j.properties)
      val label = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .orElse(p.flatMap(x => Option(x.getProperty("spark.job.description"))))
      val site = (label, p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).flatMap(streamFrame)) match {
        case (Some(l), Some(f)) => s"$l @ $f"
        case _ => label.orElse(j.stageInfos.flatMap(si => graftFrame(si.details)).headOption).getOrElse("?")
      }
      jobStartNs(j.jobId) = (site, System.nanoTime())
      j.stageIds.foreach(sid =>
        stageSite(sid) = s"job$jobs " + site.replace("\n", " ").take(80))
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      jobStartNs.remove(j.jobId).foreach { case (site, t0) =>
        jobLog += ((j.jobId, site, t0, System.nanoTime()))
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      submitted(s.stageInfo.stageId) = System.nanoTime()
      graftFrame(s.stageInfo.details)
        .foreach(l => stageSite(s.stageInfo.stageId) = l.take(90))
    }
    // A micro-batch's jobs all carry the stream's description, and their
    // stages the call site that started the stream. The stream's thread,
    // normally still inside the action when its job starts, names the call
    // site within the batch: its innermost graft frame.
    private def streamFrame(queryId: String): Option[String] =
      Thread.getAllStackTraces.asScala.collectFirst {
        case (t, st) if t.getName.startsWith("stream execution thread") && t.getName.contains(s"id = $queryId") =>
          graftFrame(st.map(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})").mkString("\n"))
      }.flatten
    // first graft frame of a stage's creation site = which operator/
    // protocol action the stage (and a job with no SQL execution or
    // description, e.g. a schema-inference job) belongs to
    private def graftFrame(details: String): Option[String] =
      details.split("\n").find(l => l.contains("graft.") && !l.contains("graft.tools.")).map(_.trim)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val a = stages.getOrElseUpdate(si.stageId, StageAgg(si.name))
      if (a.name.isEmpty) a.name = si.name
      a.wallMs += (for {
        t0 <- submitted.get(si.stageId)
      } yield (System.nanoTime() - t0) / 1000000).getOrElse(0L)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate(t.stageId, StageAgg(""))
      val m = t.taskMetrics
      if (m != null) {
        a.tasks += 1
        deserMs += m.executorDeserializeTime
        a.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled
      }
    }
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1fM"

  /** In-JVM stack sampler for the executor task threads (the sandbox
    * blocks the jstack/jcmd attach API and SIGQUIT dumps, so the hot
    * frame data has to come from inside). Samples every ~15 ms while
    * running; aggregates by (thread state, truncated stack) signature.
    * Enabled with SPARK_GRAFT_SAMPLE=1.
    */
  private final class TaskSampler extends Thread("graft-task-sampler") {
    setDaemon(true)
    @volatile var halted = false
    val sigCount = mutable.Map.empty[String, Int]
    val exemplar = mutable.Map.empty[String, Array[StackTraceElement]]
    override def run(): Unit = {
      while (!halted) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
            val top = st.take(4).map(f => s"${f.getClassName}.${f.getMethodName}")
              .mkString(" <- ")
            val sig = s"[${t.getState}] $top"
            sigCount(sig) = sigCount.getOrElse(sig, 0) + 1
            if (!exemplar.contains(sig)) exemplar(sig) = st.take(30)
          }
        }
        Thread.sleep(15)
      }
    }
    def report(name: String): Unit = {
      val total = sigCount.valuesIterator.sum.max(1)
      println(s"[profile] $name task-thread samples (n=$total):")
      sigCount.toSeq.sortBy(-_._2).take(12).foreach { case (sig, n) =>
        println(f"  ${n * 100.0 / total}%5.1f%% n=$n%5d  ${sig.take(200)}")
      }
      sigCount.toSeq.sortBy(-_._2).take(4).foreach { case (sig, _) =>
        println(s"  ---- exemplar: ${sig.take(120)}")
        exemplar(sig).foreach(f => println(s"       $f"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = if (args.nonEmpty) args(0).toInt else 2
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("set SPARK_GRAFT_ONLY=<query,...>"))
    val spark = graft.GraftSession.local("graft-profile", cores, conf = graft.Bench.sessionConf)

    val sampling = sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      var agg: Agg = null
      var sampler: TaskSampler = null
      for (pass <- 1 to passes) {
        if (sampling && pass == passes) { sampler = new TaskSampler; sampler.start() }
        agg = new Agg
        spark.sparkContext.addSparkListener(agg)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggling listener events drain before reading the agg
        // (listenerBus is private[spark]; a short sleep suffices here)
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(agg)
        println(f"[profile] $name pass$pass wall=$wall%.2fs jobs=${agg.jobs} " +
          f"infer=${agg.inferJobs} deser=${agg.deserMs / 1e3}%.2fs " +
          f"stages=${agg.stages.size} taskTime=${agg.stages.valuesIterator.map(_.taskMs).sum / 1e3}%.2fs")
      }
      if (sampler != null) { sampler.halted = true; sampler.join(200); sampler.report(name) }
      // per-call-site job rollup: which protocol action owns the jobs
      // and their wall (job walls overlap when concurrent; the sum is an
      // upper bound on their serial cost)
      val bySite = agg.jobLog.groupBy(_._2).toSeq
        .map { case (site, js) =>
          (site, js.size, js.map(j => (j._4 - j._3) / 1e6).sum) }
        .sortBy(-_._3)
      println(s"[profile] $name jobs by call site (last pass):")
      bySite.take(20).foreach { case (site, n, ms) =>
        println(f"  jobs=$n%3d wall=${ms / 1e3}%6.2fs  ${site.replace("\n", " ").take(200)}")
      }
      val top = agg.stages.toSeq.sortBy(-_._2.taskMs).take(25)
      println(f"[profile] $name top stages by task time (last pass):")
      top.foreach { case (id, a) =>
        println(f"  stage $id%4d task=${a.taskMs / 1e3}%7.2fs n=${a.tasks}%3d " +
          f"in=${mb(a.inputBytes)}%8s sr=${mb(a.shuffleRead)}%8s " +
          f"sw=${mb(a.shuffleWrite)}%8s spill=${mb(a.spill)}%6s  " +
          agg.stageSite.getOrElse(id, a.name.take(60)))
      }
    }
    spark.stop()
  }
}
