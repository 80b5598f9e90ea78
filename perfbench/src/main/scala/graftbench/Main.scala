package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM.
  *
  * Builds the session through the program's own factory, runs untimed
  * warm-up passes (the first one's results are written for the oracle
  * check), then runs timed passes (one client, closed loop) until the requested
  * seconds have elapsed. Every measurement is written raw to
  * `<out>/raw.json`; the arithmetic over it lives in `stats.py`.
  *
  * With `--trace 1` the timed passes alternate untraced and traced, in
  * groups of four; the listeners are attached only for traced passes, so
  * the wall-time difference between the two kinds is the tracing overhead.
  *
  * Usage: graftbench.Main --seed N --seconds S --warmup PASSES --trace 0|1 --out DIR
  *   (--corpus DIR --queries q1,q2,... | --pipeline A_DIR,B_DIR)
  */
object Main {

  final case class Args(
      seed: Long,
      seconds: Double,
      warmup: Int,
      trace: Boolean,
      out: String,
      corpus: String,
      queries: Seq[String],
      pipeline: Option[(String, String)])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      // untimed passes before timing starts; the first is the checked one
      warmup = m("warmup").toInt,
      trace = m("trace") == "1",
      out = m("out"),
      corpus = m.getOrElse("corpus", ""),
      queries = m.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      pipeline = m.get("pipeline").map(_.split(",")).map { case Array(a, b) => (a, b) })
  }

  /** A workload item: its name and how to build its DataFrame, given an
    * output directory. `writesOutput` items write their own result there. */
  final case class Item(name: String, build: (SparkSession, String) => DataFrame,
      writesOutput: Boolean = false)

  def items(a: Args): Seq[Item] = a.pipeline match {
    case Some((dataA, dataB)) =>
      // the pipeline writes its own snappy output on every call; the timed
      // calls overwrite one directory, the warm-up call writes the checked one
      Seq(Item("pipeline", (s, outDir) =>
        graft.Pipeline.processParquetFiles(s, dataA, dataB, outDir, topX = 5), writesOutput = true))
    case None =>
      val all = graft.SparkEntry.queries
      a.queries.map { q =>
        val fn = all.getOrElse(q, sys.error(s"unknown query $q"))
        Item(q, (s, _) => fn(s, a.corpus))
      }
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body`; a throw becomes its one-line description. */
  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val clock = new Clock
    val probeBefore = Probe.cpuSeconds()

    val buildStart = clock.nowMs
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local("graftbench", Runtime.getRuntime.availableProcessors())
    val buildS = secsSince(t0)
    val buildEnd = clock.nowMs
    val work = items(a)
    val hygiene = new Hygiene(spark, Paths.get(System.getProperty("java.io.tmpdir")))

    // untimed warm-up: every result is written for the oracle check
    val warm = ArrayBuffer.empty[Map[String, Any]]
    val warmStart = clock.nowMs
    val tw = System.nanoTime()
    for (it <- Order.pass(work, a.seed, 0)) {
      val dest = out.resolve("warm").resolve(it.name).toString
      val err = attempt {
        val df = it.build(spark, dest)
        if (!it.writesOutput) df.coalesce(1).write.mode("overwrite").parquet(dest)
      }
      warm += Map("name" -> it.name, "pass" -> 0, "error" -> err.orNull)
    }
    // further untimed passes, so that timing starts past the steepest
    // part of JIT warming
    for (p <- 1 until a.warmup; it <- Order.pass(work, a.seed, -p)) {
      val err = attempt(it.build(spark, out.resolve("warm-output").toString)
        .write.format("noop").mode("overwrite").save())
      warm += Map("name" -> it.name, "pass" -> p, "error" -> err.orNull)
    }
    // the warm-up's garbage is not billed to the first timed pass
    System.gc()
    val warmupS = secsSince(tw)

    val collector = new Collector(clock)
    val streams = new StreamCollector
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Map[String, Any]]
    val timedStart = System.nanoTime()
    var pass = 0
    // traced runs use the order untraced, traced, traced, untraced, ... so
    // that warming across passes does not bias the overhead estimate
    def traced(p: Int) = a.trace && p % 4 >= 2
    def more: Boolean =
      secsSince(timedStart) < a.seconds || pass == 0 || (a.trace && pass % 4 != 0)
    val pipeOut = out.resolve("timed-output").toString
    while (more) {
      pass += 1
      val isTraced = traced(pass)
      if (isTraced) {
        spark.sparkContext.addSparkListener(collector)
        spark.streams.addListener(streams)
      }
      val before = hygiene.snapshot()
      val jvm0 = Jvm.snapshot()
      val passStart = clock.nowMs
      val tp = System.nanoTime()
      for (it <- Order.pass(work, a.seed, pass)) {
        val qStart = clock.nowMs
        val tq = System.nanoTime()
        var planEnd = Double.NaN
        val err = attempt {
          val df = it.build(spark, pipeOut)
          planEnd = clock.nowMs
          df.write.format("noop").mode("overwrite").save()
        }
        val latency = secsSince(tq)
        val qEnd = clock.nowMs
        // a query whose plan build threw spent all its time building
        if (planEnd.isNaN) planEnd = qEnd
        execs += Map("pass" -> pass, "name" -> it.name, "latency_s" -> latency,
          "plan_build_s" -> (planEnd - qStart) / 1e3, "error" -> err.orNull)
        if (isTraced) {
          val qid = s"p$pass/${it.name}"
          spans += Span(qid, s"p$pass", "query", it.name, qStart, qEnd)
          spans += Span(s"$qid/plan_build", qid, "plan_build", it.name, qStart, planEnd)
          spans += Span(s"$qid/action", qid, "action", it.name, planEnd, qEnd)
        }
      }
      val wall = secsSince(tp)
      val passEnd = clock.nowMs
      val jvm1 = Jvm.snapshot()
      if (isTraced) {
        spans += Span(s"p$pass", "run", "pass", s"pass $pass", passStart, passEnd)
        // listener events are delivered asynchronously: let the pass's
        // last events arrive before detaching (this wait is not timed)
        Thread.sleep(400)
        spark.sparkContext.removeSparkListener(collector)
        spark.streams.removeListener(streams)
      }
      passes += Map("pass" -> pass, "traced" -> isTraced, "wall_s" -> wall,
        "start_ms" -> passStart, "end_ms" -> passEnd,
        "jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) },
        "heap_after_gc_mb" -> Jvm.heapAfterGcMb,
        "codegen_mean_ms" -> Jvm.codegenMeanMs,
        "hygiene_before" -> before, "hygiene_after" -> hygiene.snapshot())
    }
    val timedEnd = clock.nowMs
    val kernels = if (a.trace) Kernels.run(spark) else Map.empty[String, Double]
    if (a.trace) spans ++= Seq(
      Span("run", null, "run", "run", clock.startMs, clock.nowMs),
      Span("setup/build", "run", "setup", "session build", buildStart, buildEnd),
      Span("setup/warmup", "run", "setup", "warm-up", warmStart, warmStart + warmupS * 1e3),
      Span("kernels", "run", "kernels", "plans kernels", timedEnd, clock.nowMs))
    val retained = hygiene.snapshot()
    val probeAfter = Probe.cpuSeconds()

    val raw = Map[String, Any](
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "session_build_s" -> buildS,
      "warmup_s" -> warmupS,
      "warm" -> warm.toSeq,
      "passes" -> passes.toSeq,
      "executions" -> execs.toSeq,
      "retained" -> retained,
      "cpu_probe_s" -> Seq(probeBefore, probeAfter),
      "kernels_ns_row" -> kernels,
      "spans" -> spans.toSeq,
      "jobs" -> collector.jobRecords,
      "stages" -> collector.stageRecords,
      "tasks" -> collector.taskRecords,
      "writes" -> collector.writeRecords,
      "batches" -> streams.records,
      "oracle_sql" -> work.flatMap(it => graft.SparkEntry.oracleSql.get(it.name).map(it.name -> _)).toMap)
    Files.writeString(out.resolve("raw.json"), Json(raw))
    spark.stop()
  }

  private def Span(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double): Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> start, "end_ms" -> end)
}

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * as Spark's listener event times (`System.currentTimeMillis`). */
final class Clock {
  private val baseNs = System.nanoTime()
  val startMs: Double = System.currentTimeMillis().toDouble
  def nowMs: Double = startMs + (System.nanoTime() - baseNs) / 1e6
}

/** Query order of each pass: a seeded shuffle, so the seed fixes it. */
object Order {
  def pass[T](items: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)
}

/** JVM counters read through the platform MXBeans and Spark's public
  * codegen metrics; per-pass deltas are taken by the caller. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def snapshot(): Map[String, Double] = Map(
    "cpu_s" -> os.getProcessCpuTime / 1e9,
    "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3,
    "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "codegen_compiles" -> codegen.getCount.toDouble)

  /** Mean janino compile time of the recent compiles (Spark keeps a
    * sampling histogram, not a sum). */
  def codegenMeanMs: Double = codegen.getSnapshot.getMean

  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Session-hygiene counters: what a long-lived session accumulates. */
final class Hygiene(spark: SparkSession, scratchRoot: Path) {
  private val conf0 = spark.conf.getAll

  def snapshot(): Map[String, Any] = {
    val conf = spark.conf.getAll
    val drift = (conf0.keySet ++ conf.keySet).count(k => conf0.get(k) != conf.get(k))
    Map(
      "tables" -> spark.catalog.listTables().count(),
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "active_streams" -> spark.streams.active.length,
      "conf_drift" -> drift,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "scratch_bytes" -> Hygiene.bytesUnder(scratchRoot))
  }
}

object Hygiene {
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum
      finally s.close()
    }
}

/** Fixed-work single-thread CPU probe (context, not a metric): the same
  * 1e8 mixing rounds every run, so a slow host window shows as a slower
  * probe rather than as a program change. */
object Probe {
  def cpuSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
      i += 1
    }
    if (x == 42L) System.err.println("probe fixpoint")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON encoder for the raw record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
