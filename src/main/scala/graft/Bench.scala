package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry: times every SparkEntry query at the given scale factor
  * and prints one JSON line for the driver.
  *
  * Each query is executed through the `noop` sink, which runs the FULL
  * physical plan (all projected columns materialized, sorts retained) —
  * unlike `count()`, under which Catalyst prunes every column and
  * `EliminateSorts` drops ORDER BYs, timing only a skeleton.
  *
  * Each query runs SPARK_GRAFT_BENCH_PASSES times (default 2) and reports
  * the per-query MINIMUM — steady-state plan time. Pass 1 absorbs the
  * one-time costs a fresh JVM bills to whichever query hits them first
  * (janino codegen compiles, C2 JIT of the generated classes, first-touch
  * page faults); diagnostics for every pass go to stderr so the overhead
  * remains visible (`[bench] <query> <wall>s gc=… jit=… janino=… drain=…
  * cc=…`). Before every timed pass the harness additionally waits for
  * the JIT backlog to drain ([[quiesceJit]]) so a suite entry measures
  * its own plan, not the compiler debt of the 150 queries before it.
  *
  * == Output contract ==
  * The result-harness side captures a bounded tail of stdout, and the
  * full per-query JSON line can exceed it (a 102-query line is ~3 KB; a
  * truncated line parses as nothing). Bench therefore prints the
  * full line first and a short summary line (no `queries` map) LAST —
  * the summary always fits in any tail window, so the run's total stays
  * machine-readable even when the long line gets clipped.
  */
object Bench {

  // The machine-parsed JSON numbers must format with a '.' decimal
  // separator regardless of default locale — Scala's f interpolator is
  // locale-sensitive, and under a comma-decimal locale the JSON line
  // would be unparseable.
  private def num(d: Double, prec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  private def jitMillis: Long = java.lang.management.ManagementFactory
    .getCompilationMXBean.getTotalCompilationTime
  // janino (Catalyst codegen) compiles run on task/driver threads and
  // are invisible to the JIT MXBean; count them separately
  private def janinoCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def codeCacheUsedMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum >> 20
  }

  /** Wait for the JIT to go quiet before starting a timed pass.
    *
    * C2 compiles the previous queries' generated classes on background
    * threads that compete with executor tasks for the same cores, so in
    * a 150-query suite a late entry's wall time includes the compiler
    * backlog of everything before it — measured 3-7x inflation on
    * trailing scan-project-sort queries whose isolated minima are under
    * 1.5 s. Draining the backlog between passes bills that overhead to
    * nobody (stderr diagnostics only), making suite entries comparable
    * to isolated (`SPARK_GRAFT_ONLY`) runs. Returns ms waited; proceeds
    * after two consecutive quiet 150 ms windows (<15 ms compiler time
    * each) or `maxWaitMs`, whichever comes first.
    */
  private def quiesceJit(maxWaitMs: Long = 15000): Long = {
    val t0 = System.nanoTime()
    var last = jitMillis
    var quiet = 0
    while (quiet < 2 && (System.nanoTime() - t0) / 1000000 < maxWaitMs) {
      Thread.sleep(150)
      val cur = jitMillis
      if (cur - last < 15) quiet += 1 else quiet = 0
      last = cur
    }
    (System.nanoTime() - t0) / 1000000
  }

  /** Fixed-work single-thread CPU calibration probe: 4e8 fmix64-style
    * rounds of pure ALU work, no allocation, no syscalls. The host can
    * silently degrade ~2.5x on pure-CPU work mid-session (observed
    * round 10: a firecracker-level slowdown with 0% visible steal), which
    * poisons cross-round pin comparisons; this number, emitted next to
    * the totals, is the divisor that makes them comparable. Healthy-host
    * reference value is recorded in BASELINE.md next to the pins.
    */
  private def spin(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
      i += 1
    }
    x
  }

  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    // data-dependent side effect so the JIT cannot elide the loop
    if (spin(400000000) == 42L) System.err.println("calibration fixpoint")
    (System.nanoTime() - t0) / 1e9
  }

  /** The multi-core leg: the same fixed work on EVERY core at once
    * (`threads` × 1e8 rounds — the caller passes the suite's resolved
    * SPARK_GRAFT_CPUS so the probe measures the contention class the
    * queries actually experience; a fixed 32 under a different cpus
    * setting would skew the ST/MT ratio BASELINE normalizes by). The
    * single-thread probe misses contention-class degradation — a host
    * can lose parallel throughput (fewer effective cores, co-tenant
    * load) while one thread still runs at full speed. Both numbers
    * together classify a slow round: MT up with ST flat = contention;
    * both up = core-speed degradation.
    */
  private def calibrateMt(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      new Thread(() => { if (spin(100000000) == i.toLong) println(i) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The bench session's overrides of [[GraftSession.local]]'s defaults;
    * ProfileQuery and ExplainQuery build the same session.
    */
  private[graft] val sessionConf: Map[String, String] = Map(
    // CC-loop pipelines compile >100 distinct codegen classes and the
    // round-robin pass order needs the WHOLE suite's classes resident
    // for pass 2 to stay warm; the default 100-entry cache thrashes
    "spark.sql.codegen.cache.maxEntries" -> "8000",
    // a long GC pause must not escalate into executor-heartbeat RPC
    // timeouts mid-query (observed once in a driver-side run)
    "spark.network.timeout" -> "300s")

  private def newSession(cores: Int): SparkSession =
    GraftSession.local("graft-bench", cores, sessionConf)

  /** Times `names` in this JVM; returns (name, min-of-passes | -1 on failure).
    *
    * Passes run ROUND-ROBIN (every query's pass 1, then every query's
    * pass 2), not back-to-back: this host's dominant noise source is
    * multi-second CPU-steal bursts (a query measured 0.5 s isolated has
    * read 4.4 s in a suite run, a different query each run), and
    * consecutive passes sit inside the same burst — min-of-passes only
    * defends against noise when the passes are separated in time. The
    * codegen cache (sized above the suite's class count) keeps pass 2
    * warm across the round trip.
    */
  private def timeQueries(spark: SparkSession, sfDir: String, passes: Int,
      names: Seq[String]): Seq[(String, Double)] = {
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    for (pass <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries(name)
      // long-lived bench JVM: reclaim the previous query's broadcast/
      // shuffle garbage so its GC debt isn't billed to this query, and
      // drain the C2 backlog so its compile debt isn't either
      System.gc()
      val waited = quiesceJit()
      val (gc0, jit0, jan0) = (gcMillis, jitMillis, janinoCount)
      val t0 = System.nanoTime()
      // fn(...) must stay INSIDE the timer: the eager tier (k-means
      // codebook training, PQ codebooks, CC fixpoint convergence
      // checks) runs Spark jobs at plan-build time, and hoisting the
      // build out of the loop would silently exclude those queries'
      // dominant cost from every pass
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[bench] $name pass$pass $sec%.2fs gc=${(gcMillis - gc0) / 1e3}%.2fs " +
          f"jit=${(jitMillis - jit0) / 1e3}%.2fs janino=${janinoCount - jan0} " +
          f"drain=${waited / 1e3}%.1fs cc=${codeCacheUsedMb}m")
      times(name) = (if (ok) sec else -1.0) :: times.getOrElse(name, Nil)
    }
    // failures record -1, not a plausible-looking fast timing
    names.map { n =>
      val ts = times(n)
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    // SPARK_GRAFT_ONLY=q20_dedup_content,q23_... restricts the run to a
    // comma-separated subset — for isolating one query's timing without
    // the full-suite wall clock
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // calibration brackets the suite: a degraded window shows up as a
    // high min; a degradation that STARTED mid-run shows up as pre/post
    // divergence
    val calPre = calibrate()

    val spark = newSession(cores)
    val results = timeQueries(spark, sfDir, passes, names)
    spark.stop()

    val calPost = calibrate()
    val calMt = calibrateMt(cores)
    val cal = math.min(calPre, calPost)
    val calStr = s""""calibration":${num(cal, 3)},"calibration_pre":${
      num(calPre, 3)},"calibration_post":${num(calPost, 3)},"calibration_mt":${
      num(calMt, 3)}"""

    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    // failed queries report -1 in `queries` but are EXCLUDED from the
    // total (summing the sentinel would make a failing run look faster);
    // `failures` makes cross-round total comparisons honest
    val failures = results.count(_._2 < 0)
    val total = results.filter(_._2 >= 0).map(_._2).sum
    System.err.flush()
    val totalStr = num(total, 3)
    // the COMPLETE per-query artifact: the driver's stdout capture
    // truncates the long `queries` line (BENCH_r10 lost q100-q243), so
    // Bench writes its own file with every timing + the calibration —
    // regressions anywhere in the suite stay visible without BASELINE
    // archaeology
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (s"""{"metric":"total","value":$totalStr,"unit":"sec","failures":$failures,""" +
        s""""passes":$passes,$calStr,"queries":$qs,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] bench_full.json write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","failures":$failures,"passes":$passes,$calStr,"queries":$qs,"sf":"$sfDir"}""")
    // short summary LAST: always inside any bounded stdout-tail capture
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","failures":$failures,"passes":$passes,$calStr,"sf":"$sfDir"}""")
  }
}
