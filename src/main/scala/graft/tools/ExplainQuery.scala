package graft.tools

/** Write `explain("formatted")` for the named queries to
  * `<outDir>/<query>_<suffix>.txt` — the plan-evidence artifact the
  * optimization rounds commit under plans/rNN/.
  *
  * Usage: SPARK_GRAFT_ONLY=q93_pagerank tools/explain.sh OUTDIR SUFFIX
  *
  * Note: building a lifecycle query's DataFrame executes its eager tier
  * (index builds, folds) — the capture reflects the plan of the RETURNED
  * frame, the same frame Bench times through the noop sink.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("set SPARK_GRAFT_ONLY=<query,...>"))
    val spark = graft.GraftSession.local("graft-explain", cores, conf = graft.Bench.sessionConf)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${name}_$suffix.txt " +
        s"(${plan.count(_ == '\n')} lines)")
    }
    spark.stop()
  }
}
