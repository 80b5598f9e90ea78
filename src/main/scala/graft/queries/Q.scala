package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark plan plus (when expressible) the
  * equivalent ANSI SQL a DuckDB oracle runs over the same parquet tables.
  *
  * Oracle-parity rules used throughout this package (hash-match safe):
  *  - every computed column aliased identically on both sides;
  *  - a total ORDER BY on both sides (no nullable sort keys — Spark and
  *    DuckDB default null ordering differs);
  *  - no raw double aggregation: sums go through DECIMAL(18,s) casts
  *    (exact, order-independent, and round-to-nearest agrees across
  *    engines because binary doubles are never exact decimal midpoints
  *    for scale >= 1), then back to double;
  *  - computed integers cast to LONG on the Spark side (DuckDB counts and
  *    row_numbers are BIGINT).
  */
case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Scratch roots for queries that must materialize intermediate tables
  * (persisted indexes, lakehouse state, stream checkpoints): created
  * under java.io.tmpdir and deleted RECURSIVELY by one JVM shutdown
  * hook, so repeated suite/bench runs don't accumulate corpus copies in
  * /tmp. Exit-time (not eager) deletion is the correct point: every
  * query's result is materialized before the JVM exits, while the
  * DataFrame it returns may lazily re-read the scratch files until then.
  */
object Scratch {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(d => delete(d))))
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    hook
    dirs.add(p.toFile)
    p.toString
  }
  /** A scratch dir for one bounded use: deleted in-process once `use`
    * returns, for callers whose result no longer reads it.
    */
  def using[A](prefix: String)(use: String => A): A = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try use(p.toString) finally delete(p.toFile)
  }
  private def delete(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete()
    ()
  }
}
