package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended defaults — the one place
  * graft builds a `SparkSession` (`lintCheck` rejects any other builder).
  *
  * Local mode is for dev/test only; on a real cluster the same settings
  * arrive via spark-submit conf. AQE stays on everywhere: it gives runtime
  * join re-selection, skew-join splitting and partition coalescing, which
  * is our first line of defense at 100 TB (SURVEY.md §4).
  *
  * Artifact isolation is off. With Spark's default (on), every cloned
  * session — each streaming run clones one — gets its own executor
  * classloader, and the codegen cache, keyed by (classloader, code), then
  * misses and recompiles every generated class on every run, while the old
  * loaders and their classes stay reachable from the cache. graft never
  * adds a jar or artifact to a session, so one shared loader loses nothing.
  * A Spark Connect deployment, whose clients do add per-session artifacts,
  * builds its session from spark-submit conf rather than through `local`
  * (whose builder setting would win) and re-enables isolation there:
  * `--conf spark.sql.artifact.isolation.enabled=true`.
  *
  * The `file:` scheme is graft's [[LocalFs]] for both the `FileSystem`
  * and the `FileContext` API. Without libhadoop, Hadoop's stock local
  * filesystem starts a `chmod` for every file and directory it creates
  * and a `readlink` on every FileContext rename; on the streaming and
  * index-tier queries those forks were a large share of a pass. Caveat:
  * Hadoop caches one `FileSystem` per scheme and user for the whole JVM,
  * so a `file:` filesystem obtained from a plain `Configuration` before
  * the first session is built stays the stock class for the JVM's life.
  *
  * The root Hadoop conf (`sparkContext.hadoopConfiguration`, which every
  * `newHadoopConf()` of every session, clone and stream copies) keeps no
  * per-key source records ([[HadoopConf.dropSources]]). Hadoop serializes
  * each key's record through its own gzip stream and inflates it again on
  * read, and the conf ships in every file write's task binary and every
  * parquet scan's broadcast: one gzip stream per key (over a thousand) per
  * serialization. Keys and values stay as they are; only the diagnostic
  * `getPropertySources` answers null.
  */
object GraftSession {
  /** `conf` entries are applied after (and so override) the defaults; each
    * entry point passes only what it needs beyond them.
    */
  def local(appName: String = "graft", cores: Int = defaultCores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the corpus events table is parquet TIMESTAMP(NANOS), which Spark
      // otherwise refuses to read (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // iterative-plan pipelines (connected-components loops) generate
      // >100 distinct codegen classes; the default 100-entry class cache
      // thrashes and re-pays janino compiles on every execution (static
      // conf: applies to the first session built in the JVM)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // one executor classloader for every (cloned) session: see above
      .config("spark.sql.artifact.isolation.enabled", "false")
      // fork-free `file:` filesystem: see above
      .config(LocalFs.settings)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native SQL functions + the null-guard pruning optimizer rule --
    // idempotent, so repeated getOrCreate callers are safe
    graft.plans.GraftExtensions.register(spark)
    // no per-key source records in any copy of the root conf (see above);
    // after the shared state, which sets the warehouse key on the root conf
    HadoopConf.dropSources(spark.sparkContext.hadoopConfiguration)
    spark
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(c => scala.util.Try(c.toInt).toOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())
}
