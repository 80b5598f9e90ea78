package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions

/** Persisted visited-URL index — the crawl loop's seen-filter: each
  * round's candidate frontier (sitemap walks, page links) anti-joins
  * the URLs every previous round already fetched WITHOUT rescanning
  * crawl history. Reference behavior studied from the frontier
  * dedup every production crawler runs (the reference engine has no
  * crawl tier; this is the 100-TB surface on top of it).
  *
  * Versions are [[IndexLog]] commits: version 1 holds the seed
  * round's distinct canonical URLs, each [[addBatch]] appends ONLY
  * the batch's novel URLs as the next version — versions are disjoint by
  * construction, per-batch write ∝ batch's novelty (append-shaped:
  * every version stays live, like [[Bm25Index]]'s postings), and the
  * live set is the plain union of committed versions. Admission is
  * one url-keyed left-anti join — shuffle-partitioned on the key,
  * no window, no all-pairs; at 100 TB the visited table is big but
  * the join stays linear and AQE-splittable.
  *
  * Re-crawl admission is tombstone-shaped ([[IndexMaintenance.forget]]'s
  * idiom, applied twice): [[forgetUrls]] commits exact URL tombstones,
  * [[forgetHosts]] host tombstones (purge a whole site for refetch),
  * each an entry that keeps the version, and [[visited]] subtracts
  * both. Same caveat as the wing tables: while a tombstone is live, a
  * re-ADDED url stays hidden from [[visited]] — re-crawl flows should
  * admit → fetch → [[compact]] (which materializes the subtracted set
  * into a fresh index, freeing the tombstones) before re-indexing the
  * url.
  *
  * URLs should arrive CANONICALIZED ([[graft.functions.UrlFunctions
  * .normalize]]) — the index stores byte-exact keys and does not
  * re-normalize.
  */
object FrontierIndex {

  def latestVersion(path: String): Option[Int] = IndexLog.read(path).latestVersion

  private def urlsOf(df: DataFrame, urlCol: String): DataFrame =
    df.select(col(urlCol).as("url")).filter(col("url").isNotNull).distinct()

  /** Commit `urls(log)` as the next version (`seed`: version 1). */
  private def commitUrls(path: String, seed: Boolean)(
      urls: IndexLog.Log => DataFrame): Int =
    IndexLog.commit(path) { log =>
      require(!seed || log.entries.isEmpty,
        s"a FrontierIndex already exists at $path")
      val dir = log.newDir("urls")
      urls(log).write.parquet(dir)
      log.propose(log.nextVersion, "urls", Map("urls" -> dir))
    }.version

  /** Seed the index (v=1) with the first round's URLs. Returns the
    * committed version.
    */
  def build(urls: DataFrame, path: String, urlCol: String): Int =
    commitUrls(path, seed = true)(_ => urlsOf(urls, urlCol))

  /** Append `urls`' NOVEL members (not in [[visited]] as of the version
    * it commits on) as the next version. Returns the committed version.
    */
  def addBatch(spark: SparkSession, path: String, urls: DataFrame,
      urlCol: String): Int =
    commitUrls(path, seed = false)(log => urlsOf(urls, urlCol)
      .join(visitedOf(spark, log), Seq("url"), "left_anti"))

  /** The live visited set `(url)`: every committed version minus URL
    * and host tombstones.
    */
  def visited(spark: SparkSession, path: String): DataFrame =
    visitedOf(spark, IndexLog.read(path))

  private def visitedOf(spark: SparkSession, log: IndexLog.Log): DataFrame = {
    if (log.live("urls").isEmpty)
      return spark.emptyDataset(org.apache.spark.sql.Encoders.STRING).toDF("url")
    val all = IndexMaintenance.scan(spark, log, "urls")
    val minusUrls = IndexMaintenance.tombstones(spark, log)
      .map(d => all.join(broadcast(d.select(col("url"))), Seq("url"),
        "left_anti"))
      .getOrElse(all)
    IndexMaintenance.tombstones(spark, log, HostDels)
      .map(h => minusUrls.join(
        broadcast(h.select(col("host").as("__del_host"))),
        UrlFunctions.host(col("url")) === col("__del_host"), "left_anti"))
      .getOrElse(minusUrls)
  }

  /** Frontier admission: `candidates` rows whose `urlCol` is NOT in
    * [[visited]] — the rows a crawler actually fetches this round.
    * Candidate-internal duplicates are kept (the caller's rows are
    * the unit); one left-anti equi-join, linear in candidates.
    *
    * NULL-url candidates are EXCLUDED: they are unfetchable, the
    * index can never hold them ([[build]]/[[addBatch]] drop nulls),
    * and an anti-join would otherwise re-admit them every round
    * forever — an unkillable dispatch loop with no quarantine signal.
    * Callers wanting to count them filter `urlCol IS NULL` upstream.
    */
  def admit(spark: SparkSession, path: String, candidates: DataFrame,
      urlCol: String): DataFrame = {
    // rename the visited side: callers routinely name their column
    // `url` too, and a same-name join condition is ambiguous
    val seen = visited(spark, path).select(col("url").as("__seen_url"))
    candidates.filter(candidates(urlCol).isNotNull)
      .join(seen, candidates(urlCol) === col("__seen_url"), "left_anti")
  }

  private val HostDels = "_host_dels"

  /** Tombstone exact URLs for re-crawl (duplicates absorbed by the
    * anti-join).
    */
  def forgetUrls(urls: DataFrame, path: String, urlCol: String): Unit =
    IndexMaintenance.tombstone(path, IndexMaintenance.Dels,
      urls.select(col(urlCol).as("url")))

  /** Tombstone whole hosts (every indexed URL of the host drops from
    * [[visited]] — the purge-a-site re-crawl).
    */
  def forgetHosts(hosts: DataFrame, path: String, hostCol: String): Unit =
    IndexMaintenance.tombstone(path, HostDels, hosts.select(col(hostCol).as("host")))

  /** Fold the whole index (tombstones applied) into a one-version
    * successor index at `outPath` with `targetFiles` files — the
    * small-files + dead-tombstone reclaim after streamed ingest. The
    * predecessor is never touched; callers switch to `outPath`.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): Unit =
    commitUrls(outPath, seed = true)(_ =>
      visited(spark, inPath).repartition(targetFiles))
}
