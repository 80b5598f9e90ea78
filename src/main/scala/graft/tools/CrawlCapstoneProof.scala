package graft.tools

import org.apache.spark.sql.functions._

import graft.llm.{NGramJaccard, TextPipeline, TokenBudget}
import graft.operators.Dedup

/** Decade-scale wall-clock for the q251 crawl→training-set capstone,
  * split at the pipeline's real job boundary:
  *
  *   - INGEST tier: stage documents as HTML-in-HTTP-in-WARC gzip
  *     members, pack bounded `.warc.gz` shards, then run gunzip_all →
  *     warc_records → http_parts → decode_charset → main-content
  *     extraction and LAND the corpus as parquet. Embarrassingly
  *     parallel per row; the only exchange is the bounded shard
  *     packing. Expected to scale ~linearly in docs.
  *   - CURATION tier: q48 quality gate → exact content dedup →
  *     exact-Jaccard near-dup families → token-budget strict prefix.
  *     The candidate join is shingle-bucketed (never all-pairs), so
  *     pair count stays ∝ corpus on ScaleProof's mutated replicas —
  *     this leg is the one that would expose quadratic wrongness.
  *
  * Legs default to 1×/10×/100× the sf0.1 corpus (5k → 50k → 500k
  * docs). Shard count scales with the corpus (8·copies buckets) so
  * per-shard size stays bounded at ANY scale — the property a real
  * crawl layout has for free from its file count.
  *
  * Usage: `runMain graft.tools.CrawlCapstoneProof [sf0.1Dir] [workDir]
  * [legs=1,10,100]`
  */
object CrawlCapstoneProof {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse(
      graft.queries.Scratch.dir("graft-capstoneproof"))
    val legs = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 100))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local("graft-capstoneproof", cores)

    legs.foreach { copies =>
      val dir =
        if (copies == 1) sfDir
        else {
          val o = s"$work/x$copies"
          ScaleProof.synthesize(spark, sfDir, o, copies)
          o
        }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val nDocs = docs.count()

      // ---- INGEST: crawl bytes -> landed extracted corpus ----
      val html = concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit(" - "), col("source"),
        lit("</title><style>.n{c:red}</style><script>var l=\""),
        col("lang"),
        lit("\";</script></head><body><div><a href=\"/\">home</a> "),
        expr("repeat('<a href=\"/t\">tag</a> ', CAST(doc_id % 4 AS INT))"),
        lit("</div><p>"), col("text"),
        lit("</p><div><a href=\"/tos\">terms &amp; conditions</a>" +
          " &copy; corp</div></body></html>"))
      val httpMsg = concat(
        lit("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\nContent-Length: "),
        octet_length(col("html")), lit("\r\n\r\n"), col("html"))
      val r1 = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:doc-"),
        col("doc_id"), lit(">\r\nWARC-Target-URI: https://crawl.test/"),
        col("source"), lit("/"), col("doc_id"),
        lit("\r\nContent-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "),
        octet_length(col("http_msg")), lit("\r\n\r\n"), col("http_msg"),
        lit("\r\n\r\n"))
      val corpusPath = s"$work/corpus-x$copies"
      val t0 = System.nanoTime()
      docs.select(col("doc_id"), col("source"), col("lang"), col("text"))
        .withColumn("html", html)
        .withColumn("http_msg", httpMsg)
        .withColumn("r1", r1)
        .withColumn("gzh", expr("hex(gzip_bytes(encode(r1, 'utf-8')))"))
        .groupBy(pmod(col("doc_id"), lit(8 * copies)).as("bucket"))
        .agg(expr("unhex(concat_ws('', sort_array(collect_list(gzh))))")
          .as("media"))
        .select(expr("inline(warc_records(gunzip_all(media)))"))
        .withColumn("h", expr("http_parts(content)"))
        .select(
          expr("CAST(regexp_extract(record_id, 'doc-(\\\\d+)', 1) " +
            "AS BIGINT)").as("doc_id"),
          graft.functions.HtmlFunctions.mainBlock(expr(
            "decode_charset(h.body, element_at(h.headers, " +
              "'content-type')).text")).as("text"))
        .write.mode("overwrite").parquet(corpusPath)
      val tIngest = (System.nanoTime() - t0) / 1e9

      // ---- CURATION: gate -> dedup families -> token budget ----
      val corpus = spark.read.parquet(corpusPath)
      val t1 = System.nanoTime()
      val gated = TextPipeline.qualityFilter(corpus, "text")
      val exact = Dedup.exactByContent(gated, "doc_id", Seq("text"))
      val pairs = NGramJaccard
        .similarPairs(exact, "doc_id", "text", n = 3, threshold = 0.5)
        .select("id_a", "id_b")
      val surv = Dedup.byNearDupPairs(exact, "doc_id", pairs)
      val sel = TokenBudget.fill(surv, "doc_id",
        col("n_tokens"), col("alpha_ratio"), budget = 60000L * copies)
      val agg = sel.agg(count(lit(1)), sum("n_tokens")).collect().head
      val tCur = (System.nanoTime() - t1) / 1e9
      println(f"[capstone] copies=$copies%3d docs=$nDocs%7d " +
        f"ingest=$tIngest%7.2fs curation=$tCur%7.2fs " +
        f"selected=${agg.getLong(0)}%7d tokens=${agg.getLong(1)}%9d")
    }
    spark.stop()
  }
}
