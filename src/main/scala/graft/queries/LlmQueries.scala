package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}
import graft.llm.{EmbeddingKnn, JaccardVerify, MinHashDedup, NGramJaccard, ProductQuantization, SimHashDedup, SpanDedup}
import graft.operators.{Dedup, Stats, TopK}
import graft.operators.Iterate.MaterializeOps
import graft.streaming.StreamOps

/** Training-data-pipeline operator corpus over the `documents`,
  * `embeddings` and `events` tables: dedup, text analysis, similarity
  * search, time windows, JSON extraction.
  *
  * Oracle-parity rules are the same as [[Q]]'s. Queries whose operators
  * hinge on seeded hashing (minhash/simhash/hyperplane LSH) have no
  * SQL-expressible oracle — the driver records a rows-only check and their
  * semantics are pinned by unit tests on fixed fixtures instead.
  */
object LlmQueries {

  /** The documents table arrives as one small parquet file → one input
    * partition, which serializes the CPU-heavy text expressions (shingling,
    * marker counting) onto a single core. Spreading it across the cluster
    * costs one tiny shuffle and is what a 100 TB corpus gets for free from
    * its file count.
    */
  // NOTE (round 13): the corpus reads deliberately do NOT repartition.
  // The old `.repartition(defaultParallelism)` here was a REPARTITION_BY_NUM
  // shuffle AQE can never coalesce, so EVERY consumer subtree started with a
  // core-count-wide stage of near-empty tasks — at sf0.1 each task pays
  // ~0.3 s of fixed cost (task-binary Hadoop-conf inflation, shuffle-file
  // lifecycle, codegen lock convoys; thread dumps in OPTIMIZATION_r13.md),
  // multiplying the whole LLM tier's per-query floor by the core count. At
  // 100 TB it is strictly worse: a full corpus shuffle per read for nothing
  // (scan parallelism comes from the file split there). The few genuinely
  // compute-bound kernels that need fan-out beyond data size spread their
  // own inputs (see `spread`).
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Targeted fan-out for compute-bound kernels (quadratic verify joins,
    * brute-force scoring) whose per-byte cost dwarfs scan granularity: a
    * size-agnostic REBALANCE AQE may coalesce or split by its advisory
    * size, rather than a hard REPARTITION_BY_NUM it must preserve.
    */
  private def spread(df: org.apache.spark.sql.DataFrame) = df.hint("rebalance")

  /** Corpus FINGERPRINTS whose q158 ampersand-free precondition has
    * already been verified in this JVM (one scan per corpus state, not
    * per bench pass). Keyed on the documents table's file listing
    * (name + length + mtime), not the bare dir path: a corpus
    * regenerated in-place under the same path within one session
    * changes its data files' identity, so the gate re-checks — the
    * exact staging-error scenario it exists to catch.
    */
  private val ampFreeChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cheap content-identity fingerprint of `d`'s documents table.
    * Covers both local layouts: a parquet DIRECTORY (file listing) and
    * a single parquet FILE (its own length+mtime — listFiles is null
    * there, and a constant fallback would silently disable the
    * regeneration check this fingerprint exists for). A non-local
    * filesystem path degrades to the bare path, i.e. the pre-round-12
    * once-per-dir behavior.
    */
  private def docsFingerprint(d: String): String = {
    val root = new java.io.File(d, "documents.parquet")
    val files = Option(root.listFiles())
      .getOrElse(if (root.isFile) Array(root) else Array.empty[java.io.File])
    files.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(d + "|", ";", "")
  }

  /** Same single-file-fan-out treatment for the embeddings table (the
    * O(n²) similarity joins below parallelize over the left side's
    * partitions).
    */
  private def emb(s: SparkSession, d: String) =
    Tables.embeddings(s, d) // no blanket repartition — see docs()

  /** DuckDB SQL fragment mirroring `TextFunctions.normalized`. */
  private[queries] val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** The deterministic line structure q160/q166 wrap each doc in
    * (per-source header, global nav, 8-word content chunks, per-source
    * footer) — the fixture that makes boilerplate-line removal
    * observable on the single-line corpus. Requires `text` + `source`.
    */
  private def docLines: org.apache.spark.sql.Column = {
    val chunks = expr(
      "transform(sequence(0, (size(split(text, ' ')) + 7) div 8 - 1)," +
        " i -> array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' '))")
    concat(
      array(
        concat(lit("== "), col("source"), lit(" portal ==")),
        lit("home | about | contact")),
      chunks,
      array(concat(lit("(c) "), col("source"), lit(" media group"))))
  }

  /** Replays `shards`, one row per `bucket`, as one micro-batch per
    * shard in bucket order.
    */
  private def replayShards(s: SparkSession, shards: DataFrame,
      dir: String): DataFrame =
    StreamOps.replayFiles(dir, shards.collect().toSeq
      .sortBy(_.getAs[Long]("bucket"))
      .map(row => s.createDataFrame(java.util.Arrays.asList(row), shards.schema)))

  /** Mixed-charset crawl shards for the q251/q252 capstones: each
    * document staged as an HTML page inside a full HTTP response
    * inside a gzipped WARC record, with the page charset CYCLING
    * doc_id % 5 over utf-8 / windows-1252 / Shift_JIS / gb2312 /
    * koi8-r — the ingest tier exercises real multi-byte label
    * resolution and decode on 4/5 of the records, the realism a
    * 2026 crawl actually has — AND the body's Content-Encoding
    * cycling doc_id % 3 over identity / gzip / headerless-raw
    * deflate (http_parts undoes the representation layer before the
    * charset resolves). The native-script bytes live in the
    * <title> and are hex-staged (a String cannot hold raw SJIS/1252
    * bytes); everything else is printable ASCII, which every charset
    * in the cycle decodes identically (all are ASCII-transparent over
    * 0x20-0x7E, and the corpus is pure printable ASCII — q158's
    * precondition gate asserts the stronger no-'&' property), so
    * main-content extraction still recovers `text` byte-exactly and
    * the curation-tier oracle is unchanged. Returns (bucket, media):
    * `buckets` bounded .warc.gz shards.
    */
  private def crawlCapstoneShards(s: SparkSession, d: String,
      buckets: Int): DataFrame = {
    val htmlHeadHex = hex(concat(
      lit("<html><head><title>doc "), col("doc_id"),
      lit(" - "), col("source"), lit(" ")))
    val htmlTailHex = hex(concat(
      lit("</title><style>.n{c:red}</style><script>var l=\""),
      col("lang"),
      lit("\";</script></head><body><div><a href=\"/\">home</a> "),
      expr("repeat('<a href=\"/t\">tag</a> ', CAST(doc_id % 4 AS INT))"),
      lit("</div><p>"), col("text"),
      lit("</p><div><a href=\"/tos\">terms &amp; conditions</a>" +
        " &copy; corp</div></body></html>")))
    // title suffix bytes + matching Content-Type label per class
    val titleHex = expr("CASE CAST(doc_id % 5 AS INT) " +
      "WHEN 0 THEN 'E697A5E69CAC' " + // 日本 as UTF-8
      "WHEN 1 THEN '93E994' " + //       “é” as windows-1252
      "WHEN 2 THEN '93FA967B' " + //     日本 as Shift_JIS (windows-31j)
      "WHEN 3 THEN 'D6D0CEC4' " + //     中文 as gb2312 (gb18030 decoder)
      "ELSE 'C4C1' END") //              да as koi8-r
    val labelCol = expr("CASE CAST(doc_id % 5 AS INT) " +
      "WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252' " +
      "WHEN 2 THEN 'Shift_JIS' WHEN 3 THEN 'gb2312' ELSE 'koi8-r' END")
    // representation layer: the page bytes additionally cycle
    // doc_id % 3 over identity / gzip / headerless-raw deflate — the
    // Content-Encoding mix a real capture holds; http_parts undoes it
    // before charset decode, so extraction still recovers `text`
    // byte-exactly and the curation-tier oracle is unchanged
    val bodyHex = expr("CASE CAST(doc_id % 3 AS INT) " +
      "WHEN 1 THEN gz_hex " +
      "WHEN 2 THEN substring(gz_hex, 21, length(gz_hex) - 36) " +
      "ELSE html_hex END")
    val ceLine = expr("CASE CAST(doc_id % 3 AS INT) " +
      "WHEN 1 THEN concat('Content-Encoding: gzip', cr) " +
      "WHEN 2 THEN concat('Content-Encoding: deflate', cr) " +
      "ELSE '' END")
    val httpHex = concat(
      hex(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        col("charset_label"), lit("\r\n"), col("ce_line"),
        lit("Content-Length: "),
        (length(col("body_hex")) / 2).cast("long"), lit("\r\n\r\n"))),
      col("body_hex"))
    val r1Hex = concat(
      hex(concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: " +
          "<urn:uuid:doc-"),
        col("doc_id"), lit(">\r\nWARC-Target-URI: https://crawl.test/"),
        col("source"), lit("/"), col("doc_id"),
        lit("\r\nContent-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "),
        (length(col("http_hex")) / 2).cast("long"), lit("\r\n\r\n"))),
      col("http_hex"), hex(lit("\r\n\r\n")))
    docs(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .withColumn("cr", lit("\r\n"))
      .withColumn("charset_label", labelCol)
      .withColumn("html_hex", concat(htmlHeadHex, titleHex, htmlTailHex))
      .withColumn("gz_hex", expr("hex(gzip_bytes(unhex(html_hex)))"))
      .withColumn("body_hex", bodyHex)
      .withColumn("ce_line", ceLine)
      .withColumn("http_hex", httpHex)
      .withColumn("r1_hex", r1Hex)
      .withColumn("gzh", expr("hex(gzip_bytes(unhex(r1_hex)))"))
      .groupBy(pmod(col("doc_id"), lit(buckets)).as("bucket"))
      .agg(expr("unhex(concat_ws('', sort_array(collect_list(gzh))))")
        .as("media"))
  }

  /** DuckDB CTEs rebuilding the PORTABLE Rademacher hyperplane dots of
    * [[EmbeddingKnn.rademacherPlanes]] (MurmurHash3 fmix32 of
    * `p*64 + j + 42`, top bit → sign): one `dots` row per (vec_id,
    * plane p) with the signed-sum dot. Plane entries are ±1, so each
    * product only flips the float32 input's sign bit and the 64-term
    * double sum is exact — bucket bits agree across engines
    * bit-for-bit, which is what makes the WHOLE approximate LSH
    * pipeline (not just its exact rerank) oracle-checkable. The sum
    * stays a list_sum over the j-ordered list (not a GROUP BY SUM), so
    * summation order is pinned too.
    */
  private def radDotsSql(nPlanes: Int): String =
    s"""prows AS (SELECT p, j,
       |    CASE WHEN xor(h2, h2 // 65536) < 2147483648
       |         THEN 1.0 ELSE -1.0 END AS s
       |  FROM (SELECT p, j,
       |      CAST(CAST(xor(h1, h1 // 8192) AS HUGEINT) * 3266489909
       |           % 4294967296 AS BIGINT) AS h2
       |    FROM (SELECT p, j,
       |        CAST(CAST(xor(k, k // 65536) AS HUGEINT) * 2246822507
       |             % 4294967296 AS BIGINT) AS h1
       |      FROM (SELECT r.p AS p, u.j AS j, r.p * 64 + u.j + 42 AS k
       |            FROM range(0, $nPlanes) r(p), range(0, 64) u(j)) t0
       |    ) t1) t2),
       |planes AS (SELECT p, list(s ORDER BY j) AS sv FROM prows GROUP BY p),
       |dots AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(0, 64), j ->
       |      CAST(embedding[j+1] AS DOUBLE) * sv[j+1])) AS dot
       |  FROM embeddings, planes)""".stripMargin

  /** Exact word-3-gram Jaccard pair set at threshold 0.5 — the ground
    * truth for BOTH q23 (exact inverted-index join) and q27 (MinHash
    * candidates + exact verification): each outputs precisely
    * `{(a,b,jaccard) : jaccard >= 0.5}`, so they share this oracle.
    */
  /** Just the normalized word-3-shingle set CTEs (nrm/tok/sets) — the
    * shared prefix of the Jaccard pair chain, also used standalone by
    * the decontamination oracle (q196).
    */
  private[queries] def shingleSetsCtesN(source: String, n: Int): String = {
    val gram = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""nrm AS (SELECT doc_id, $normSql AS nm FROM $source),
       |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
       |sets AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(t) < $n THEN [nm]
       |         ELSE list_transform(range(1, len(t) - ${n - 2}),
       |                i -> $gram) END) AS sh
       |  FROM tok)""".stripMargin
  }

  private[queries] def shingleSetsCtes(source: String): String =
    shingleSetsCtesN(source, 3)

  private[queries] def jaccardPairsCtesFrom(source: String): String =
    s"""${shingleSetsCtes(source)},
       |post AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id),
       |sc AS (SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = id_a
       |            JOIN sets sb ON sb.doc_id = id_b)""".stripMargin

  private val jaccardPairsCtes: String = jaccardPairsCtesFrom("documents")

  private val jaccardPairsSql: String =
    s"""WITH $jaccardPairsCtes
       |SELECT id_a, id_b, jaccard FROM sc WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Recursive-CTE transitive closure over the exact-Jaccard pair graph:
    * `comp` maps every paired doc to its duplicate group's minimum id —
    * the oracle for the connected-components stage (q42/q43). Small-data
    * closure (quadratic per component) is fine for an oracle; the engine
    * runs large-star/small-star instead.
    */
  private val dupGroupsCtes: String =
    s"""$jaccardPairsCtes,
       |pr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pr
       |          UNION SELECT id_b, id_a FROM pr),
       |reach(u, v) AS (SELECT u, v FROM edges
       |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS group_id
       |         FROM reach GROUP BY u)""".stripMargin

  /** DuckDB CTEs replaying PQ encoding (q49/q52): 16-centroid codebook
    * from the corpus, per-(vector, subspace) exact fixed-order squared-L2
    * to each centroid sub-vector, nearest-centroid codes with id
    * tie-breaks.
    */
  private val pqCtes: String =
    """cb AS (SELECT CAST(vec_id AS INT) AS c, embedding AS cv
      |       FROM embeddings WHERE vec_id < 16),
      |dist AS (SELECT e.vec_id AS vid, r.j AS j, cb.c AS c,
      |    round(list_sum(list_transform(range(1, 9), i ->
      |      (CAST(e.embedding[r.j*8 + i] AS DOUBLE)
      |        - CAST(cv[r.j*8 + i] AS DOUBLE))
      |      * (CAST(e.embedding[r.j*8 + i] AS DOUBLE)
      |        - CAST(cv[r.j*8 + i] AS DOUBLE)))), 6) AS d2
      |  FROM embeddings e, range(0, 8) r(j), cb),
      |enc AS (SELECT vid, j, c AS code FROM (
      |    SELECT vid, j, c,
      |      row_number() OVER (PARTITION BY vid, j ORDER BY d2, c) AS rn
      |    FROM dist) t WHERE rn = 1)""".stripMargin

  /** DuckDB CTE chain replaying the TextPipeline quality gate (q48,
    * q53): all five signals plus the cuts, ending in `kept`.
    */
  private lazy val gateCtes: String =
    s"""sig0 AS (SELECT doc_id, text, string_split($normSql, ' ') AS w
       |        FROM documents),
       |sig1 AS (SELECT doc_id, text, w,
       |    CASE WHEN len(w) < 2 THEN []
       |         ELSE list_transform(range(1, len(w)),
       |                i -> w[i] || ' ' || w[i+1]) END AS b
       |  FROM sig0),
       |lang AS ($langIdSql),
       |sig AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |      / nullif(length(text), 0) AS alpha_ratio,
       |    round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
       |      AS distinct_word_ratio,
       |    CASE WHEN len(b) = 0 THEN NULL
       |         ELSE round(CAST(list_max(list_transform(list_distinct(b),
       |                x -> len(list_filter(b, y -> y = x)))) AS DOUBLE)
       |              / len(b), 6) END AS top_bigram_frac
       |  FROM sig1),
       |kept AS (SELECT s.doc_id, l.lang_id, s.n_tokens, s.alpha_ratio,
       |    s.distinct_word_ratio, s.top_bigram_frac
       |  FROM sig s JOIN lang l USING (doc_id)
       |  WHERE n_tokens BETWEEN 25 AND 100000 AND alpha_ratio >= 0.75
       |    AND distinct_word_ratio >= 0.5 AND top_bigram_frac <= 0.08
       |    AND lang_id <> 'und')""".stripMargin

  /** DuckDB CTE chain replaying [[graft.llm.Clustering.kmeans]] (k = 8,
    * iters = 1, dim = 64) end-to-end: quantize to 2^20 fixed-point longs,
    * seed centroids from the 8 lowest vec_ids, one exact-integer Lloyd
    * assignment, floor(sum/count) centroid update (empty cells keep their
    * seed via the LEFT JOIN coalesce), final assignment. Ends in
    * `a1(vec_id, c, d)`. Everything is integer or exactly-representable-
    * integer-double arithmetic, so training replays bit-for-bit.
    */
  private val kmeansCtes: String =
    """q AS (SELECT vec_id, list_transform(embedding,
      |        e -> CAST(round(CAST(e AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      |      FROM embeddings),
      |c0 AS (SELECT vec_id AS c, qv AS cv FROM q WHERE vec_id < 8),
      |d0 AS (SELECT q.vec_id, q.qv, c0.c,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (q.qv[i] - c0.cv[i]) * (q.qv[i] - c0.cv[i]))) AS d
      |  FROM q, c0),
      |a0 AS (SELECT vec_id, qv, c FROM (
      |    SELECT vec_id, qv, c,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM d0) t WHERE rn = 1),
      |m1 AS (SELECT c, j,
      |    CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT) AS v
      |  FROM a0, range(1, 65) r(j) GROUP BY c, j),
      |c1 AS (SELECT c0.c AS c, list(coalesce(m1.v, c0.cv[r.j]) ORDER BY r.j) AS cv
      |  FROM (c0 CROSS JOIN range(1, 65) r(j))
      |  LEFT JOIN m1 ON m1.c = c0.c AND m1.j = r.j
      |  GROUP BY c0.c),
      |d1 AS (SELECT q.vec_id, c1.c,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (q.qv[i] - c1.cv[i]) * (q.qv[i] - c1.cv[i]))) AS d
      |  FROM q, c1),
      |a1 AS (SELECT vec_id, c, d FROM (
      |    SELECT vec_id, c, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM d1) t WHERE rn = 1)""".stripMargin

  /** DuckDB SQL replicating `TextFunctions.langId` marker counting:
    * non-overlapping replace-based counts over the padded lowercase text,
    * argmax with ties broken in marker-list order, no hits → 'und'.
    */
  private val langIdSql: String = {
    val scores = TextFunctions.langMarkers.map { case (lang, ms) =>
      val cnt = ms.map(m =>
        s"(length(p) - length(replace(p, '$m', ''))) // ${m.length}").mkString(" + ")
      s"($cnt) AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextFunctions.langMarkers.map(_._1)
    val g = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $g THEN '$l'").mkString(" ")
    s"""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
       |sc AS (SELECT doc_id,
       |         $scores
       |       FROM p)
       |SELECT doc_id, CASE WHEN $g = 0 THEN 'und' $cases END AS lang_id
       |FROM sc""".stripMargin
  }

  /** The q173 BM25 scoring pipeline as a reusable CTE chain (through
    * `rk`: per-query ranked (qid, did, score_x1000, rank)) — shared by
    * the plain retrieval oracle (q173), the RRF fusion oracle (q176),
    * and — with a corpus predicate — the tombstone-delete oracle
    * (q226, which must score exactly the SURVIVING corpus). The query
    * set (q CTE) always draws from the full table: queries are inputs,
    * not corpus members.
    */
  private def bm25CtesWhere(where: String): String =
    s"""tok AS (SELECT doc_id AS did,
      |    unnest(string_split(text, ' ')) AS t
      |  FROM documents WHERE $where),
      |tf AS (SELECT did, t, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY did, t),
      |ln AS (SELECT did, CAST(count(*) AS BIGINT) AS len
      |  FROM tok GROUP BY did),
      |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
      |  FROM tf GROUP BY t),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len) AS BIGINT) AS total_len FROM ln),
      |q AS (SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' ')[1:3])) AS t
      |  FROM documents WHERE doc_id < 3),
      |sc AS (SELECT q.qid, tf.did, tf.tf, dfq.df, ln.len,
      |    st.n_docs, st.total_len,
      |    (st.total_len * 100) // st.n_docs AS avg_x100
      |  FROM q JOIN tf ON q.t = tf.t JOIN dfq ON q.t = dfq.t
      |    JOIN ln ON tf.did = ln.did CROSS JOIN st),
      |parts AS (SELECT qid, did,
      |    (tf * 2200 * 1000) // (tf * 1000 +
      |      (12 * (250 + (750 * ((len * 100000) // avg_x100))
      |        // 1000)) // 10) AS tfpart_x1000,
      |    CAST(length(bin((n_docs * 64) // df)) - 1 AS BIGINT)
      |      AS idf_bits
      |  FROM sc),
      |agg AS (SELECT qid, did,
      |    CAST(sum(tfpart_x1000 * idf_bits) AS BIGINT)
      |      AS score_x1000
      |  FROM parts GROUP BY qid, did),
      |rk AS (SELECT qid, did, score_x1000,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score_x1000 DESC, did) AS rank
      |  FROM agg)""".stripMargin

  private val bm25Ctes: String = bm25CtesWhere("TRUE")

  /** Bucketed gate-signal FEATURE TOKENS plus the gate pseudo-label in
    * one signals pass — the fastText-style feature engineering shared
    * by q233 (offline training + scoring) and q237 (streaming
    * admission against the persisted model). Returns
    * (doc_id, ftext, label).
    */
  private def qualityFeatures(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sig = graft.llm.TextPipeline.withQualitySignals(df, "text")
    sig.select(col("doc_id"), concat_ws(" ",
      concat(lit("f_len_"), length(bin(col("n_tokens")))),
      concat(lit("f_alpha_"),
        floor(coalesce(col("alpha_ratio"), lit(-1.0)) * 20)),
      concat(lit("f_dwr_"),
        floor(coalesce(col("distinct_word_ratio"), lit(-1.0)) * 20)),
      concat(lit("f_rep_"),
        floor(coalesce(col("top_bigram_frac"), lit(-1.0)) * 50)),
      concat(lit("f_lang_"), col("lang_id"))).as("ftext"),
      when(graft.llm.TextPipeline.qualityPredicate(), lit("keep"))
        .otherwise(lit("cut")).as("label"))
  }

  val queries: Map[String, Q] = Map(

    // Exact content dedup: one survivor (min doc_id) per distinct text.
    // The md5-fingerprint grouping keeps the shuffle key 32 bytes at 100 TB;
    // the oracle groups on the text itself (collision-free by construction).
    "q20_dedup_content" -> Q(
      (s, d) => Dedup.exactByContent(docs(s, d), "doc_id", Seq("text"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY coalesce(text, chr(1)) ORDER BY doc_id) AS rn
             |  FROM documents) t
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Text quality scoring: per-document length/token/ratio columns.
    "q21_text_quality" -> Q(
      (s, d) => docs(s, d)
        .select((col("doc_id") +: TextFunctions.qualityColumns(col("text"))): _*)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  length(text) AS len_chars,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
             |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             |    / nullif(length(text), 0) AS alpha_ratio,
             |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
             |    / nullif(length(text), 0) AS space_ratio,
             |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0
             |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0)
             |    AS mean_token_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Approximate BPE token counting (GPT-2-style pre-tokenizer regex) —
    // the length signal an LLM-data pipeline budgets with. The oracle
    // runs the same pattern through DuckDB's RE2.
    "q33_bpe_tokens" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          TextFunctions.tokenCount(col("text")).as("n_ws_tokens"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '${TextFunctions.bpeTokenPattern.replace("'", "''")}')) AS n_bpe_tokens,
              |  CASE WHEN length(trim(text)) = 0 THEN 0
              |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic, per document (oracle replicates the marker
    // arithmetic so the check is cross-engine, not self-referential).
    "q22_lang_id" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_id"))
        .orderBy("doc_id"),
      Some(s"$langIdSql ORDER BY doc_id")),

    // Exact n-gram Jaccard near-dup pairs via the inverted-index join.
    // The sf0.01 corpus carries 25 injected near-dup pairs at j >= 0.8
    // with a clean gap below 0.1 — threshold 0.5 isolates exactly them.
    "q23_ngram_jaccard" -> Q(
      (s, d) => NGramJaccard
        .similarPairs(docs(s, d), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(jaccardPairsSql)),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified. The OUTPUT
    // contract is `{(a,b) : jaccard >= t}` — banding only generates
    // candidates, the exact verifier decides membership — so the oracle
    // is the same exact-Jaccard SQL as q23's, PROVIDED banding recall is
    // 1.0 on the corpus (it is: 8 bands x 4 rows at j >= 0.8 misses a
    // pair with p ~= 1.5e-2, and the seeded signatures are deterministic,
    // so the driver-checked sf0.01 result is a fixed object, verified
    // equal to the exact pair set here and in NearDupSpec).
    "q27_minhash_neardup" -> Q(
      (s, d) => MinHashDedup
        .nearDupPairs(docs(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(jaccardPairsSql)),

    // Exact brute-force KNN: 8 broadcast queries vs the corpus, cosine
    // top-5. Similarity is rounded to 6 dp on BOTH sides and the rounded
    // value drives the rank order, so engine-level ulp drift in the double
    // fold cannot flip ranks.
    "q24_knn_brute" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
        val scored = emb
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
          .crossJoin(q)
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("sim", round(VectorFunctions.cosine(col("qv"), col("nv")), 6))
        TopK.perGroup(scored,
            Seq(col("query_id")), Seq(col("sim").desc, col("neighbor_id").asc),
            k = 5, rankCol = "knn_rank")
          .select(col("query_id"), col("neighbor_id"),
            col("knn_rank").cast("long").as("knn_rank"), col("sim"))
          .orderBy("query_id", "knn_rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
             |           FROM embeddings WHERE vec_id < 8),
             |sc AS (SELECT query_id, vec_id AS neighbor_id,
             |    round(list_cosine_similarity(CAST(qv AS DOUBLE[]),
             |                                 CAST(embedding AS DOUBLE[])), 6) AS sim
             |  FROM embeddings CROSS JOIN q WHERE vec_id != query_id),
             |rk AS (SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY sim DESC, neighbor_id) AS knn_rank
             |  FROM sc)
             |SELECT query_id, neighbor_id, knn_rank, sim FROM rk
             |WHERE knn_rank <= 5 ORDER BY query_id, knn_rank""".stripMargin)),

    // Tumbling 1-hour event-time windows (batch form of the streaming
    // windowed stats). Window start emitted as a formatted string so
    // timestamp-zone representation can't perturb the hash.
    "q25_event_windows" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Stats.decimalSum(col("value")).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_start", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |       event_type, count(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    // JSON extraction from the events props column.
    "q26_json_extract" -> Q(
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    // Sessionization: split each user's event stream at >6h gaps (lag +
    // running sum of session-start flags), then per-session stats — the
    // standard event-log shaping step before per-session training examples.
    // Gap arithmetic runs on integer microseconds so both engines compare
    // exactly.
    "q34_sessionize" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = 6L * 3600 * 1000000
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("new_sess",
            when(lag(col("us"), 1).over(w).isNull ||
              col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("sess_id", sum("new_sess").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            count(lit(1)).as("n_events"),
            Stats.decimalSum(col("value")).as("sum_value"))
          .select("user_id", "session_start", "n_events", "sum_value")
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
             |g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |                       OR us - lag(us) OVER w > 21600000000
             |                     THEN 1 ELSE 0 END AS new_sess
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |s AS (SELECT *, SUM(new_sess) OVER (
             |        PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM g)
             |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       count(*) AS n_events,
             |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM s GROUP BY user_id, sess_id
             |ORDER BY user_id, session_start""".stripMargin)),

    // Native session_window, cross-checked against a FIRST-PRINCIPLES
    // sessionization in the oracle (lag + running sum, split at >= gap —
    // session_window starts a new session when the gap equals the
    // duration, since windows are [start, end)). Agreement here pins
    // Spark's stateful session semantics against an independent
    // construction.
    "q35_session_window" -> Q(
      (s, d) => graft.streaming.StreamOps
        .sessionStats(Tables.events(s, d), "user_id", "6 hours")
        .select(
          col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      Some("""WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
             |g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |                       OR us - lag(us) OVER w >= 21600000000
             |                     THEN 1 ELSE 0 END AS new_sess
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |s AS (SELECT *, SUM(new_sess) OVER (
             |        PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM g)
             |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       count(*) AS n_events,
             |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM s GROUP BY user_id, sess_id
             |ORDER BY user_id, session_start""".stripMargin)),

    // Interval join (event correlation / attribution): every click joined
    // to the same user's purchases within the following hour. The
    // operator is the shared batch/stream-stream `StreamOps.intervalJoin`
    // (watermarked state-bounded in streaming; here the batch plan).
    // coalesce(…, 0): a click with no purchases must report 0.0, and the
    // left-outer sum is NULL on both engines otherwise.
    "q44_interval_join" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
        graft.streaming.StreamOps.intervalJoin(clicks, purchases,
            "user_id", "p_user", "click_ts", "p_ts", "1 hour", "left_outer")
          .groupBy("click_id")
          .agg(
            count(col("p_ts")).as("n_purchases"),
            coalesce(Stats.decimalSum(col("p_value")), lit(0.0))
              .as("attributed_value"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
             |      FROM events WHERE event_type = 'purchase')
             |SELECT click_id, count(p_ts) AS n_purchases,
             |  coalesce(CAST(SUM(CAST(p_value AS DECIMAL(38,4))) AS DOUBLE), 0.0)
             |    AS attributed_value
             |FROM c LEFT JOIN p ON p_user = user_id
             |  AND p_ts >= click_ts AND p_ts <= click_ts + INTERVAL 1 HOUR
             |GROUP BY click_id ORDER BY click_id""".stripMargin)),

    // STREAM-STREAM interval join through the REAL streaming engine (q44
    // is the batch plan of the same operator): both sides are watermarked
    // file streams, the join runs with streaming state, and the memory
    // sink collects the append-mode output. Bounded input in one
    // microbatch makes the result deterministic: inner-join matches emit
    // immediately (no watermark wait), so the output equals the batch
    // join — which is exactly what the oracle replays. Inner (not outer)
    // is deliberate: outer emission depends on watermark advancement
    // across batches, undefined for a one-batch bounded run. The memory
    // sink is the harness side only; production writes a real sink.
    "q103_stream_interval_join" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = Tables.normalizeTs(
          graft.streaming.StreamOps.readStream(s, Tables.path(d, "events")))
        val clicks = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val purchases = raw.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val joined = graft.streaming.StreamOps.intervalJoin(
          clicks, purchases, "user_id", "p_user", "click_ts", "p_ts", "1 hour")
        // statePartitions sized to the join's key cardinality (user_id),
        // not the session's corpus-wide shuffle width — a stream-stream
        // join materializes FOUR state stores per partition per batch,
        // and 32 partitions paid 4x the per-batch store lifecycle for
        // the same keys; conf-overridable for wide-key deployments
        // (the q225 pattern, see confStatePartitions)
        graft.streaming.StreamOps.runToBatch(s, joined, "append",
          statePartitions =
            graft.streaming.StreamOps.confStatePartitions(s))
          .groupBy("click_id")
          .agg(count(lit(1)).as("n_purchases"),
            Stats.decimalSum(col("p_value")).as("attributed_value"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
             |      FROM events WHERE event_type = 'purchase')
             |SELECT click_id, count(*) AS n_purchases,
             |  CAST(SUM(CAST(p_value AS DECIMAL(38,4))) AS DOUBLE)
             |    AS attributed_value
             |FROM c JOIN p ON p_user = user_id
             |  AND p_ts >= click_ts AND p_ts <= click_ts + INTERVAL 1 HOUR
             |GROUP BY click_id ORDER BY click_id""".stripMargin)),

    // transformWithState (MapState) through the REAL streaming engine
    // with the RocksDB state store: per-user running event-type counts,
    // update-mode output over a bounded one-batch stream = final state,
    // which the oracle rebuilds relationally. The processor renders its
    // map as sorted "type=n" strings (UTF8String binary order == DuckDB's
    // binary varchar collation on this ASCII alphabet); the final
    // projection joins them to one scalar per user (output contract).
    "q104_stream_tws_counts" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        graft.streaming.StreamOps.withRocksDbStateStore(s) {
          val stream = graft.streaming.StreamOps.readStream(s, Tables.path(d, "events"))
          // per-partition RocksDB instance lifecycle is the dominant
          // per-batch cost; size state width to the key cardinality
          // (user_id), conf-overridable (see confStatePartitions)
          graft.streaming.StreamOps.runToBatch(s,
            graft.streaming.StreamOps.eventTypeCountsTws(stream), "update",
            statePartitions =
              graft.streaming.StreamOps.confStatePartitions(s))
        }
          .select(col("user_id"), array_join(col("counts"), ",").as("type_counts"))
          .orderBy("user_id")
      },
      Some("""WITH pc AS (SELECT user_id, event_type || '=' || count(*) AS s
             |            FROM events GROUP BY user_id, event_type)
             |SELECT user_id, string_agg(s, ',' ORDER BY s) AS type_counts
             |FROM pc GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // As-of join: each click paired with the user's most recent purchase
    // at-or-before it, via the NATIVE whole-operator path (custom
    // AsOfJoinNode logical plan -> AsOfJoinStrategy -> streaming
    // sort-merge AsOfJoinExec; the union+window formulation stays as the
    // executable spec, pinned equal in AsOfJoinSpec). DuckDB's native
    // ASOF JOIN is the oracle; purchases are pre-deduped to one row per
    // (user, ts) because ASOF leaves the equal-ts tie unspecified.
    "q45_asof_join" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(max(col("value")).as("p_value"))
        graft.operators.AsOfJoin.lastAtOrBeforeMerge(clicks, purchases,
            "user_id", "p_user", "click_ts", "p_ts")
          .select(col("click_id"),
            date_format(col("asof_p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_purchase_ts"),
            col("asof_p_value").as("last_purchase_value"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, max(value) AS p_value
             |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             |SELECT click_id,
             |  strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts,
             |  p_value AS last_purchase_value
             |FROM c ASOF LEFT JOIN p ON user_id = p_user AND click_ts >= p_ts
             |ORDER BY click_id""".stripMargin)),

    // Sketch aggregates — the approximate tier a 100 TB profile actually
    // runs (exact count-distinct shuffles every key; HLL ships a 2^p
    // register sketch). HLL/t-digest internals aren't replayable in
    // DuckDB, so the oracle checks the PROPERTY instead: the sketch
    // estimate must sit within its error envelope of the exact value
    // (which IS replayed). Deterministic: Spark's sketches are
    // seed-fixed, so the booleans are a fixed object per dataset.
    "q46_sketch_agg" -> Q(
      (s, d) => {
        // count(DISTINCT) in the same Aggregate forces a distinct-expand
        // pipeline that drags the exact-percentile map buffers through
        // two extra exchanges (measured ~2x on this query) — compute the
        // sketch aggregates single-level and join the 5-row results
        val ev = Tables.events(s, d)
        val sketches = ev.groupBy(col("event_type")).agg(
          approx_count_distinct(col("user_id"), 0.05).as("__hll"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("__p50a"),
          expr("percentile(value, 0.5)").as("__p50e"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(broadcast(sketches), Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("__hll") - col("exact_users"))
              <= col("exact_users") * 0.15).as("hll_within_15pct"),
            (abs(col("__p50a") - col("__p50e"))
              <= abs(col("__p50e")) * 0.01 + 0.01).as("p50_within_1pct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
             |  TRUE AS hll_within_15pct, TRUE AS p50_within_1pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1): vocabulary
    // diversity and the mass of the most repeated word bigram — the
    // boilerplate/spam cut of a training-data quality pipeline. The
    // word array is staged ONCE as its own projection (an inline Column
    // referenced k times re-executes its whole subtree k times).
    "q47_repetition" -> Q(
      (s, d) => {
        val words = split(TextFunctions.normalized(col("text")), " ")
        docs(s, d)
          .select(col("doc_id"), TextFunctions.repetitionStats(words).as("__rep"))
          .select(col("doc_id"),
            col("__rep.distinct_word_ratio").as("distinct_word_ratio"),
            col("__rep.top_bigram_frac").as("top_bigram_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, string_split($normSql, ' ') AS w
              |            FROM documents),
              |bg AS (SELECT doc_id, w,
              |    CASE WHEN len(w) < 2 THEN []
              |         ELSE list_transform(range(1, len(w)),
              |                i -> w[i] || ' ' || w[i+1]) END AS b
              |  FROM nrm)
              |SELECT doc_id,
              |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
              |    AS distinct_word_ratio,
              |  CASE WHEN len(b) = 0 THEN NULL
              |       ELSE round(CAST(list_max(list_transform(list_distinct(b),
              |              x -> len(list_filter(b, y -> y = x)))) AS DOUBLE)
              |            / len(b), 6) END AS top_bigram_frac
              |FROM bg ORDER BY doc_id""".stripMargin)),

    // Composed one-pass quality gate (llm/TextPipeline): every signal —
    // token count, alpha ratio, language, vocabulary diversity, bigram
    // repetition — from one staged projection, then one filter. The
    // oracle recomputes all five signals AND the cuts, so the whole
    // gate's selectivity is hash-checked, not just the signal math.
    "q48_quality_filter" -> Q(
      (s, d) => graft.llm.TextPipeline.qualityFilter(docs(s, d), "text")
        .select("doc_id", "lang_id", "n_tokens", "alpha_ratio",
          "distinct_word_ratio", "top_bigram_frac")
        .orderBy("doc_id"),
      Some(s"""WITH $gateCtes
              |SELECT doc_id, lang_id, n_tokens, alpha_ratio,
              |       distinct_word_ratio, top_bigram_frac
              |FROM kept ORDER BY doc_id""".stripMargin)),

    // THE end-to-end training-corpus pipeline, one query: quality gate
    // (q48) -> exact content dedup (q20) -> MinHash near-dup pairs (q27)
    // -> connected components + min-id survivor (q42/q43) -> per-language
    // document/token budget. Every stage's oracle is composed into one
    // DuckDB replay, so the FINAL corpus a training run would consume is
    // hash-checked, not just each stage in isolation.
    "q53_corpus_pipeline" -> Q(
      (s, d) => {
        val gated = graft.llm.TextPipeline.qualityFilter(docs(s, d), "text")
        val exact = Dedup.exactByContent(gated, "doc_id", Seq("text"))
        // EXACT similarity join (prefix-filtered AllPairs), not MinHash
        // banding: this flagship's oracle is an exact-Jaccard contract,
        // and the sf1.0 sidecar measured the banding default's recall
        // gap at threshold 0.5 (b=8/r=4 S-curve midpoint 0.59 > 0.5 —
        // 1,167 extra survivors at sf1.0; bandsFor-calibrated b=16
        // leaves 8; the exact join leaves none at any scale). Banding
        // remains the probabilistic scale path (q27) — with bandsFor
        // when the threshold is below the default midpoint.
        val pairs = NGramJaccard
          .similarPairs(exact, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        val corpus = Dedup.byNearDupPairs(exact, "doc_id", pairs)
        corpus.groupBy("lang_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
          .orderBy("lang_id")
      },
      Some(s"""WITH RECURSIVE $gateCtes,
              |keptt AS (SELECT k.*, d.text FROM kept k JOIN documents d USING (doc_id)),
              |exd AS (SELECT doc_id, lang_id, n_tokens, text FROM (
              |    SELECT k.*, row_number() OVER (
              |      PARTITION BY coalesce(text, chr(1)) ORDER BY doc_id) AS rn
              |    FROM keptt k) t WHERE rn = 1),
              |${jaccardPairsCtesFrom("exd")},
              |pr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5),
              |edges AS (SELECT id_a AS u, id_b AS v FROM pr
              |          UNION SELECT id_b, id_a FROM pr),
              |reach(u, v) AS (SELECT u, v FROM edges
              |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |comp AS (SELECT u AS doc_id, least(u, min(v)) AS group_id
              |         FROM reach GROUP BY u),
              |final AS (SELECT * FROM exd WHERE doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE group_id <> doc_id))
              |SELECT lang_id, count(*) AS n_docs,
              |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
              |FROM final GROUP BY lang_id ORDER BY lang_id""".stripMargin)),

    // Edit-distance verification of the near-dup pairs: character-level
    // Levenshtein (Spark built-in, codegen'd) over the candidate pairs,
    // normalized by the longer text — the classic second opinion next to
    // shingle Jaccard (token-insensitive, catches character-level noise).
    // Cost discipline: the O(len^2) distance only runs on the ~25
    // candidate pairs, never all-pairs.
    "q55_edit_distance" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = NGramJaccard
          .similarPairs(dd, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        val t = dd.select(col("doc_id"), col("text"))
        pairs
          .join(t.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
          .join(t.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
            round(lit(1.0) - levenshtein(col("ta"), col("tb"))
              .cast("double") / greatest(length(col("ta")), length(col("tb"))), 6)
              .as("edit_sim"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $jaccardPairsCtes,
              |pr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5)
              |SELECT id_a, id_b,
              |  levenshtein(ta.text, tb.text) AS edit_dist,
              |  round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
              |        / greatest(length(ta.text), length(tb.text)), 6) AS edit_sim
              |FROM pr JOIN documents ta ON ta.doc_id = id_a
              |        JOIN documents tb ON tb.doc_id = id_b
              |ORDER BY id_a, id_b""".stripMargin)),

    // Exact linear-interpolation percentiles (profiling surface beyond
    // min/max/mean — the quantile cut a data pipeline filters on).
    "q36_percentiles" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.99)").as("p99_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       quantile_cont(l_quantity, 0.5) AS p50,
             |       quantile_cont(l_quantity, 0.9) AS p90,
             |       quantile_cont(l_extendedprice, 0.99) AS p99_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Multimodal frame sampling through the correctness gate: synthetic
    // per-doc frame counts, one row per sampled frame via the pure
    // sequence+explode plumbing (never leaves codegen).
    "q37_frame_sample" -> Q(
      (s, d) => {
        import graft.multimodal.MultimodalOps
        val withFrames = docs(s, d)
          .select(col("doc_id"), (pmod(col("doc_id"), lit(20)) + 1).cast("int").as("n_frames"))
        MultimodalOps.sampleFrames(withFrames, "n_frames", every = 5)
          .select("doc_id", "n_frames", "frame_idx")
          .orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT doc_id, n_frames, unnest(range(0, n_frames, 5)) AS frame_idx
             |FROM (SELECT doc_id, CAST(doc_id % 20 + 1 AS INT) AS n_frames FROM documents) t
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // SimHash near-dup, exact-Jaccard verified: multi-index banding is
    // candidate generation; membership is decided by exact Jaccard, so the
    // output equals q23's exact pair set and shares its oracle. Recall is
    // DETERMINISTIC here (pigeonhole, not probabilistic): every pair
    // within radius-5 Hamming is guaranteed a candidate, and the measured
    // max Hamming among the corpus's true (j >= 0.8) pairs at sf0.01 is 5.
    // Pure Hamming-radius semantics (`nearDupPairs`) is pinned in
    // NearDupSpec against brute force. blocks=8 gives C(8,3)=56 combo
    // keys of 3 blocks (24 bits) — measured 3x fewer candidates at sf0.1
    // than 2-block keys, same pigeonhole guarantee.
    "q28_simhash_neardup" -> Q(
      (s, d) => SimHashDedup
        .nearDupPairsJaccard(docs(s, d), "doc_id", "text",
          threshold = 0.5, radius = 5, blocks = 8)
        .orderBy("id_a", "id_b"),
      Some(jaccardPairsSql)),

    // Hyperplane-LSH approximate KNN. The hyperplanes are the portable
    // Rademacher family, so the ORACLE REPRODUCES THE APPROXIMATION
    // itself: DuckDB rebuilds the planes from the same integer mix,
    // buckets identically, and re-ranks candidates with the same rounded
    // cosine — a full cross-engine check of an approximate operator
    // (recall vs brute force is measured separately in KnnSpec).
    "q29_knn_lsh" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        EmbeddingKnn.lshApproximate(
            emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, numPlanes = 8, dim = 64)
          .select(col("query_id"), col("neighbor_id"),
            col("knn_rank").cast("long").as("knn_rank"), col("sim"))
          .orderBy("query_id", "knn_rank")
      },
      Some(s"""WITH ${radDotsSql(8)},
              |buckets AS (SELECT vec_id,
              |    SUM(CASE WHEN dot >= 0.0 THEN 1 << p ELSE 0 END) AS bucket
              |  FROM dots GROUP BY vec_id),
              |c AS (SELECT b.vec_id AS neighbor_id, e.embedding AS nv, b.bucket
              |      FROM buckets b JOIN embeddings e USING (vec_id)),
              |q AS (SELECT b.vec_id AS query_id, e.embedding AS qv, b.bucket
              |      FROM buckets b JOIN embeddings e USING (vec_id)
              |      WHERE b.vec_id < 8),
              |sc AS (SELECT query_id, neighbor_id,
              |    round(list_cosine_similarity(CAST(qv AS DOUBLE[]),
              |                                 CAST(nv AS DOUBLE[])), 6) AS sim
              |  FROM c JOIN q USING (bucket) WHERE neighbor_id != query_id),
              |rk AS (SELECT query_id, neighbor_id, sim,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY sim DESC, neighbor_id) AS knn_rank
              |  FROM sc)
              |SELECT query_id, neighbor_id, knn_rank, sim FROM rk
              |WHERE knn_rank <= 5 ORDER BY query_id, knn_rank""".stripMargin)),

    // Corpus-self EXACT embedding near-dup pairs (broadcast nested-loop
    // all-pairs cosine — the correctness baseline for embedding dedup).
    "q30_embed_neardup_exact" -> Q(
      (s, d) => EmbeddingKnn
        .nearDupPairsExact(emb(s, d), threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])), 6) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // Corpus-self ANN near-dup via banded hyperplane LSH — the 100 TB
    // scale path. Portable Rademacher planes again make the whole
    // approximate pipeline oracle-checkable: DuckDB rebuilds all 64
    // planes (8 tables x 8 bits, plane id p -> table p//8, bit p%8),
    // bands identically, and applies the same exact-cosine verification.
    // Recall vs the exact q30 pair set is measured in KnnSpec.
    "q31_embed_neardup_lsh" -> Q(
      (s, d) => EmbeddingKnn
        .nearDupPairsLsh(emb(s, d), threshold = 0.4,
          tables = 8, planesPerTable = 8, dim = 64)
        .orderBy("id_a", "id_b"),
      Some(embLshOracle)),

    // IVF ANN (inverted-file index): coarse-quantize the corpus into
    // cells (nearest of 16 deterministic centroids — in production a
    // k-means codebook trained offline, shipped like a dim table), probe
    // the 4 nearest cells per query, exact top-5 inside them. Rounded
    // sims + id tie-breaks make assignment deterministic, so the oracle
    // replays the ENTIRE approximate pipeline in DuckDB.
    "q41_knn_ivf" -> Q(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        EmbeddingKnn.ivfTopK(
            corpus = e, queries = e.filter(col("vec_id") < 8),
            centroids = e.filter(col("vec_id") < 16),
            k = 5, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"),
            col("knn_rank").cast("long").as("knn_rank"), col("sim"))
          .orderBy("query_id", "knn_rank")
      },
      Some("""WITH cent AS (SELECT vec_id AS cell, embedding AS cv
             |              FROM embeddings WHERE vec_id < 16),
             |asg AS (SELECT e.vec_id, e.embedding, cell,
             |    row_number() OVER (PARTITION BY e.vec_id
             |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |                                            CAST(cv AS DOUBLE[])), 6) DESC,
             |               cell) AS cr
             |  FROM embeddings e CROSS JOIN cent),
             |cells AS (SELECT vec_id AS neighbor_id, embedding AS nv, cell
             |          FROM asg WHERE cr = 1),
             |probes AS (SELECT vec_id AS query_id, embedding AS qv, cell
             |           FROM asg WHERE cr <= 4 AND vec_id < 8),
             |sc AS (SELECT query_id, neighbor_id,
             |    round(list_cosine_similarity(CAST(qv AS DOUBLE[]),
             |                                 CAST(nv AS DOUBLE[])), 6) AS sim
             |  FROM cells JOIN probes USING (cell) WHERE neighbor_id != query_id),
             |rk AS (SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY sim DESC, neighbor_id) AS knn_rank
             |  FROM sc)
             |SELECT query_id, neighbor_id, knn_rank, sim FROM rk
             |WHERE knn_rank <= 5 ORDER BY query_id, knn_rank""".stripMargin)),

    // Near-dup GROUPS: the production fuzzy-dedup front half — MinHash
    // LSH candidates + exact-Jaccard verification (q27's pipeline, whose
    // output provably equals q23's exact pair set) — clustered by
    // alternating large-star/small-star connected components; every doc
    // gets its group's min doc_id (singletons: itself). The oracle
    // recomputes the closure with a recursive CTE over the EXACT pair
    // set, so the WHOLE pairs→groups pipeline is hash-checked.
    "q42_neardup_groups" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        val cc = graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        dd.select("doc_id").join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("group_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes
              |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id
              |FROM documents d LEFT JOIN comp c USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Full fuzzy-dedup pipeline: pairs → components → keep the min-id
    // survivor per group, untouched docs pass through (the corpus a
    // training run would actually consume).
    "q43_dedup_neardup" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        Dedup.byNearDupPairs(dd, "doc_id", pairs)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes
              |SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE group_id <> doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Product-quantization ANN (ADC): corpus encoded to 8 code bytes per
    // 64-dim vector (32x compression — the billion-scale in-memory ANN
    // trick), queries score candidates via per-subspace distance-table
    // lookups. Codebook = 16 deterministic corpus vectors (production: an
    // offline k-means codebook shipped like a dim table). Exact fixed-
    // order sub-distance sums + rounded argmin/rank with id tie-breaks
    // let DuckDB replay ENCODING AND SEARCH — codes, tables, ranks.
    "q49_knn_pq" -> Q(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        ProductQuantization.pqTopK(
            corpus = e, queries = e.filter(col("vec_id") < 8),
            codebook = e.filter(col("vec_id") < 16), subspaces = 8, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            col("pq_rank").cast("long").as("pq_rank"), col("approx_dist"))
          .orderBy("query_id", "pq_rank")
      },
      Some(s"""WITH $pqCtes,
              |adc AS (SELECT qd.vid AS query_id, e.vid AS neighbor_id,
              |    round(list_sum(list(qd.d2 ORDER BY qd.j)), 6) AS approx_dist
              |  FROM enc e JOIN dist qd ON qd.j = e.j AND qd.c = e.code
              |  WHERE qd.vid < 8 AND e.vid <> qd.vid
              |  GROUP BY 1, 2),
              |rk AS (SELECT query_id, neighbor_id, approx_dist,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY approx_dist, neighbor_id) AS pq_rank
              |  FROM adc)
              |SELECT query_id, neighbor_id, pq_rank, approx_dist FROM rk
              |WHERE pq_rank <= 5 ORDER BY query_id, pq_rank""".stripMargin)),

    // The composed IVF-PQ pipeline (both halves of Jégou TPAMI'11): the
    // coarse quantizer bounds the candidate set (only nProbe cells per
    // query are scanned), PQ codes bound the per-candidate cost. The
    // oracle replays coarse assignment, probing, encoding, and ADC.
    "q52_knn_ivfpq" -> Q(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        ProductQuantization.ivfPqTopK(
            corpus = e, queries = e.filter(col("vec_id") < 8),
            centroids = e.filter(col("vec_id") < 16),
            codebook = e.filter(col("vec_id") < 16),
            subspaces = 8, k = 5, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"),
            col("pq_rank").cast("long").as("pq_rank"), col("approx_dist"))
          .orderBy("query_id", "pq_rank")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cell, embedding AS cvv
              |             FROM embeddings WHERE vec_id < 16),
              |asg AS (SELECT e.vec_id, cell,
              |    row_number() OVER (PARTITION BY e.vec_id
              |      ORDER BY round(list_cosine_similarity(
              |                 CAST(e.embedding AS DOUBLE[]),
              |                 CAST(cvv AS DOUBLE[])), 6) DESC,
              |               cell) AS cr
              |  FROM embeddings e CROSS JOIN cent),
              |cells AS (SELECT vec_id AS neighbor_id, cell FROM asg WHERE cr = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM asg
              |           WHERE cr <= 4 AND vec_id < 8),
              |$pqCtes,
              |adc AS (SELECT qd.vid AS query_id, e.vid AS neighbor_id,
              |    round(list_sum(list(qd.d2 ORDER BY qd.j)), 6) AS approx_dist
              |  FROM enc e JOIN dist qd ON qd.j = e.j AND qd.c = e.code
              |  JOIN cells cl ON cl.neighbor_id = e.vid
              |  JOIN probes pr ON pr.query_id = qd.vid AND pr.cell = cl.cell
              |  WHERE qd.vid < 8 AND e.vid <> qd.vid
              |  GROUP BY 1, 2),
              |rk AS (SELECT query_id, neighbor_id, approx_dist,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY approx_dist, neighbor_id) AS pq_rank
              |  FROM adc)
              |SELECT query_id, neighbor_id, pq_rank, approx_dist FROM rk
              |WHERE pq_rank <= 5 ORDER BY query_id, pq_rank""".stripMargin)),

    // Multimodal metadata over REAL containers: each doc synthesizes a
    // genuine media file from doc_id-derived parameters — a 24-bit BMP
    // (doc_id%3=0), a canonical PCM WAV (=1), or a binary P6 PPM (=2),
    // all built as hex strings → unhex so the ORACLE constructs the
    // byte-identical blob. The engine side parses the BINARY with the
    // real header parsers (MediaContainers via the native media_meta
    // expression: magic sniff, LE field reads, RIFF chunk walk); the
    // oracle re-parses the SAME BYTES relationally — byte i extracted as
    // CAST('0x'||substr(hex(media),2i-1,2) AS INT) for the LE integer
    // fields, regex over the decoded ASCII header for PPM — so the
    // width/height/n_frames comparison is parser-vs-parser over one
    // blob, not formula-vs-formula. Checksum is md5 over the blob's hex
    // form (DuckDB md5 cannot take a BLOB; hex() round-trips the bytes
    // on both engines, uppercase in both).
    "q32_media_meta" -> Q(
      (s, d) => {
        import graft.multimodal.MultimodalOps
        def le32(v: String) = s"format_string('%02x%02x%02x%02x', $v & 255, " +
          s"shiftright($v, 8) & 255, shiftright($v, 16) & 255, shiftright($v, 24) & 255)"
        def le16(v: String) = s"format_string('%02x%02x', $v & 255, shiftright($v, 8) & 255)"
        val staged = docs(s, d).select(col("doc_id"),
          expr("1 + doc_id % 64").as("bw"),
          expr("1 + (doc_id * 7) % 48").as("bh"),
          expr("1 + (doc_id * 3) % 80").as("pw"),
          expr("1 + (doc_id * 11) % 60").as("ph"),
          expr("1 + doc_id % 2").as("ch"),
          expr("8000 + (doc_id % 8) * 500").as("rate"),
          expr("16 + doc_id % 64").as("frames"),
          expr("1 + (doc_id * 5) % 100").as("gw"),
          expr("1 + (doc_id * 13) % 70").as("gh"))
          .withColumn("img_size", expr("(bw * 3 + (4 - (bw * 3) % 4) % 4) * bh"))
          .withColumn("data_size", expr("frames * ch * 2"))
        val bmpHex = s"concat('424d', ${le32("(54 + img_size)")}, '00000000', " +
          s"${le32("54")}, ${le32("40")}, ${le32("bw")}, ${le32("bh")}, " +
          s"${le16("1")}, ${le16("24")}, ${le32("0")}, ${le32("img_size")}, " +
          s"${le32("2835")}, ${le32("2835")}, ${le32("0")}, ${le32("0")}, " +
          "repeat('00', CAST(img_size AS INT)))"
        val wavHex = s"concat('52494646', ${le32("(36 + data_size)")}, " +
          s"'57415645', '666d7420', ${le32("16")}, ${le16("1")}, ${le16("ch")}, " +
          s"${le32("rate")}, ${le32("(rate * ch * 2)")}, ${le16("(ch * 2)")}, " +
          s"${le16("16")}, '64617461', ${le32("data_size")}, " +
          "repeat('00', CAST(data_size AS INT)))"
        val ppmHex = "concat(hex(concat('P6', chr(10), pw, ' ', ph, chr(10), " +
          "'255', chr(10))), repeat('00', CAST(pw * ph * 3 AS INT)))"
        // header-only GIF (signature + LE16 logical-screen dims + 3
        // header bytes): the metadata tier reads exactly this much
        val gifHex = s"concat('474946383961', ${le16("gw")}, ${le16("gh")}, '000000')"
        val withMedia = staged.withColumn("media", expr(
          s"unhex(CASE WHEN doc_id % 4 = 0 THEN $bmpHex " +
            s"WHEN doc_id % 4 = 1 THEN $wavHex " +
            s"WHEN doc_id % 4 = 2 THEN $ppmHex ELSE $gifHex END)"))
        val meta = MultimodalOps.decodeMetaColumns(col("media"))
        withMedia.select(col("doc_id"), meta(0), meta(1), meta(2), meta(3),
            meta(4), md5(hex(col("media"))).as("checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH params AS (
             |  SELECT doc_id,
             |         1 + doc_id % 64 AS bw, 1 + (doc_id * 7) % 48 AS bh,
             |         1 + (doc_id * 3) % 80 AS pw, 1 + (doc_id * 11) % 60 AS ph,
             |         1 + doc_id % 2 AS ch, 8000 + (doc_id % 8) * 500 AS rate,
             |         16 + doc_id % 64 AS frames,
             |         1 + (doc_id * 5) % 100 AS gw, 1 + (doc_id * 13) % 70 AS gh
             |  FROM documents),
             |sized AS (
             |  SELECT *, (bw * 3 + (4 - (bw * 3) % 4) % 4) * bh AS img_size,
             |         frames * ch * 2 AS data_size
             |  FROM params),
             |blobs AS (
             |  SELECT doc_id, unhex(CASE
             |    WHEN doc_id % 4 = 0 THEN
             |      '424d' ||
             |      printf('%02x%02x%02x%02x', (54 + img_size) & 255, ((54 + img_size) >> 8) & 255,
             |        ((54 + img_size) >> 16) & 255, ((54 + img_size) >> 24) & 255) ||
             |      '00000000' || '36000000' || '28000000' ||
             |      printf('%02x%02x%02x%02x', bw & 255, (bw >> 8) & 255, (bw >> 16) & 255, (bw >> 24) & 255) ||
             |      printf('%02x%02x%02x%02x', bh & 255, (bh >> 8) & 255, (bh >> 16) & 255, (bh >> 24) & 255) ||
             |      '0100' || '1800' || '00000000' ||
             |      printf('%02x%02x%02x%02x', img_size & 255, (img_size >> 8) & 255, (img_size >> 16) & 255, (img_size >> 24) & 255) ||
             |      '130b0000' || '130b0000' || '00000000' || '00000000' ||
             |      repeat('00', CAST(img_size AS INT))
             |    WHEN doc_id % 4 = 1 THEN
             |      '52494646' ||
             |      printf('%02x%02x%02x%02x', (36 + data_size) & 255, ((36 + data_size) >> 8) & 255,
             |        ((36 + data_size) >> 16) & 255, ((36 + data_size) >> 24) & 255) ||
             |      '57415645' || '666d7420' || '10000000' || '0100' ||
             |      printf('%02x%02x', ch & 255, (ch >> 8) & 255) ||
             |      printf('%02x%02x%02x%02x', rate & 255, (rate >> 8) & 255, (rate >> 16) & 255, (rate >> 24) & 255) ||
             |      printf('%02x%02x%02x%02x', (rate * ch * 2) & 255, ((rate * ch * 2) >> 8) & 255,
             |        ((rate * ch * 2) >> 16) & 255, ((rate * ch * 2) >> 24) & 255) ||
             |      printf('%02x%02x', (ch * 2) & 255, ((ch * 2) >> 8) & 255) ||
             |      '1000' || '64617461' ||
             |      printf('%02x%02x%02x%02x', data_size & 255, (data_size >> 8) & 255, (data_size >> 16) & 255, (data_size >> 24) & 255) ||
             |      repeat('00', CAST(data_size AS INT))
             |    WHEN doc_id % 4 = 2 THEN
             |      hex('P6' || chr(10) || pw || ' ' || ph || chr(10) || '255' || chr(10)) ||
             |      repeat('00', CAST(pw * ph * 3 AS INT))
             |    ELSE
             |      '474946383961' ||
             |      printf('%02x%02x', gw & 255, (gw >> 8) & 255) ||
             |      printf('%02x%02x', gh & 255, (gh >> 8) & 255) ||
             |      '000000'
             |    END) AS media
             |  FROM sized),
             |hexed AS (
             |  SELECT doc_id, media, hex(media) AS hs,
             |    CASE WHEN substr(hex(media), 1, 4) = '424D' THEN 'bmp'
             |         WHEN substr(hex(media), 1, 4) = '5036' THEN 'ppm'
             |         WHEN substr(hex(media), 1, 8) = '47494638' THEN 'gif'
             |         WHEN substr(hex(media), 1, 8) = '52494646'
             |              AND substr(hex(media), 17, 8) = '57415645' THEN 'wav'
             |         ELSE 'unknown' END AS format
             |  FROM blobs),
             |parsed AS (
             |  SELECT doc_id, format,
             |    CAST(octet_length(media) AS BIGINT) AS byte_len,
             |    TRY_CAST('0x' || substr(hs, 2*19-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*20-1, 2) AS BIGINT)
             |      + 65536 * TRY_CAST('0x' || substr(hs, 2*21-1, 2) AS BIGINT)
             |      + 16777216 * TRY_CAST('0x' || substr(hs, 2*22-1, 2) AS BIGINT) AS bmp_w,
             |    TRY_CAST('0x' || substr(hs, 2*23-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*24-1, 2) AS BIGINT)
             |      + 65536 * TRY_CAST('0x' || substr(hs, 2*25-1, 2) AS BIGINT)
             |      + 16777216 * TRY_CAST('0x' || substr(hs, 2*26-1, 2) AS BIGINT) AS bmp_h,
             |    TRY_CAST('0x' || substr(hs, 2*33-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*34-1, 2) AS BIGINT) AS wav_block,
             |    TRY_CAST('0x' || substr(hs, 2*41-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*42-1, 2) AS BIGINT)
             |      + 65536 * TRY_CAST('0x' || substr(hs, 2*43-1, 2) AS BIGINT)
             |      + 16777216 * TRY_CAST('0x' || substr(hs, 2*44-1, 2) AS BIGINT) AS wav_data,
             |    CASE WHEN format = 'ppm' THEN CAST(regexp_extract(decode(media),
             |      'P6\n(\d+) (\d+)\n255\n', 1) AS BIGINT) END AS ppm_w,
             |    CASE WHEN format = 'ppm' THEN CAST(regexp_extract(decode(media),
             |      'P6\n(\d+) (\d+)\n255\n', 2) AS BIGINT) END AS ppm_h,
             |    TRY_CAST('0x' || substr(hs, 2*7-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*8-1, 2) AS BIGINT) AS gif_w,
             |    TRY_CAST('0x' || substr(hs, 2*9-1, 2) AS BIGINT)
             |      + 256 * TRY_CAST('0x' || substr(hs, 2*10-1, 2) AS BIGINT) AS gif_h,
             |    md5(hs) AS checksum
             |  FROM hexed)
             |SELECT doc_id, byte_len, format,
             |  CAST(CASE WHEN format = 'bmp' THEN bmp_w
             |            WHEN format = 'ppm' THEN ppm_w
             |            WHEN format = 'gif' THEN gif_w END AS INT) AS width,
             |  CAST(CASE WHEN format = 'bmp' THEN bmp_h
             |            WHEN format = 'ppm' THEN ppm_h
             |            WHEN format = 'gif' THEN gif_h END AS INT) AS height,
             |  CAST(CASE WHEN format = 'wav' THEN wav_data // wav_block
             |            ELSE 1 END AS BIGINT) AS n_frames,
             |  checksum
             |FROM parsed ORDER BY doc_id""".stripMargin)),

    // TF-IDF-style salient-term extraction: rank each document's terms by
    // rarity-weighted frequency. The weight is tf/df — a pure ratio of
    // exact integer counts (one IEEE division, bit-identical across
    // engines), monotone in tf and in 1/df like classic tf-idf but with no
    // transcendental whose last-ulp could differ between libm builds.
    // Shape at 100 TB: tokenize → two hash aggregations (doc-term, term) →
    // shuffle join on term → per-doc top-k window (WindowGroupLimit).
    "q61_tfidf_terms" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tokens = docs(s, d).select(
          col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        tf.join(dfreq, "term")
          .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select("doc_id", "rnk", "term", "tf", "df")
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |ranked AS (
             |  SELECT doc_id, term, tf, df,
             |         row_number() OVER (PARTITION BY doc_id
             |           ORDER BY (CAST(tf AS DOUBLE)/CAST(df AS DOUBLE)) DESC, term) AS rnk
             |  FROM tf JOIN df USING (term))
             |SELECT doc_id, rnk, term, tf, df FROM ranked
             |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // Unigram-commonness quality score: the corpus-wide document frequency
    // of a doc's tokens, averaged per token occurrence. Low mean-df flags
    // gibberish/rare-vocabulary docs, high flags boilerplate — the cheap
    // statistical cousin of LM-perplexity filtering, and fully exact: the
    // sums are integers, the mean is one IEEE division.
    "q62_unigram_quality" -> Q(
      (s, d) => {
        val tokens = docs(s, d).select(
          col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(dfreq, "term")
          .groupBy("doc_id")
          .agg(
            sum(col("tf") * col("df")).as("sum_df"),
            sum(col("tf")).as("n_tokens"))
          .withColumn("mean_df",
            col("sum_df").cast("double") / col("n_tokens").cast("double"))
          .select("doc_id", "n_tokens", "sum_df", "mean_df")
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
             |-- BIGINT casts are load-bearing: DuckDB integer sum() yields
             |-- HUGEINT, which pandas renders as float64 ("32.0" vs "32").
             |SELECT doc_id,
             |       CAST(sum(tf) AS BIGINT) AS n_tokens,
             |       CAST(sum(tf*df) AS BIGINT) AS sum_df,
             |       CAST(sum(tf*df) AS DOUBLE)/CAST(sum(tf) AS DOUBLE) AS mean_df
             |FROM tf JOIN df USING (term)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Repeated-span profile: what fraction of a document's positional
    // word-8-grams occur elsewhere in the corpus (again in the same doc
    // or in any other) — the signal substring-level dedup (à la
    // deduplicate-text-datasets) cuts on. Shape at 100 TB: one narrow
    // md5-keyed aggregation over exploded grams (32-byte shuffle key, two-
    // phase combine) + one join back — no pairwise work at all, unlike
    // the near-dup queries. <8-token docs contribute their whole text as
    // one gram (the WordShingles kernel contract).
    "q83_dup_spans" -> Q(
      (s, d) => {
        val pos = docs(s, d).select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("text"), 8)).as("g"))
          .select(col("doc_id"), md5(col("g")).as("f"))
        val occ = pos.groupBy("f").agg(count(lit(1)).as("n_occ"))
        val perDoc = pos.join(occ, "f")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
        docs(s, d).select("doc_id").join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            when(coalesce(col("n_grams"), lit(0L)) === 0, lit(null).cast("double"))
              .otherwise(round(col("n_dup").cast("double") / col("n_grams"), 6))
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |pos AS (SELECT doc_id, md5(unnest(
              |    CASE WHEN len(t) < 8 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 6),
              |                i -> array_to_string(t[i:i+7], ' ')) END)) AS f
              |  FROM tok),
              |occ AS (SELECT f, count(*) AS n_occ FROM pos GROUP BY f),
              |pd AS (SELECT doc_id, count(*) AS n_grams,
              |    sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup
              |  FROM pos JOIN occ USING (f) GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
              |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
              |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN NULL
              |       ELSE round(CAST(pd.n_dup AS DOUBLE) / pd.n_grams, 6) END AS dup_frac
              |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // Benchmark decontamination check: flag corpus documents sharing any
    // distinct word-8-gram with a held-out "benchmark" set (doc_id % 97
    // = 0 stands in for the eval suite). The benchmark side of the join
    // is broadcast — eval suites are dim-table sized next to a 100 TB
    // corpus — so the scan stays shuffle-free.
    "q84_contamination" -> Q(
      (s, d) => {
        val sh = docs(s, d).select(col("doc_id"),
          explode(array_distinct(TextFunctions.wordShingles(col("text"), 8))).as("g"))
        val bench = sh.filter(col("doc_id") % 97 === 0).select("g").distinct()
        val corpus = sh.filter(col("doc_id") % 97 =!= 0)
        val shared = corpus.join(broadcast(bench), Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        docs(s, d).select("doc_id").filter(col("doc_id") % 97 =!= 0)
          .join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            (coalesce(col("n_shared"), lit(0L)) >= 1).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id, list_distinct(
              |    CASE WHEN len(t) < 8 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 6),
              |                i -> array_to_string(t[i:i+7], ' ')) END) AS sh
              |  FROM tok),
              |post AS (SELECT doc_id, unnest(sh) AS g FROM sets),
              |bench AS (SELECT DISTINCT g FROM post WHERE doc_id % 97 = 0),
              |shared AS (SELECT doc_id, count(*) AS n_shared
              |  FROM post JOIN bench USING (g)
              |  WHERE doc_id % 97 <> 0 GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
              |  coalesce(s.n_shared, 0) >= 1 AS contaminated
              |FROM documents d LEFT JOIN shared s USING (doc_id)
              |WHERE d.doc_id % 97 <> 0
              |ORDER BY d.doc_id""".stripMargin)),

    // Fixed-point k-means over the embedding corpus — the "train the IVF
    // codebook" step (q41's centroids are its product in a real
    // pipeline). Quantized integer distances + lowest-id tie-breaks make
    // TRAINING itself replayable, so the oracle checks the whole Lloyd
    // loop, not just a final shape.
    "q85_kmeans" -> Q(
      (s, d) => graft.llm.Clustering
        .kmeans(emb(s, d), "vec_id", "embedding", k = 8, iters = 1)
        .orderBy("vec_id"),
      Some(s"""WITH $kmeansCtes
              |SELECT vec_id, CAST(c AS BIGINT) AS cluster, CAST(d AS BIGINT) AS dist_sq
              |FROM a1 ORDER BY vec_id""".stripMargin)),

    // Incremental dedup: a new batch (doc_id >= 250) deduplicates against
    // the already-ingested corpus (doc_id < 250) — survivor = first
    // occurrence within the batch whose content fingerprint is absent
    // from history. The anti-join probes on the 32-byte md5, never the
    // text, and history arrives pre-deduplicated in a real pipeline, so
    // at 100 TB this is one fingerprint shuffle join per ingest.
    "q87_dedup_incremental" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = docs(s, d).withColumn("fp",
          coalesce(TextFunctions.fingerprint(col("text")), lit("<null>")))
        val hist = f.filter(col("doc_id") < 250).select("fp").distinct()
        val batch = f.filter(col("doc_id") >= 250)
          .withColumn("rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("rn") === 1)
        batch.join(hist, Seq("fp"), "left_anti")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH f AS (SELECT doc_id, lang, source, n_chars,
              |    coalesce(md5($normSql), '<null>') AS fp FROM documents),
              |surv AS (SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |    FROM f WHERE doc_id >= 250) t WHERE rn = 1)
              |SELECT doc_id, lang, source, n_chars FROM surv
              |WHERE NOT EXISTS (SELECT 1 FROM f h
              |                  WHERE h.doc_id < 250 AND h.fp = surv.fp)
              |ORDER BY doc_id""".stripMargin)),

    // Token-budget mixture selection: per language, greedily keep the
    // largest documents (n_chars desc, doc_id tie-break) until a 3000-
    // token budget is exhausted — the data-mixture step that turns a
    // filtered corpus into a training set with per-source/language
    // quotas. One window cumsum per stratum; no shuffle beyond the
    // partitionBy.
    "q88_token_mix" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang")
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, d)
          .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .filter(col("cum_tokens") <= 3000)
          .select("lang", "doc_id", "n_tokens", "cum_tokens")
          .orderBy("lang", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang, n_chars,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
             |      AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT lang, doc_id, n_tokens,
             |    CAST(sum(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tokens
             |  FROM t)
             |SELECT lang, doc_id, n_tokens, cum_tokens FROM c
             |WHERE cum_tokens <= 3000
             |ORDER BY lang, doc_id""".stripMargin)),

    // Bottom-k coordinated sample per language stratum, via the custom
    // typed Aggregator (operators.Sketches.BottomKAgg): the k smallest
    // md5-hash values of the doc ids form a fixed-size MERGEABLE uniform
    // sample — per-split partials union with no second pass, and the
    // portable hash (md5 prefix) lets the oracle replay the exact sample
    // with a window. This is the deterministic "sample 5 docs per
    // language from 100 TB" primitive.
    "q92_bottomk_sample" -> Q(
      (s, d) => {
        val bottomK = udaf(graft.operators.Sketches.BottomKAgg(5))
        docs(s, d)
          .select(col("lang"),
            substring(md5(col("doc_id").cast("string")), 1, 16).as("ord"),
            col("doc_id"))
          .groupBy("lang")
          .agg(bottomK(col("ord"), col("doc_id")).as("sample"))
          .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
          .select(col("lang"), (col("pos") + 1).cast("long").as("rn"), col("doc_id"))
          .orderBy("lang", "rn")
      },
      Some("""WITH h AS (SELECT lang, doc_id,
             |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS ord
             |  FROM documents),
             |r AS (SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang ORDER BY ord, doc_id) AS rn
             |  FROM h)
             |SELECT lang, rn, doc_id FROM r WHERE rn <= 5
             |ORDER BY lang, rn""".stripMargin)),

    // Training-window chunking: split each document into 50-token chunks
    // with stride 40 (10-token overlap) — the tokenize→window step that
    // turns a filtered corpus into model-ready sequences. A start
    // position is emitted only if the previous window didn't already
    // cover the whole doc, so short tails aren't duplicated. Pure
    // array-lambda plan: one projection + explode, no shuffle, no UDF.
    "q97_chunking" -> Q(
      (s, d) => {
        val chunk = 50
        val stride = 40
        val t = TextFunctions.tokens(TextFunctions.normalized(col("text")))
        val starts = when(size(col("t")) === 0, array().cast("array<int>"))
          .otherwise(filter(
            sequence(lit(0), size(col("t")) - 1, lit(stride)),
            st => st === 0 || st - stride + chunk < size(col("t"))))
        docs(s, d)
          .withColumn("t", t)
          .withColumn("st", explode(starts))
          .select(col("doc_id"),
            (col("st") / stride).cast("long").as("chunk_id"),
            size(slice(col("t"), col("st") + 1, lit(chunk))).cast("long")
              .as("n_tokens_chunk"),
            concat_ws(" ", slice(col("t"), col("st") + 1, lit(chunk)))
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id,
              |    CASE WHEN nm = '' THEN [] ELSE string_split(nm, ' ') END AS t
              |  FROM nrm),
              |st AS (SELECT doc_id, t, unnest(list_filter(
              |    range(0, len(t), 40),
              |    st -> st = 0 OR st - 40 + 50 < len(t))) AS st
              |  FROM tok)
              |SELECT doc_id,
              |  st // 40 AS chunk_id,
              |  len(t[st+1 : st+50]) AS n_tokens_chunk,
              |  array_to_string(t[st+1 : st+50], ' ') AS chunk_text
              |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),

    // Semantic (cluster-pruned) embedding near-dup: k-means cells bound
    // the candidate pairs, exact rounded cosine decides — LSH-bucket
    // economics with data-adaptive buckets. Deterministic training (q85)
    // makes even the misses a fixed object, so this replays fully in the
    // oracle. Recall vs the exact q30 pair set is pinned in
    // ClusteringSpec.
    "q90_semantic_neardup" -> Q(
      (s, d) => graft.llm.Clustering
        .nearDupPairsClustered(emb(s, d), "vec_id", "embedding",
          threshold = 0.4, k = 8, iters = 1)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $kmeansCtes,
              |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.c AS cluster
              |  FROM a1 a JOIN a1 b ON a.c = b.c AND a.vec_id < b.vec_id),
              |sc AS (SELECT id_a, id_b, CAST(cluster AS BIGINT) AS cluster,
              |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
              |                                 CAST(eb.embedding AS DOUBLE[])), 6) AS sim
              |  FROM pairs JOIN embeddings ea ON ea.vec_id = id_a
              |             JOIN embeddings eb ON eb.vec_id = id_b)
              |SELECT id_a, id_b, cluster, sim FROM sc WHERE sim >= 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    // Winnowed-fingerprint near-dup pairs — "document fingerprinting
    // (rolling hash)" as a first-class dedup path: Rabin-Karp poly-hash
    // per shingle (PORTABLE int64 arithmetic, so the oracle replays the
    // hashes bit-for-bit — unlike xxhash64), MOSS winnowing keeps the
    // min hash per 4-shingle window (~1/4 of the hashes, with a shared-
    // run guarantee), and docs meet through a posting join on shared
    // fingerprints with a stop-fingerprint df cutoff — never all-pairs.
    "q102_winnow_pairs" -> Q(
      (s, d) => {
        val post = docs(s, d)
          .select(col("doc_id"),
            explode(TextFunctions.winnowedFingerprints(col("text"))).as("f"))
        val keep = post.groupBy("f").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50).select("f")
        val pk = post.join(keep, "f")
        pk.as("a")
          .join(pk.as("b"),
            col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared_fps"))
          .filter(col("shared_fps") >= 2)
          .orderBy(col("shared_fps").desc, col("id_a"), col("id_b"))
          .limit(50)
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id,
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    END AS sh
              |  FROM tok),
              |hs AS (SELECT doc_id, list_transform(sh, s ->
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(range(1, len(s)+1),
              |          i -> CAST(ascii(s[i]) AS BIGINT))),
              |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS h
              |  FROM sets),
              |fp AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(h) - 3, 1) + 1),
              |    j -> list_min(h[j : j + 3]))) AS fps
              |  FROM hs),
              |post AS (SELECT doc_id, unnest(fps) AS f FROM fp),
              |keep AS (SELECT f FROM post GROUP BY f HAVING count(*) <= 50),
              |pk AS (SELECT p.doc_id, p.f FROM post p JOIN keep k ON p.f = k.f),
              |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    count(*) AS shared_fps
              |  FROM pk a JOIN pk b ON a.f = b.f AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT id_a, id_b, shared_fps FROM pairs
              |ORDER BY shared_fps DESC, id_a, id_b LIMIT 50""".stripMargin)),

    // INCREMENTAL winnow-fingerprint near-dup through the persisted
    // index (the q102 computation as an ingest-time operation, like
    // q87's exact path and the MinHash index): history (doc_id < 250)
    // is indexed once, the new batch joins its postings against it, and
    // the df stop-fingerprint cutoff is evaluated over index ∪ batch —
    // so the oracle is simply the FULL-corpus run restricted to pairs
    // touching the batch, with identical shared_fps counts. Parity is
    // exact by construction, not sampled (WinnowIndexSpec pins it too).
    "q105_winnow_incremental" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q105-wnidx")
        val all = docs(s, d)
        graft.llm.WinnowIndex.build(
          all.filter(col("doc_id") < 250), s"$dir/idx", "doc_id", "text")
        graft.llm.WinnowIndex.incrementalPairs(
            s, s"$dir/idx", all.filter(col("doc_id") >= 250), "doc_id", "text")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id,
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    END AS sh
              |  FROM tok),
              |hs AS (SELECT doc_id, list_transform(sh, s ->
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(range(1, len(s)+1),
              |          i -> CAST(ascii(s[i]) AS BIGINT))),
              |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS h
              |  FROM sets),
              |fp AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(h) - 3, 1) + 1),
              |    j -> list_min(h[j : j + 3]))) AS fps
              |  FROM hs),
              |post AS (SELECT doc_id, unnest(fps) AS f FROM fp),
              |keep AS (SELECT f FROM post GROUP BY f HAVING count(*) <= 50),
              |pk AS (SELECT p.doc_id, p.f FROM post p JOIN keep k ON p.f = k.f),
              |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    count(*) AS shared_fps
              |  FROM pk a JOIN pk b ON a.f = b.f AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT id_a, id_b, shared_fps FROM pairs
              |WHERE id_a >= 250 OR id_b >= 250
              |ORDER BY id_a, id_b""".stripMargin)),

    // STREAMING near-dup ingest — the dedup-at-ingest flagship: the
    // corpus arrives as two REAL microbatches (StreamOps.replayFiles)
    // and foreachBatch maintains the persisted winnow index — batch 1 builds it, batch 2
    // probes it (incrementalPairs = new-vs-indexed ∪ new-vs-new) and
    // appends. The output is the ingest decision per arriving doc:
    // partner counts against history and within the batch, plus a kept
    // flag (pairwise smallest-id-survives rule — the transitive-closure
    // variant is q42/q43's CC). The df stop-fingerprint cutoff runs
    // over index ∪ batch, which for this two-batch split equals the
    // full corpus, so the oracle replays the ENTIRE winnow scheme
    // relationally (portable Rabin-Karp hashes) and the decisions are
    // hash-exact, not spot-checked.
    "q153_stream_neardup_ingest" -> Q(
      (s, d) => {
        import graft.llm.WinnowIndex
        val root = graft.queries.Scratch.dir("graft-q153-sni")
        val all = docs(s, d).select(col("doc_id"), col("text"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 250)))
        StreamOps.drain(stream, s"$root/ck") { (b, _) =>
          val idx = s"$root/idx"
          if (graft.llm.IndexLog.read(idx).latestVersion.isEmpty) {
            WinnowIndex.build(b, idx, "doc_id", "text")
          } else {
            WinnowIndex.incrementalPairs(s, idx, b, "doc_id", "text")
              .write.mode("append").parquet(s"$root/pairs")
            WinnowIndex.append(b, idx, "doc_id", "text")
          }
        }
        // a corpus that fits entirely in batch 1 (tiny fixtures) never
        // probes, so the pairs table may not exist
        val pairs =
          if (new java.io.File(s"$root/pairs").exists())
            Parquet.read(s, s"$root/pairs")
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "id_a LONG, id_b LONG, shared_fps LONG"))
        val partners = pairs
          .select(col("id_a").as("doc_id"), col("id_b").as("partner"))
          .unionByName(pairs
            .select(col("id_b").as("doc_id"), col("id_a").as("partner")))
          .filter(col("doc_id") >= 250)
        all.filter(col("doc_id") >= 250).select("doc_id")
          .join(partners, Seq("doc_id"), "left")
          .groupBy("doc_id")
          .agg(
            sum(when(col("partner") < 250, 1L).otherwise(0L))
              .as("n_old_partners"),
            sum(when(col("partner") >= 250, 1L).otherwise(0L))
              .as("n_new_partners"),
            max(when(col("partner") < col("doc_id"), 1L).otherwise(0L))
              .as("has_smaller"))
          .select(col("doc_id"), col("n_old_partners"), col("n_new_partners"),
            (lit(1L) - col("has_smaller")).as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id,
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    END AS sh
              |  FROM tok),
              |hs AS (SELECT doc_id, list_transform(sh, s ->
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(range(1, len(s)+1),
              |          i -> CAST(ascii(s[i]) AS BIGINT))),
              |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS h
              |  FROM sets),
              |fp AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(h) - 3, 1) + 1),
              |    j -> list_min(h[j : j + 3]))) AS fps
              |  FROM hs),
              |post AS (SELECT doc_id, unnest(fps) AS f FROM fp),
              |keep AS (SELECT f FROM post GROUP BY f HAVING count(*) <= 50),
              |pk AS (SELECT p.doc_id, p.f FROM post p JOIN keep k ON p.f = k.f),
              |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM pk a JOIN pk b ON a.f = b.f AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |tp AS (SELECT id_a, id_b FROM pairs
              |       WHERE id_a >= 250 OR id_b >= 250),
              |part AS (SELECT id_a AS doc_id, id_b AS partner FROM tp
              |           WHERE id_a >= 250
              |         UNION ALL
              |         SELECT id_b, id_a FROM tp WHERE id_b >= 250),
              |nd AS (SELECT doc_id FROM documents WHERE doc_id >= 250)
              |SELECT nd.doc_id,
              |  CAST(sum(CASE WHEN partner < 250 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_old_partners,
              |  CAST(sum(CASE WHEN partner >= 250 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_new_partners,
              |  CAST(1 - max(CASE WHEN partner < nd.doc_id THEN 1 ELSE 0 END)
              |    AS BIGINT) AS kept
              |FROM nd LEFT JOIN part ON part.doc_id = nd.doc_id
              |GROUP BY nd.doc_id ORDER BY nd.doc_id""".stripMargin)),

    // INCREMENTAL SimHash near-dup through the persisted banding index
    // (q28's operator as an ingest-time operation): history is banded
    // once, the new batch joins the index on combo keys, candidates are
    // exact-Jaccard verified. The pigeonhole recall guarantee is
    // per-pair — which batch each side arrived in is irrelevant — so the
    // result is exactly the full-corpus q28 pair set restricted to pairs
    // touching the batch, and the oracle is the shared exact-Jaccard CTE
    // chain with that restriction (SimHashIndexSpec pins both the
    // Hamming and Jaccard forms against their full runs).
    "q106_simhash_incremental" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q106-shidx")
        val all = docs(s, d)
        graft.llm.SimHashIndex.build(
          all.filter(col("doc_id") < 250), s"$dir/idx", "doc_id", "text",
          radius = 5, blocks = 8)
        graft.llm.SimHashIndex.incrementalNearDupPairsJaccard(
            s, s"$dir/idx", all.filter(col("doc_id") >= 250), all,
            "doc_id", "text", threshold = 0.5, radius = 5, blocks = 8)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $jaccardPairsCtes
              |SELECT id_a, id_b, jaccard FROM sc
              |WHERE jaccard >= 0.5 AND (id_a >= 250 OR id_b >= 250)
              |ORDER BY id_a, id_b""".stripMargin)),

    // PII detection + redaction — the scrubbing pass every training-data
    // pipeline runs before anything else sees the text. The corpus is
    // synthetic (no real PII), so deterministic email/phone strings are
    // INJECTED from doc_id first on both engines, then detected
    // (regexp_extract_all count) and redacted (global regexp_replace) —
    // the operator is exercised against known-positive text, not
    // vacuously green on a clean corpus. Patterns stay inside the
    // Java-regex / RE2 common subset; DuckDB needs the 'g' flag where
    // Spark's regexp_replace is global by default.
    "q107_pii_redaction" -> Q(
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{4}"
        val withPii = docs(s, d).select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id"), lit("@example.com or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
            .as("txt"))
        // function form, not expr(): a SQL string literal would re-process
        // the regex's backslash escapes ('\+' collapses to a dangling '+')
        withPii.select(
            col("doc_id"),
            size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            regexp_replace(
              regexp_replace(col("txt"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("redacted"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |    text || ' contact u' || doc_id || '@example.com or +1-555-' ||
             |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(txt,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(txt, '\+1-555-[0-9]{4}', 0)) AS BIGINT)
             |    AS n_phones,
             |  regexp_replace(regexp_replace(txt,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
             |FROM w ORDER BY doc_id""".stripMargin)),

    // Malformed-record robustness: ingest JSON where a deterministic
    // subset (event_id % 7 = 0) is truncated mid-object, parse
    // PERMISSIVEly with an explicit corrupt-record column (from_json
    // never fails a task: a malformed row surfaces as all-null data
    // fields plus the raw text in the corrupt column), and account for
    // every record: corrupt counts, valid counts, and an aggregate over
    // only the valid rows. The dirty input is built identically on both
    // engines; DuckDB gates extraction on json_valid. The accounting
    // shape (total = valid + corrupt per group) is the invariant a
    // 100 TB ingest pipeline alarms on.
    "q108_json_corrupt" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val js = when(pmod(col("event_id"), lit(7)) === 0,
            concat(lit("{\"u\":"), col("user_id"), lit(",")))
          .otherwise(concat(lit("{\"u\":"), col("user_id"),
            lit(",\"t\":\""), col("event_type"), lit("\"}")))
        val schema = org.apache.spark.sql.types.StructType
          .fromDDL("u LONG, t STRING, _corrupt STRING")
        ev.select(col("event_type"), js.as("js"))
          .select(col("event_type"),
            from_json(col("js"), schema,
              Map("columnNameOfCorruptRecord" -> "_corrupt")).as("p"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(col("p._corrupt").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            sum(when(col("p._corrupt").isNull, 1L).otherwise(0L))
              .as("n_valid"),
            sum(when(col("p._corrupt").isNull, col("p.u"))).as("sum_valid_u"))
          .orderBy("event_type")
      },
      Some("""WITH w AS (SELECT event_type,
             |    CASE WHEN event_id % 7 = 0
             |         THEN '{"u":' || user_id || ','
             |         ELSE '{"u":' || user_id || ',"t":"' || event_type || '"}'
             |    END AS js
             |  FROM events)
             |SELECT event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CASE WHEN NOT json_valid(js) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_corrupt,
             |  CAST(sum(CASE WHEN json_valid(js) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_valid,
             |  CAST(sum(CASE WHEN json_valid(js)
             |       THEN CAST(json_extract_string(js, '$.u') AS BIGINT) END) AS BIGINT)
             |    AS sum_valid_u
             |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Map higher-order functions (q74 covers the array lambdas, q78 the
    // map basics): transform_values, map_filter, transform_keys,
    // map_zip_with — all executed inside the engine on a per-row map.
    // Arithmetic sticks to binary-exact ops (/16, *2, +) so every
    // extracted scalar is bit-identical across engines with no rounding
    // hazard; the oracle replays the SEMANTICS of each lambda as plain
    // arithmetic. Final projection is scalar-only as usual.
    "q109_map_lambdas" -> Q(
      (s, d) => {
        val m = map(lit("base"), col("o_totalprice"),
          lit("tax"), col("o_totalprice") / 16)
        Tables.orders(s, d).select(
            col("o_orderkey"),
            element_at(transform_values(m, (_, v) => v * 2), "tax")
              .as("tax_x2"),
            size(map_filter(m, (_, v) => v > 100000.0)).cast("long")
              .as("n_big"),
            array_join(map_keys(transform_keys(m, (k, _) => upper(k))), ",")
              .as("keys_upper"),
            element_at(map_zip_with(m, m, (_, v1, v2) => v1 + v2), "base")
              .as("base_sum"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  (o_totalprice / 16) * 2 AS tax_x2,
             |  CAST((CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END)
             |     + (CASE WHEN o_totalprice / 16 > 100000.0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_big,
             |  'BASE,TAX' AS keys_upper,
             |  o_totalprice + o_totalprice AS base_sum
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Image feature extraction over RAW RGB888 bytes — the multimodal
    // tier's oracle row: per-doc bitmaps are synthesized AS BYTES on the
    // executors (the post-decode form a codec hands over), the per-channel
    // mean kernel walks the actual byte buffer in a typed map, and the
    // oracle replays the whole thing relationally because the synthesis
    // pattern is modular arithmetic ((id*31 + 7x + 13y) mod 256 etc.).
    // Sum-of-ints / 192.0 is one exact IEEE division on both engines.
    "q110_image_channel_stats" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.MultimodalOps
        val imgs = docs(s, d).select(col("doc_id")).as[Long]
          .map(id => MultimodalOps.RawImage(id, 16, 12,
            MultimodalOps.synthBitmap(id, 16, 12)))
        MultimodalOps.channelStats(imgs)
          .toDF()
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT d.doc_id, x.x, y.y
             |  FROM documents d, range(0, 16) x(x), range(0, 12) y(y))
             |SELECT doc_id,
             |  CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS DOUBLE)/192.0 AS mean_r,
             |  CAST(sum((doc_id*17 + x*3 + y*11) % 256) AS DOUBLE)/192.0 AS mean_g,
             |  CAST(sum((doc_id*23 + x*5 + y*19) % 256) AS DOUBLE)/192.0 AS mean_b
             |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Audio feature extraction over raw 16-bit LE PCM — q110's audio
    // twin: clips synthesized AS BYTES on executors, samples decoded
    // from the byte pairs in the kernel, energy (mean square — no
    // transcendental), signed zero-crossings, peak magnitude. The
    // synthesis is modular arithmetic so DuckDB replays the decode and
    // every feature relationally (lag window for the crossings).
    "q111_audio_features" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.MultimodalOps
        val clips = docs(s, d).select(col("doc_id")).as[Long]
          .map(id => MultimodalOps.RawAudio(id, MultimodalOps.synthPcm(id, 256)))
        MultimodalOps.audioFeatures(clips)
          .toDF()
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH smp AS (SELECT d.doc_id, i.i,
             |    (d.doc_id*7 + i.i*3) % 512 - 256 AS s
             |  FROM documents d, range(0, 256) i(i)),
             |lagged AS (SELECT doc_id, i, s,
             |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps
             |  FROM smp)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_samples,
             |  CAST(sum(s*s) AS DOUBLE)/256.0 AS mean_square,
             |  CAST(sum(CASE WHEN ps IS NOT NULL AND s * ps < 0
             |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
             |  CAST(max(abs(s)) AS BIGINT) AS peak
             |FROM lagged GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Audio resampling (q111's DSP sibling): 256-sample 16-bit clips
    // linear-resampled 8000 Hz -> 6000 Hz by the exact-integer kernel
    // (MultimodalOps.resamplePcmLinear — interpolation in the shifted
    // non-negative u-domain, one floor division per sample), then
    // per-clip features over the RESAMPLED bytes. The oracle replays
    // position arithmetic, interpolation, and features relationally —
    // truncate-vs-floor division can't diverge because every numerator
    // is non-negative by construction.
    "q187_audio_resample" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.MultimodalOps
        val clips = docs(s, d).select(col("doc_id")).as[Long]
          .map(id => MultimodalOps.RawAudio(id, MultimodalOps.synthPcm(id, 256)))
        MultimodalOps.resamplePcmLinear(clips, srIn = 8000, srOut = 6000)
          .map { a =>
            val n = a.pcm.length / 2
            var sum = 0L
            var peak = 0L
            var first = 0
            var last = 0
            var i = 0
            while (i < n) {
              val v = ((((a.pcm(i * 2 + 1) & 0xff) << 8) |
                (a.pcm(i * 2) & 0xff)).toShort).toInt
              sum += v
              if (math.abs(v) > peak) peak = math.abs(v)
              if (i == 0) first = v
              if (i == n - 1) last = v
              i += 1
            }
            (a.id, n.toLong, sum, peak, first.toLong, last.toLong)
          }
          .toDF("doc_id", "n_out", "sum_s", "peak_s", "first_s", "last_s")
          .orderBy("doc_id")
      },
      Some("""WITH j AS (SELECT d.doc_id, x.j
             |  FROM documents d, range(0, 192) x(j)),
             |c AS (SELECT doc_id, j, (j*8000) // 6000 AS i,
             |    (j*8000) % 6000 AS r FROM j),
             |u AS (SELECT doc_id, j, r,
             |    (doc_id*7 + i*3) % 512 - 256 + 32768 AS u_i,
             |    (doc_id*7 + (i+1)*3) % 512 - 256 + 32768 AS u_n
             |  FROM c),
             |o AS (SELECT doc_id, j,
             |    CAST((CASE WHEN r = 0 THEN u_i * 6000
             |          ELSE u_i * (6000 - r) + u_n * r END) // 6000 - 32768
             |      AS BIGINT) AS s
             |  FROM u)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_out,
             |  CAST(sum(s) AS BIGINT) AS sum_s,
             |  CAST(max(abs(s)) AS BIGINT) AS peak_s,
             |  CAST(sum(CASE WHEN j = 0 THEN s ELSE 0 END) AS BIGINT)
             |    AS first_s,
             |  CAST(sum(CASE WHEN j = 191 THEN s ELSE 0 END) AS BIGINT)
             |    AS last_s
             |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // HTML -> training-text extraction (the crawl-pipeline pass before
    // any quality gate): wrap each doc in a deterministic page skeleton
    // (head with title/style/script, nav links varying per doc, main
    // <p>, an entity-laden link footer — real pages carry &amp;/&copy;/
    // &#NNN;/&nbsp; into extraction), then run the real extraction —
    // script/style blocks dropped WITH content, tags to spaces,
    // character references DECODED (plans/HtmlUnescapeExpression, the
    // single-pass scanner), whitespace squeezed including the no-break
    // space nbsp decodes to. Patterns live in the Java/RE2 common
    // subset and the entity set is staged, so the oracle replays the
    // extraction verbatim. ORACLE PRECONDITION: the replace chain
    // (&amp; first) equals single-pass semantics only because the
    // corpus text contains no '&' (verified: zero rows at sf0.01/0.1
    // — a doc containing '&amp;copy;' would double-decode in the
    // chain but stay one-level in the engine's single pass);
    // `recovered` pins that main-block extraction returns the original
    // text EXACTLY, and title_text pins decode-after-extract layering
    // (page_title stays RAW — title() itself never decodes).
    "q158_html_extract" -> Q(
      (s, d) => {
        import graft.functions.HtmlFunctions._
        // assert the oracle precondition IN the query: a future corpus
        // regeneration containing '&' would make the oracle's replace
        // chain double-decode ('&amp;copy;' etc.) and the gate would
        // diverge with no signal that the DATA (not the engine) broke
        // — fail fast as a staging error instead. Memoized per corpus
        // FINGERPRINT (file listing, not bare path): the check is a
        // data property, re-scanning on every bench pass would bill a
        // documents count to q158's timing, and an in-place corpus
        // regeneration must invalidate the memo.
        if (ampFreeChecked.add(docsFingerprint(d))) {
          val nAmp = docs(s, d).filter(col("text").contains("&")).count()
          require(nAmp == 0,
            s"q158 oracle precondition violated: $nAmp document(s) " +
              "contain '&' — the DuckDB replace-chain oracle is only " +
              "equivalent to single-pass entity decoding on an " +
              "ampersand-free corpus")
        }
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id"),
          lit(" &#8211; "), col("source"),
          lit("</title><style>.n{c:red}</style><script>var l=\""),
          col("lang"),
          lit("\";</script></head><body><div><a href=\"/\">home</a> "),
          expr("repeat('<a href=\"/t\">tag</a> ', CAST(doc_id % 4 AS INT))"),
          lit("</div><p>"), col("text"),
          lit("</p><div><a href=\"/tos\">terms &amp; conditions</a>" +
            " &copy; corp &#8212;&nbsp;2026</div></body></html>"))
        docs(s, d).select(col("doc_id"), col("text"), html.as("html"))
          .select(
            col("doc_id"),
            title(col("html")).as("page_title"),
            squeeze(decodeEntities(title(col("html")))).as("title_text"),
            linkCount(col("html")).as("n_links"),
            linkTextLen(col("html")).as("link_text_len"),
            length(col("html")).cast("long").as("html_len"),
            length(extractText(col("html"))).cast("long").as("text_len"),
            length(mainBlock(col("html"))).cast("long").as("main_len"),
            (mainBlock(col("html")) === col("text")).as("recovered"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, text,
             |    '<html><head><title>doc ' || doc_id || ' &#8211; ' || source ||
             |    '</title><style>.n{c:red}</style><script>var l="' || lang ||
             |    '";</script></head><body><div><a href="/">home</a> ' ||
             |    repeat('<a href="/t">tag</a> ', CAST(doc_id % 4 AS INT)) ||
             |    '</div><p>' || text || '</p><div><a href="/tos">terms ' ||
             |    '&amp; conditions</a> &copy; corp &#8212;&nbsp;2026' ||
             |    '</div></body></html>' AS html
             |  FROM documents),
             |x AS (SELECT *,
             |    regexp_extract(html, '<title>([^<]*)</title>', 1) AS ttl,
             |    replace(replace(replace(replace(replace(
             |      regexp_replace(regexp_replace(
             |        html, '<(script|style)[^>]*>[\s\S]*?</(script|style)>',
             |          ' ', 'g'), '<[^>]*>', ' ', 'g'),
             |      '&amp;', '&'), '&copy;', chr(169)), '&#8212;', chr(8212)),
             |      '&nbsp;', chr(160)), '&#8211;', chr(8211)) AS decoded
             |  FROM h)
             |SELECT doc_id, ttl AS page_title,
             |  trim(regexp_replace(replace(ttl, '&#8211;', chr(8211)),
             |    '[\s\x{00A0}]+', ' ', 'g')) AS title_text,
             |  CAST(len(regexp_extract_all(html, '<a [^>]*>')) AS BIGINT)
             |    AS n_links,
             |  CAST(length(list_aggregate(
             |    regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1),
             |    'string_agg', '')) AS BIGINT) AS link_text_len,
             |  CAST(length(html) AS BIGINT) AS html_len,
             |  CAST(length(trim(regexp_replace(decoded, '[\s\x{00A0}]+', ' ',
             |    'g'))) AS BIGINT) AS text_len,
             |  CAST(length(regexp_extract(html, '<p>([\s\S]*?)</p>', 1))
             |    AS BIGINT) AS main_len,
             |  (regexp_extract(html, '<p>([\s\S]*?)</p>', 1) = text)
             |    AS recovered
             |FROM x ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + registered-domain rollup (the crawl-dedup
    // key problem): synthesize per-doc URLs exercising every rule —
    // case-varied scheme/host, default AND non-default ports (':443'
    // lands on both https rows, where it drops, and http rows, where it
    // must stay), trailing slashes, utm_* tracking params around a real
    // param, fragments — canonicalize with functions/UrlFunctions
    // (regexp + string algebra, no java.net.URI), and roll up per
    // registered domain: raw URL count vs surviving canonical forms.
    // The oracle replays the full rule set, so n_canonical pins every
    // normalization decision at once; `example` (min canonical form)
    // pins the exact output string.
    "q159_url_normalize" -> Q(
      (s, d) => {
        import graft.functions.UrlFunctions
        val url = concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("https"))
            .otherwise(lit("HTTP")),
          lit("://WWW.Docs."), col("source"), lit(".COM"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(":443"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(":8080"))
            .otherwise(lit("")),
          lit("/Docs/"), pmod(col("doc_id"), lit(100)),
          when(pmod(col("doc_id"), lit(2)) === 1, lit("/"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) < 2,
            concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(50)),
              lit("&utm_campaign=x")))
            .otherwise(concat(lit("?id="), pmod(col("doc_id"), lit(50)))),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("#top"))
            .otherwise(lit("")))
        docs(s, d).select(url.as("url"))
          .select(
            UrlFunctions.registeredDomain(col("url")).as("domain"),
            UrlFunctions.normalize(col("url")).as("norm"))
          .groupBy("domain")
          .agg(
            count(lit(1)).as("n_urls"),
            countDistinct(col("norm")).cast("long").as("n_canonical"),
            min("norm").as("example"))
          .orderBy("domain")
      },
      Some("""WITH u AS (SELECT
             |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) ||
             |    '://WWW.Docs.' || source || '.COM' ||
             |    (CASE WHEN doc_id % 3 = 0 THEN ':443'
             |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
             |    '/Docs/' || (doc_id % 100) ||
             |    (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
             |    (CASE WHEN doc_id % 4 < 2 THEN
             |        '?utm_source=feed&id=' || (doc_id % 50) || '&utm_campaign=x'
             |      ELSE '?id=' || (doc_id % 50) END) ||
             |    (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END) AS url
             |  FROM documents),
             |parts AS (SELECT
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS sch,
             |    regexp_replace(lower(regexp_extract(url,
             |      '^[A-Za-z]+://([^/:?#]+)', 1)), '^www\.', '') AS h,
             |    regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1)
             |      AS prt,
             |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS pth,
             |    array_to_string(list_filter(
             |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
             |      p -> NOT starts_with(p, 'utm_') AND p <> ''), '&') AS cq
             |  FROM u),
             |n AS (SELECT
             |    regexp_extract(h, '([^.]+\.[^.]+)$', 1) AS domain,
             |    sch || '://' || h ||
             |    (CASE WHEN prt = '' THEN ''
             |          WHEN sch = 'https' AND prt = '443' THEN ''
             |          WHEN sch = 'http' AND prt = '80' THEN ''
             |          ELSE ':' || prt END) ||
             |    (CASE WHEN rtrim(pth, '/') = '' THEN '/'
             |          ELSE rtrim(pth, '/') END) ||
             |    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS norm
             |  FROM parts)
             |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             |  CAST(count(DISTINCT norm) AS BIGINT) AS n_canonical,
             |  min(norm) AS example
             |FROM n GROUP BY domain ORDER BY domain""".stripMargin)),

    // Corpus-level boilerplate line removal (the CCNet/C4 pass that runs
    // BEFORE document dedup): wrap each doc in a deterministic line
    // structure — per-source header, global nav line, content chunked 8
    // words per line, per-source footer — then strip every line whose
    // document frequency across the corpus exceeds maxDf=5. Headers/
    // footers (df ≈ docs-per-source) and the nav line (df = all docs)
    // must vanish; content lines survive unless the word-soup corpus
    // genuinely repeats an 8-word chunk in > 5 docs (the operator's
    // honest behavior either way — the oracle replays the same rule).
    // clean_md5 pins the exact reassembled text, byte for byte, in
    // original line order; df counts distinct DOCS (a line repeated
    // inside one doc counts once). Scale shape: one explode + one
    // line-keyed count (map-side combine eats the boilerplate mass), a
    // BROADCAST anti-join (the boilerplate set is small by construction),
    // one per-doc regroup — no corpus self-join (llm/LineDedup.scala).
    "q160_line_dedup" -> Q(
      (s, d) => {
        import graft.llm.LineDedup
        val withLines = docs(s, d).select(col("doc_id"), docLines.as("lines"))
        LineDedup.clean(withLines, "doc_id", col("lines"), maxDf = 5L)
          .select(
            col("doc_id"),
            col("n_lines"),
            col("n_kept"),
            length(col("clean_text")).cast("long").as("clean_len"),
            md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
             |  FROM documents),
             |l AS (SELECT doc_id,
             |    (['== ' || source || ' portal ==', 'home | about | contact']
             |     || list_transform(range((len(w) + 7) // 8),
             |          i -> array_to_string(w[(i*8+1):(i*8+8)], ' '))
             |     || ['(c) ' || source || ' media group']) AS lines
             |  FROM w),
             |ex AS (SELECT doc_id, unnest(range(len(lines))) AS pos,
             |    unnest(lines) AS line FROM l),
             |d AS (SELECT line, count(DISTINCT doc_id) AS df
             |  FROM ex GROUP BY line),
             |kept AS (SELECT ex.doc_id, ex.pos, ex.line
             |  FROM ex JOIN d ON ex.line = d.line WHERE d.df <= 5),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM kept GROUP BY doc_id)
             |SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
             |  COALESCE(a.n_kept, 0) AS n_kept,
             |  CAST(length(COALESCE(a.clean_text, '')) AS BIGINT) AS clean_len,
             |  md5(COALESCE(a.clean_text, '')) AS clean_md5
             |FROM l LEFT JOIN agg a ON l.doc_id = a.doc_id
             |ORDER BY l.doc_id""".stripMargin)),

    // Bigram-LM surprisal scoring — the exact-integer cousin of CCNet's
    // KenLM-perplexity quality filter: score each doc by the bits needed
    // to predict each token from its predecessor under the corpus's OWN
    // bigram distribution (gibberish scores high, boilerplate low).
    // Per-bigram bits = floor(log2(c_x / c_xy)) with NO log(): for
    // q = c_x div c_xy >= 1 the ratio lies in [q, q+1), which never
    // crosses a power of two, so the floor-log2 is bitlength(q)-1 =
    // length(bin(q))-1 — exact in both engines (llm/BigramLm.scala).
    // Self-scoring means every bigram was observed (c_xy >= 1): no
    // smoothing needed. One lead() window + two count shuffles + a
    // bigram-keyed join; no corpus self-join.
    "q161_bigram_surprisal" -> Q(
      (s, d) => {
        import graft.llm.BigramLm
        BigramLm.surprisal(docs(s, d), "doc_id", col("text"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(range(len(w))) AS pos,
             |    unnest(w) AS x FROM w),
             |big AS (SELECT doc_id, x,
             |    lead(x) OVER (PARTITION BY doc_id ORDER BY pos) AS y
             |  FROM tok),
             |b AS (SELECT doc_id, x, y FROM big WHERE y IS NOT NULL),
             |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
             |  FROM b GROUP BY x, y),
             |cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c_x
             |  FROM b GROUP BY x),
             |sc AS (SELECT b.doc_id,
             |    CAST(length(bin(c_x // c_xy)) - 1 AS BIGINT) AS bits
             |  FROM b JOIN cxy USING (x, y) JOIN cx USING (x)),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(bits) AS BIGINT) AS total_bits
             |  FROM sc GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
             |  COALESCE(a.total_bits, 0) AS total_bits,
             |  CAST(COALESCE((a.total_bits * 100) // a.n_bigrams, 0)
             |    AS BIGINT) AS bits_x100
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN agg a ON d.doc_id = a.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // PMI collocations — rank adjacent token pairs by pointwise mutual
    // information with NO log(): PMI = log(c_xy·N/(r_x·c_y)) is monotone
    // in the ratio, so the scaled integer c_xy·N·1e6 div (r_x·c_y)
    // orders identically and replays bit-for-bit in DuckDB's BIGINT
    // arithmetic (overflow bound documented in llm/BigramLm.scala; the
    // 100 TB path is the same chain in DECIMAL(38,0)). min-count 5
    // guards the classic low-count PMI blowup; ties broken (x, y) for a
    // total order under the limit.
    "q162_pmi_collocations" -> Q(
      (s, d) => {
        import graft.llm.BigramLm
        BigramLm.pmiTopK(docs(s, d), "doc_id", col("text"),
          minCount = 5L, k = 20)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(range(len(w))) AS pos,
             |    unnest(w) AS x FROM w),
             |big AS (SELECT doc_id, x,
             |    lead(x) OVER (PARTITION BY doc_id ORDER BY pos) AS y
             |  FROM tok),
             |b AS (SELECT doc_id, x, y FROM big WHERE y IS NOT NULL),
             |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
             |  FROM b GROUP BY x, y),
             |rx AS (SELECT x, CAST(count(*) AS BIGINT) AS r_x
             |  FROM b GROUP BY x),
             |cy AS (SELECT y, CAST(count(*) AS BIGINT) AS c_y
             |  FROM b GROUP BY y),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM b)
             |SELECT x, y, c_xy, r_x, c_y,
             |  CAST((c_xy * n_big * 1000000) // (r_x * c_y) AS BIGINT)
             |    AS pmi_x1e6
             |FROM cxy JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN n
             |WHERE c_xy >= 5
             |ORDER BY pmi_x1e6 DESC, x, y LIMIT 20""".stripMargin)),

    // Asymmetric containment (quote/subset) detection — the near-dup
    // axis Jaccard misses: the corpus is augmented with a 12-word
    // snippet of every doc (id + 100000), and llm/Containment.scala
    // finds ordered pairs where >= 80% of the contained side's distinct
    // 3-shingles appear in the container. Every snippet must surface
    // inside its source (consecutive words => all its shingles are in
    // the original, containment = 100), while the reverse direction
    // scores ~35 and is correctly absent. Candidates form on the
    // contained side's rarest-shingle PREFIX only (one-sided AllPairs —
    // the container side has no safe prefix, inherent to containment);
    // the oracle replays the exact semantics with a naive shared-shingle
    // candidate join + the same scaled-integer score, so prefix
    // filtering is proven lossless on this corpus by the hash match.
    "q164_containment" -> Q(
      (s, d) => {
        import graft.llm.Containment
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val snippets = base.select(
          (col("doc_id") + 100000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
        Containment
          .containedPairs(base.unionByName(snippets), "doc_id", "text",
            n = 3, thresholdPct = 80)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id,
             |    array_to_string(string_split(text, ' ')[1:12], ' ') AS text
             |  FROM documents),
             |nrm AS (SELECT doc_id, $normSql AS nm FROM corpus),
             |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
             |sets AS (SELECT doc_id, list_distinct(
             |    CASE WHEN len(t) < 3 THEN [nm]
             |         ELSE list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)
             |    AS sh
             |  FROM tok),
             |post AS (SELECT doc_id, unnest(sh) AS s FROM sets),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM post a JOIN post b
             |    ON a.s = b.s AND a.doc_id <> b.doc_id),
             |sc AS (SELECT id_a, id_b,
             |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
             |    CAST(len(sa.sh) AS BIGINT) AS sz_a,
             |    CAST(len(sb.sh) AS BIGINT) AS sz_b
             |  FROM cand JOIN sets sa ON sa.doc_id = id_a
             |            JOIN sets sb ON sb.doc_id = id_b)
             |SELECT id_a, id_b, inter, sz_a, sz_b,
             |  CAST((inter * 100) // sz_a AS BIGINT) AS cont_x100
             |FROM sc WHERE (inter * 100) // sz_a >= 80
             |ORDER BY id_a, id_b""".stripMargin)),

    // Streaming boilerplate-index maintenance (llm/LineDedupIndex.scala):
    // two REAL microbatches (doc_id < 250 / >= 250) foreachBatch-folded
    // into the persisted line-df index — batch 1 builds v=1, batch 2
    // adds v=2 without rescanning batch 1 — then the WHOLE corpus is
    // cleaned against the indexed df. Because df merge is addition and
    // the batches are doc-disjoint, the incremental table equals the
    // full-corpus count line-for-line, so the cleaning decisions are
    // hash-EXACT against q160's one-shot oracle (no recall caveat —
    // same exactness class as q149/q150's CMS index). n_versions = 2 in
    // the version chain pins that real batch-by-batch delivery happened.
    "q166_stream_line_dedup" -> Q(
      (s, d) => {
        import graft.llm.LineDedupIndex
        val root = graft.queries.Scratch.dir("graft-q166-sld")
        val all = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 250)))
        val idx = s"$root/idx"
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // exactly-once: a replayed batch (crash between index
          // commit and checkpoint commit) must not double df counts
          graft.llm.IndexMaintenance.foldOnce(bid,
              LineDedupIndex.latestVersion(idx)) {
            if (LineDedupIndex.latestVersion(idx).isEmpty)
              LineDedupIndex.build(b, idx, "doc_id", docLines)
            else
              LineDedupIndex.addBatch(s, idx, b, "doc_id", docLines)
          }
        }
        require(LineDedupIndex.latestVersion(idx).contains(2),
          "expected two delivered microbatches")
        LineDedupIndex.cleanWith(s, idx, all, "doc_id", docLines, maxDf = 5L)
          .select(
            col("doc_id"),
            col("n_lines"),
            col("n_kept"),
            length(col("clean_text")).cast("long").as("clean_len"),
            md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
             |  FROM documents),
             |l AS (SELECT doc_id,
             |    (['== ' || source || ' portal ==', 'home | about | contact']
             |     || list_transform(range((len(w) + 7) // 8),
             |          i -> array_to_string(w[(i*8+1):(i*8+8)], ' '))
             |     || ['(c) ' || source || ' media group']) AS lines
             |  FROM w),
             |ex AS (SELECT doc_id, unnest(range(len(lines))) AS pos,
             |    unnest(lines) AS line FROM l),
             |d AS (SELECT line, count(DISTINCT doc_id) AS df
             |  FROM ex GROUP BY line),
             |kept AS (SELECT ex.doc_id, ex.pos, ex.line
             |  FROM ex JOIN d ON ex.line = d.line WHERE d.df <= 5),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM kept GROUP BY doc_id)
             |SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
             |  COALESCE(a.n_kept, 0) AS n_kept,
             |  CAST(length(COALESCE(a.clean_text, '')) AS BIGINT) AS clean_len,
             |  md5(COALESCE(a.clean_text, '')) AS clean_md5
             |FROM l LEFT JOIN agg a ON l.doc_id = a.doc_id
             |ORDER BY l.doc_id""".stripMargin)),

    // BM25 lexical retrieval (llm/Bm25.scala) — the sparse search half
    // next to the dense KNN/IVF path: three queries (the first three
    // words of docs 0-2) scored against the corpus through an
    // inverted-index join. Exact-integer BM25: quantized floor-log2 idf
    // (the q161 bitlength trick at 1/64 octave), scaled-integer Okapi
    // tf saturation (k1=1.2, b=0.75, every division a floor div) — the
    // oracle replays the full scoring pipeline including the length
    // normalization, so ranks AND scores hash-match.
    "q173_bm25_retrieval" -> Q(
      (s, d) => {
        import graft.llm.Bm25
        val corpus = docs(s, d)
        val queries = corpus.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25.search(corpus, "doc_id", "text", queries, k = 5)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $bm25Ctes
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // placeholder kept for anchor-diff clarity; real entries continue
    // Encoded image → resized raw → features, END TO END with no stub:
    // per-doc bitmaps carry the q110 modular-arithmetic pixel pattern
    // but arrive ENCODED — even docs as 24-bit BMP (bottom-up padded
    // BGR rows the decoder must undo), odd docs as binary P6 PPM —
    // then MultimodalOps.decodeImages extracts the raster
    // (MediaContainers.decodePixels), resizeRawRgb halves 16x12 → 8x6
    // (NN floor map: target (x,y) reads source (2x,2y)), and
    // channelStats walks the resized bytes. The oracle replays the
    // whole chain relationally: the decode is proven byte-exact because
    // any container/orientation/padding mistake shifts pixels and
    // breaks the closed-form mean. Sum/48.0 is one exact IEEE division.
    "q174_image_decode_resize" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MediaContainers, MultimodalOps}
        val encoded = docs(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val rgb = MultimodalOps.synthBitmap(id, 16, 12)
            val bytes =
              if (id % 2 == 0) MediaContainers.bmpBytesRgb(16, 12, rgb)
              else MediaContainers.ppmBytesRgb(16, 12, rgb)
            MultimodalOps.MediaRecord(id, bytes, "image")
          }
        val raw = MultimodalOps.decodeImages(encoded)
        val resized = MultimodalOps.resizeRawRgb(raw, 8, 6)
          .map(r => MultimodalOps.RawImage(r.id, r.width, r.height, r.pixels))
        MultimodalOps.channelStats(resized)
          .toDF()
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT d.doc_id, x.x, y.y
             |  FROM documents d, range(0, 8) x(x), range(0, 6) y(y))
             |SELECT doc_id,
             |  CAST(sum((doc_id*31 + (x*2)*7 + (y*2)*13) % 256) AS DOUBLE)/48.0
             |    AS mean_r,
             |  CAST(sum((doc_id*17 + (x*2)*3 + (y*2)*11) % 256) AS DOUBLE)/48.0
             |    AS mean_g,
             |  CAST(sum((doc_id*23 + (x*2)*5 + (y*2)*19) % 256) AS DOUBLE)/48.0
             |    AS mean_b
             |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The SQL function catalog as a correctness surface: the whole query
    // is ONE spark.sql string over the registered native kernels
    // (plans/GraftExtensions.scala — word_shingles, jaccard_similarity,
    // simhash64, lang_id), the zero-Scala path a pure-SQL client gets
    // via spark.sql.extensions. Adjacent-doc pairs score shingle-set
    // Jaccard (exact double: one IEEE division both engines), SimHash
    // signature equality (oracle replays it as normalized-text equality
    // — equal texts force equal signatures; on this corpus the converse
    // holds too, locally verified), and lang_id replays through the
    // marker-count SQL shared with q22.
    "q175_sql_catalog" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        // per-pair shingle+jaccard+simhash kernels are compute-bound:
        // spread the view input (the SQL text stays the pure-SQL path)
        graft.operators.Spread.compute(docs(s, d))
          .createOrReplaceTempView("sql_catalog_docs")
        s.sql("""SELECT a.doc_id AS id_a,
                |  b.doc_id AS id_b,
                |  jaccard_similarity(word_shingles(a.text, 3),
                |                     word_shingles(b.text, 3)) AS jac,
                |  simhash64(word_shingles(a.text, 3)) =
                |    simhash64(word_shingles(b.text, 3)) AS same_sig,
                |  lang_id(a.text) AS lang_a
                |FROM sql_catalog_docs a
                |JOIN sql_catalog_docs b ON b.doc_id = a.doc_id + 1
                |ORDER BY id_a""".stripMargin)
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
             |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
             |sets AS (SELECT doc_id, nm, list_distinct(
             |    CASE WHEN len(t) < 3 THEN [nm]
             |         ELSE list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)
             |    AS sh
             |  FROM tok),
             |lang AS ($langIdSql),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 1.0
             |         ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |           / len(list_distinct(a.sh || b.sh)) END AS jac,
             |    a.nm = b.nm AS same_sig
             |  FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1)
             |SELECT p.id_a, p.id_b, p.jac, p.same_sig, l.lang_id AS lang_a
             |FROM pairs p JOIN lang l ON l.doc_id = p.id_a
             |ORDER BY id_a""".stripMargin)),

    // Hybrid retrieval via Reciprocal Rank Fusion (llm/Rrf.scala): the
    // q173 sparse BM25 list and a q24-style dense cosine list (same
    // qids 0-2; embeddings share the doc id space) fused WITHOUT score
    // calibration — only ranks cross the boundary, each contributing
    // the scaled-integer 1e6 div (60 + rank). The oracle replays BOTH
    // retrieval pipelines (the shared bm25Ctes chain + the rounded
    // cosine ranking) and the fusion arithmetic, so fused ranks AND
    // scores AND the n_lists agreement signal all hash-match.
    "q176_rrf_fusion" -> Q(
      (s, d) => {
        import graft.llm.{Bm25, Rrf}
        val corpus = docs(s, d)
        val queries = corpus.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        val sparse = Bm25.search(corpus, "doc_id", "text", queries, k = 5)
          .select(col("qid"), col("did").as("id"), col("rank"))
        val emb = Tables.embeddings(s, d)
        val qv = broadcast(emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")))
        val scored = emb
          .select(col("vec_id").as("id"), col("embedding").as("nv"))
          .crossJoin(qv)
          .filter(col("id") =!= col("qid"))
          .withColumn("sim",
            round(VectorFunctions.cosine(col("qv"), col("nv")), 6))
        val dense = TopK.perGroup(scored,
            Seq(col("qid")), Seq(col("sim").desc, col("id").asc),
            k = 5, rankCol = "rank")
          .select(col("qid"), col("id"), col("rank"))
        Rrf.fuse(sparse.unionByName(dense), k0 = 60, topK = 5)
          .orderBy("qid", "fused_rank")
      },
      Some(s"""WITH $bm25Ctes,
             |sparse AS (SELECT qid, did AS id, rank FROM rk WHERE rank <= 5),
             |qv AS (SELECT vec_id AS qid, embedding AS qv
             |  FROM embeddings WHERE vec_id < 3),
             |dsc AS (SELECT qv.qid, e.vec_id AS id,
             |    round(list_cosine_similarity(CAST(qv.qv AS DOUBLE[]),
             |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
             |  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.qid),
             |drk AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
             |    ORDER BY sim DESC, id) AS rank FROM dsc),
             |dense AS (SELECT qid, id, rank FROM drk WHERE rank <= 5),
             |uni AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense),
             |fused AS (SELECT qid, id,
             |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_x1e6,
             |    CAST(count(*) AS BIGINT) AS n_lists
             |  FROM uni GROUP BY qid, id),
             |frk AS (SELECT qid, id, rrf_x1e6, n_lists,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY rrf_x1e6 DESC, id) AS fused_rank
             |  FROM fused)
             |SELECT qid, CAST(fused_rank AS BIGINT) AS fused_rank, id,
             |  rrf_x1e6, n_lists
             |FROM frk WHERE fused_rank <= 5
             |ORDER BY qid, fused_rank""".stripMargin)),

    // Sorted-neighborhood blocking (operators/SortedNeighborhood.scala)
    // — the record-linkage candidate generator orthogonal to LSH:
    // window of w=3 positions over the (n_chars, doc_id) total order.
    // The oracle is the textbook single-window formulation; the engine
    // side uses the two-phase global-position scheme (range partitions
    // + partition-local row_numbers + broadcast prefix offsets), so the
    // hash match proves the distributed positions equal a literal
    // global row_number.
    "q177_sorted_blocking" -> Q(
      (s, d) => graft.operators.SortedNeighborhood
        .candidates(docs(s, d), "doc_id",
          Seq(col("n_chars"), col("doc_id")), w = 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH pos AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS p
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  a.p AS pos_a, b.p AS pos_b
             |FROM pos a JOIN pos b ON b.p > a.p AND b.p <= a.p + 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // Lexicon tagging — the brand-safety / topic-taxonomy pass of a
    // crawl pipeline: a tiny category lexicon broadcast-joined against
    // the exploded token stream (the dimension side never shuffles the
    // corpus; cost is one pass over tokens + a hash agg on
    // (doc, category)). The oracle replays the lexicon as a CASE map.
    "q178_lexicon_tags" -> Q(
      (s, d) => {
        import s.implicits._
        val lex = Seq(
          ("slow", "perf"), ("fast", "perf"),
          ("join", "sqlop"), ("filter", "sqlop"),
          ("sort", "sqlop"), ("agg", "sqlop"),
          ("spark", "infra"), ("table", "infra"),
          ("batch", "infra"), ("stream", "infra"))
        val lexDf = broadcast(lex.toDF("w", "category"))
        docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(lexDf, "w")
          .groupBy("doc_id", "category")
          .agg(count(lit(1)).as("hits"))
          .orderBy("doc_id", "category")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS w FROM documents),
             |tagged AS (SELECT doc_id,
             |    CASE WHEN w IN ('slow','fast') THEN 'perf'
             |         WHEN w IN ('join','filter','sort','agg') THEN 'sqlop'
             |         WHEN w IN ('spark','table','batch','stream')
             |           THEN 'infra' END AS category
             |  FROM tok)
             |SELECT doc_id, category, CAST(count(*) AS BIGINT) AS hits
             |FROM tagged WHERE category IS NOT NULL
             |GROUP BY doc_id, category
             |ORDER BY doc_id, category""".stripMargin)),

    // Sparse TF-IDF cosine similarity join (llm/TfIdfCosine.scala) —
    // the weighted-term relatedness axis between q23's set Jaccard and
    // q30's dense cosine: the inverted-index join IS the sparse matrix
    // product (no candidates-then-rescore), weights are tf x floor-log2
    // idf (q173's exact-integer idf), and the cosine test runs SQUARED
    // in DECIMAL(38,0) so no square root exists anywhere. The oracle
    // replays weighting, the term join, and the squared-ratio filter
    // (HUGEINT on the DuckDB side).
    // NOTE on the corpus slice: the synthetic vocabulary is ~31 words
    // total, so EVERY term is in nearly every document and tf-idf
    // cosine is inherently all-pairs here (sum over terms of df² has no
    // rare-term mass; the stop-term cap has nothing selective to drop).
    // On Zipf-distributed real text the df cap is the operative valve;
    // on THIS corpus the query bounds the scored slice instead.
    "q191_tfidf_cosine_pairs" -> Q(
      (s, d) => graft.llm.TfIdfCosine
        .similarPairs(docs(s, d).filter(col("doc_id") < 1000),
          "doc_id", "text", thresholdPct = 90)
        .orderBy("id_a", "id_b"),
      Some("""WITH tok AS (SELECT doc_id AS did,
             |    unnest(string_split(text, ' ')) AS t
             |  FROM documents WHERE doc_id < 1000),
             |tf AS (SELECT did, t, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok GROUP BY did, t),
             |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
             |  FROM tf GROUP BY t),
             |st AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS n_docs
             |  FROM tf),
             |w AS (SELECT tf.did, tf.t,
             |    tf.tf * CAST(length(bin((st.n_docs * 64) // dfq.df)) - 1
             |      AS BIGINT) AS w
             |  FROM tf JOIN dfq USING (t) CROSS JOIN st
             |  WHERE dfq.df <= 100000),
             |nrm AS (SELECT did, CAST(sum(w * w) AS BIGINT) AS n2
             |  FROM w GROUP BY did),
             |dt AS (SELECT a.did AS id_a, b.did AS id_b,
             |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
             |  FROM w a JOIN w b ON a.t = b.t AND a.did < b.did
             |  GROUP BY 1, 2),
             |sc AS (SELECT id_a, id_b, dot,
             |    CAST((CAST(dot AS HUGEINT) * dot * 1000000)
             |      // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT)
             |      AS cos2_x1e6
             |  FROM dt JOIN nrm na ON na.did = id_a
             |          JOIN nrm nb ON nb.did = id_b)
             |SELECT id_a, id_b, dot, cos2_x1e6 FROM sc
             |WHERE cos2_x1e6 >= 810000
             |ORDER BY id_a, id_b""".stripMargin)),

    // Proximity re-ranking — the positional-index stage stacked on BM25
    // retrieval (llm/Proximity.scala): the bag-of-words scorer can't
    // tell "new york" from "york ... 40 words ... 40 words ... new", so
    // the top-k candidates (and ONLY those — the rerank set is
    // k·|queries| docs by construction, which is what makes expensive
    // per-candidate scoring affordable at any corpus size) are
    // re-scored by the minimum token distance between the query's first
    // two distinct terms (adjacent pair pr=1). The operator computes it
    // with a MERGE SCAN over position-ordered postings — linear in
    // occurrences where a two-sided positional join is occ(t1)×occ(t2)
    // — but the VALUE is the same min |p1-p2|, so the oracle replays it
    // with the quadratic join (exactness, not efficiency, is the
    // oracle's job). Missing-term candidates keep a sentinel distance
    // and fall behind all proximate ones; final order (min_dist asc,
    // bm25 desc, did) replays exactly — the oracle recomputes BM25,
    // the candidate cut, the positional min, and the re-sort. q195
    // runs the generalized all-adjacent-pairs form.
    "q190_proximity_rerank" -> Q(
      (s, d) => {
        import graft.llm.{Bm25, Proximity}
        val corpus = docs(s, d)
        val queries = corpus.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        val cand = Bm25.search(corpus, "doc_id", "text", queries, k = 5)
        val firstPair = Proximity.adjacentPairs(queries, "qid", "qtext")
          .filter(col("pr") === 1)
        val md = Proximity.minDistances(corpus, "doc_id", "text",
          cand.select("qid", "did"), firstPair)
        cand
          .join(md.select("qid", "did", "min_dist"), Seq("qid", "did"))
          .withColumn("prox_rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("qid")
              .orderBy(col("min_dist"), col("score_x1000").desc, col("did")))
            .cast("long"))
          .select("qid", "prox_rank", "did", "min_dist", "score_x1000")
          .orderBy("qid", "prox_rank")
      },
      Some(s"""WITH $bm25Ctes,
             |cand AS (SELECT qid, did, score_x1000 FROM rk WHERE rank <= 5),
             |qw AS (SELECT doc_id AS qid,
             |    unnest(range(1, 4)) AS p,
             |    unnest(string_split(text, ' ')[1:3]) AS t
             |  FROM documents WHERE doc_id < 3),
             |qf AS (SELECT qid, t, min(p) AS fp FROM qw
             |  WHERE t IS NOT NULL GROUP BY qid, t),
             |qr AS (SELECT qid, t, row_number() OVER (PARTITION BY qid
             |    ORDER BY fp) AS r FROM qf),
             |qpair AS (SELECT a.qid, a.t AS t1, b.t AS t2
             |  FROM qr a JOIN qr b ON a.qid = b.qid AND a.r = 1 AND b.r = 2),
             |pos AS (SELECT c.did, u.p - 1 AS p, u.t FROM
             |    (SELECT DISTINCT did FROM cand) c JOIN documents dd
             |      ON dd.doc_id = c.did,
             |    LATERAL (SELECT unnest(range(1,
             |        len(string_split(dd.text, ' ')) + 1)) AS p,
             |      unnest(string_split(dd.text, ' ')) AS t) u),
             |prox AS (SELECT c.qid, c.did, c.score_x1000,
             |    coalesce(CAST(min(abs(p1.p - p2.p)) AS BIGINT), 1000000)
             |      AS min_dist
             |  FROM cand c JOIN qpair q ON q.qid = c.qid
             |    LEFT JOIN pos p1 ON p1.did = c.did AND p1.t = q.t1
             |    LEFT JOIN pos p2 ON p2.did = c.did AND p2.t = q.t2
             |  GROUP BY c.qid, c.did, c.score_x1000),
             |rr AS (SELECT qid, did, min_dist, score_x1000,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY min_dist, score_x1000 DESC, did) AS prox_rank
             |  FROM prox)
             |SELECT qid, CAST(prox_rank AS BIGINT) AS prox_rank, did,
             |  min_dist, score_x1000
             |FROM rr ORDER BY qid, prox_rank""".stripMargin)),

    // Blocked near-dup detection — q177's sorted-neighborhood blocking
    // composed with the shared exact-Jaccard verifier: candidates are
    // the w=5 window over the (n_chars, doc_id) order (near-identical
    // docs have near-identical lengths, the classic cheap blocking
    // key), verification is JaccardVerify — the SAME final stage as the
    // MinHash/SimHash pipelines, demonstrating candidate generators are
    // pluggable. Deterministic end-to-end, so unlike LSH the oracle
    // replays the BLOCKING too (position window + shingle Jaccard):
    // output = {pairs within 5 positions AND jaccard >= 0.5}, exactly.
    "q188_blocked_neardup" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val cand = graft.operators.SortedNeighborhood
          .candidates(dd, "doc_id", Seq(col("n_chars"), col("doc_id")), w = 5)
          .select("id_a", "id_b")
        graft.llm.JaccardVerify
          .verify(cand, dd, "doc_id", "text", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id, list_distinct(
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)
              |    AS sh
              |  FROM tok),
              |pos AS (SELECT doc_id,
              |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS p
              |  FROM documents),
              |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM pos a JOIN pos b ON b.p > a.p AND b.p <= a.p + 5),
              |sc AS (SELECT id_a, id_b,
              |    CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0 THEN 1.0
              |         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              |           / len(list_distinct(sa.sh || sb.sh)) END AS jaccard
              |  FROM cand JOIN sets sa ON sa.doc_id = id_a
              |            JOIN sets sb ON sb.doc_id = id_b)
              |SELECT id_a, id_b, jaccard FROM sc WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // Dedup-aware sampling — the mixture correction production dataset
    // curation applies AFTER near-dup clustering: a 40-copy boilerplate
    // family must not get 40x the sampling mass of a unique doc, so
    // each doc weighs 1/|its near-dup family| (families from the q42
    // machinery: MinHash pairs -> connected components; singletons
    // weigh 1). The draw is the q133 A-ES sampler with those weights —
    // per-lang top-10 by priority hash/weight. The oracle replays the
    // RECURSIVE closure, the family sizes, and the exact priority
    // arithmetic (one IEEE division; integer weight 1e6 div size).
    "q180_dedup_aware_sample" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        val cc = graft.operators.ConnectedComponents
          .run(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        val grouped = dd.join(cc, Seq("doc_id"), "left")
          .withColumn("group_id", coalesce(col("component"), col("doc_id")))
        val sizes = grouped.groupBy("group_id")
          .agg(count(lit(1)).as("gsz"))
        val weighted = grouped.join(sizes, "group_id")
          .withColumn("w", expr("1000000 div gsz"))
        SamplingQueries.weightedSample(weighted, "lang", "doc_id", "w", 10)
          .select(col("lang"), col("rk"), col("doc_id"),
            col("group_id"), col("gsz"))
          .orderBy("lang", "rk")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes,
              |grp AS (SELECT d.doc_id, d.lang,
              |    coalesce(c.group_id, d.doc_id) AS group_id
              |  FROM documents d LEFT JOIN comp c USING (doc_id)),
              |sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS gsz
              |  FROM grp GROUP BY group_id),
              |pri AS (SELECT g.lang, g.doc_id, g.group_id, sz.gsz,
              |    CAST(CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)),
              |      1, 8)) AS BIGINT) + 1 AS DOUBLE)
              |      / (1000000 // sz.gsz) AS priority
              |  FROM grp g JOIN sz USING (group_id)),
              |rk AS (SELECT lang, doc_id, group_id, gsz,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY priority, doc_id) AS rk
              |  FROM pri)
              |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, group_id, gsz
              |FROM rk WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)),

    // Incremental persisted inverted index (llm/Bm25Index.scala): the
    // corpus arrives in two doc-disjoint batches folded into the index
    // (postings append-shaped, df/stats merged by addition — batch 2
    // never rescans batch 1), then q173's query set searches the INDEX.
    // Because the index tables equal the one-shot aggregates exactly
    // and the scoring join is literally shared (Bm25.score), the
    // incremental search hash-matches q173's one-shot oracle;
    // n_versions = 2 pins that real batch-by-batch delivery happened.
    // Same exactness class as q149/q166's additive indexes.
    "q181_bm25_incremental" -> Q(
      (s, d) => {
        import graft.llm.Bm25Index
        val idx = graft.queries.Scratch.dir("graft-q181-bmidx") + "/idx"
        val all = docs(s, d)
        Bm25Index.build(all.filter(col("doc_id") < 250), idx,
          "doc_id", "text")
        Bm25Index.addBatch(s, idx, all.filter(col("doc_id") >= 250),
          "doc_id", "text")
        val queries = all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25Index.search(s, idx, queries, k = 5)
          .withColumn("n_versions",
            lit(Bm25Index.latestVersion(idx).get.toLong))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $bm25Ctes
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000,
             |  CAST(2 AS BIGINT) AS n_versions
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Streaming BM25-index maintenance — q181's operator driven by the
    // REAL streaming engine (q166's delivery shape): two file-stream
    // microbatches (doc_id < 250 / >= 250) foreachBatch-folded into the
    // persisted inverted index — batch 2 never rescans batch 1 — then q173's query set
    // searches the INDEX. Additive df/stats + the literally-shared
    // scoring join make the result hash-EXACT against the one-shot
    // oracle; n_versions = 2 pins that real batch-by-batch delivery
    // happened (same exactness class as q149/q150/q166).
    "q192_stream_bm25_ingest" -> Q(
      (s, d) => {
        import graft.llm.Bm25Index
        val root = graft.queries.Scratch.dir("graft-q192-bmstream")
        val all = docs(s, d).select(col("doc_id"), col("text"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 250)))
        val idx = s"$root/idx"
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // exactly-once: a replayed batch (crash between index
          // commit and checkpoint commit) must not double postings
          graft.llm.IndexMaintenance.foldOnce(bid,
              Bm25Index.latestVersion(idx)) {
            if (Bm25Index.latestVersion(idx).isEmpty)
              Bm25Index.build(b, idx, "doc_id", "text")
            else
              Bm25Index.addBatch(s, idx, b, "doc_id", "text")
          }
        }
        require(Bm25Index.latestVersion(idx).contains(2),
          "expected two delivered microbatches")
        val queries = all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25Index.search(s, idx, queries, k = 5)
          .withColumn("n_versions",
            lit(Bm25Index.latestVersion(idx).get.toLong))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $bm25Ctes
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000,
             |  CAST(2 AS BIGINT) AS n_versions
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Leakage-safe train/val split — the dedup-aware sibling of q114's
    // plain hash split: near-identical documents must NEVER straddle
    // the boundary (a val doc whose near-dup sits in train is
    // contamination), so the split key is the near-dup FAMILY id from
    // the q42 closure, not the doc id. Every family lands wholly on one
    // side by construction; singletons split like q114 would. 80/20 by
    // md5 of the family id — the oracle replays closure and hash
    // arithmetic exactly.
    "q183_leakage_safe_split" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        val cc = graft.operators.ConnectedComponents
          .run(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        dd.select("doc_id").join(cc, Seq("doc_id"), "left")
          .withColumn("group_id", coalesce(col("component"), col("doc_id")))
          .withColumn("split",
            when(conv(substring(md5(col("group_id").cast("string")), 1, 8),
              16, 10).cast("long") % 10 < 8, lit("train"))
              .otherwise(lit("val")))
          .select("doc_id", "group_id", "split")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes,
              |grp AS (SELECT d.doc_id,
              |    coalesce(c.group_id, d.doc_id) AS group_id
              |  FROM documents d LEFT JOIN comp c USING (doc_id))
              |SELECT doc_id, group_id,
              |  CASE WHEN CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)),
              |    1, 8)) AS BIGINT) % 10 < 8 THEN 'train' ELSE 'val' END
              |    AS split
              |FROM grp ORDER BY doc_id""".stripMargin)),

    // Combined-recall near-dup: q188's sorted-neighborhood candidates
    // UNIONED with q27's MinHash-LSH candidates, one exact-Jaccard
    // verification over the union — the production linkage-stack shape
    // (SortedNeighborhood.scala's own scaladoc): SNB misses similar
    // docs whose blocking keys sort far apart, LSH misses what banding
    // probability drops, and the two failure modes are independent, so
    // the union's recall dominates either generator alone
    // (CombinedRecallSpec pins a fixture where each one misses a pair
    // the other catches). SNB pairs are position-oriented, LSH pairs
    // id-oriented — canonicalize to id order BEFORE the distinct so
    // the union actually dedups. Output contract = {pairs : jaccard >=
    // 0.5}: LSH recall alone is 1.0 on this corpus (q27's argument),
    // the union only adds candidates, and verification is exact — so
    // the oracle is the SAME exact-Jaccard SQL as q23/q27.
    "q194_combined_neardup" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val snb = graft.operators.SortedNeighborhood
          .candidates(dd, "doc_id", Seq(col("n_chars"), col("doc_id")), w = 5)
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
        val lsh = MinHashDedup.candidatePairs(dd, "doc_id", "text")
        JaccardVerify
          .verify(snb.unionByName(lsh).distinct(), dd, "doc_id", "text",
            threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(jaccardPairsSql)),

    // Generalized proximity rerank — q190's operator over ALL adjacent
    // query-term pairs, not just the first: a 3-term query "a b c"
    // scores each candidate by sum over pairs {(a,b), (b,c)} of the
    // merge-scan min token distance (missing terms carry the sentinel
    // per PAIR, so a doc holding one pair tightly but lacking the
    // other ranks behind docs holding both). Candidates, corpus, and
    // BM25 arithmetic are exactly q190's; the oracle replays the
    // per-pair minima with the quadratic positional join and the same
    // sum/sort.
    "q195_proximity_multiterm" -> Q(
      (s, d) => {
        import graft.llm.{Bm25, Proximity}
        val corpus = docs(s, d)
        val queries = corpus.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        val cand = Bm25.search(corpus, "doc_id", "text", queries, k = 5)
        val pairs = Proximity.adjacentPairs(queries, "qid", "qtext")
        val agg = Proximity
          .minDistances(corpus, "doc_id", "text",
            cand.select("qid", "did"), pairs)
          .groupBy("qid", "did")
          .agg(sum("min_dist").as("sum_dist"),
            count(lit(1)).as("n_pairs"))
        cand.join(agg, Seq("qid", "did"))
          .withColumn("prox_rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("qid")
              .orderBy(col("sum_dist"), col("score_x1000").desc, col("did")))
            .cast("long"))
          .select("qid", "prox_rank", "did", "sum_dist", "n_pairs",
            "score_x1000")
          .orderBy("qid", "prox_rank")
      },
      Some(s"""WITH $bm25Ctes,
             |cand AS (SELECT qid, did, score_x1000 FROM rk WHERE rank <= 5),
             |qw AS (SELECT doc_id AS qid,
             |    unnest(range(1, 4)) AS p,
             |    unnest(string_split(text, ' ')[1:3]) AS t
             |  FROM documents WHERE doc_id < 3),
             |qf AS (SELECT qid, t, min(p) AS fp FROM qw
             |  WHERE t IS NOT NULL GROUP BY qid, t),
             |qr AS (SELECT qid, t, row_number() OVER (PARTITION BY qid
             |    ORDER BY fp) AS r FROM qf),
             |qpair AS (SELECT a.qid, a.r AS pr, a.t AS t1, b.t AS t2
             |  FROM qr a JOIN qr b ON a.qid = b.qid AND b.r = a.r + 1),
             |pos AS (SELECT c.did, u.p - 1 AS p, u.t FROM
             |    (SELECT DISTINCT did FROM cand) c JOIN documents dd
             |      ON dd.doc_id = c.did,
             |    LATERAL (SELECT unnest(range(1,
             |        len(string_split(dd.text, ' ')) + 1)) AS p,
             |      unnest(string_split(dd.text, ' ')) AS t) u),
             |pd AS (SELECT c.qid, c.did, c.score_x1000, q.pr,
             |    coalesce(CAST(min(abs(p1.p - p2.p)) AS BIGINT), 1000000)
             |      AS md
             |  FROM cand c JOIN qpair q ON q.qid = c.qid
             |    LEFT JOIN pos p1 ON p1.did = c.did AND p1.t = q.t1
             |    LEFT JOIN pos p2 ON p2.did = c.did AND p2.t = q.t2
             |  GROUP BY c.qid, c.did, c.score_x1000, q.pr),
             |ag AS (SELECT qid, did, score_x1000,
             |    CAST(sum(md) AS BIGINT) AS sum_dist,
             |    CAST(count(*) AS BIGINT) AS n_pairs
             |  FROM pd GROUP BY qid, did, score_x1000),
             |rr AS (SELECT qid, did, sum_dist, n_pairs, score_x1000,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY sum_dist, score_x1000 DESC, did) AS prox_rank
             |  FROM ag)
             |SELECT qid, CAST(prox_rank AS BIGINT) AS prox_rank, did,
             |  sum_dist, n_pairs, score_x1000
             |FROM rr ORDER BY qid, prox_rank""".stripMargin)),

    // Benchmark decontamination (llm/Decontaminate.scala) — docs 0-19
    // stand in as the held-out eval set; every other doc sharing ANY
    // word-3-shingle with it is flagged with its distinct-overlap
    // count. Exact string-keyed join (no hashed shingles — a collision
    // here either discards good data or leaks eval answers), so the
    // oracle replays it directly on the same normalized shingle CTEs
    // as the Jaccard tier. The injected near-dup copies of benchmark
    // docs are exactly what a real decontamination pass must catch:
    // they overlap heavily without being the benchmark docs.
    "q196_decontamination" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        graft.llm.Decontaminate
          .overlap(dd.filter(col("doc_id") >= 20),
            dd.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${shingleSetsCtes("documents")},
             |bsh AS (SELECT DISTINCT unnest(sh) AS s FROM sets
             |  WHERE doc_id < 20),
             |csh AS (SELECT doc_id, unnest(sh) AS s FROM sets
             |  WHERE doc_id >= 20)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
             |FROM csh JOIN bsh USING (s)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Threshold-survival curve — the curation telemetry behind "set
    // the min-length filter at t": per 10-token histogram bucket, how
    // many docs/tokens sit there and how many SURVIVE a threshold at
    // that bucket's floor (cumulative from above). The window cumsum
    // runs over the AGGREGATED histogram (bucket-count rows, bounded
    // by max doc length / 10), not the corpus — the single-partition
    // window is a few dozen rows at any corpus size.
    "q197_survival_curve" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket").desc)
        docs(s, d)
          .select(TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
          .groupBy(expr("nt div 10").as("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
          .withColumn("surviving_docs", sum("n_docs").over(w))
          .withColumn("surviving_tokens", sum("n_tokens").over(w))
          .orderBy("bucket")
      },
      Some("""WITH nt AS (SELECT CAST(CASE WHEN length(trim(text)) = 0
             |      THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+'))
             |      END AS BIGINT) AS nt
             |  FROM documents),
             |h AS (SELECT nt // 10 AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(nt) AS BIGINT) AS n_tokens
             |  FROM nt GROUP BY 1)
             |SELECT bucket, n_docs, n_tokens,
             |  CAST(sum(n_docs) OVER (ORDER BY bucket DESC) AS BIGINT)
             |    AS surviving_docs,
             |  CAST(sum(n_tokens) OVER (ORDER BY bucket DESC) AS BIGINT)
             |    AS surviving_tokens
             |FROM h ORDER BY bucket""".stripMargin)),

    // Per-source quota sampling — domain balancing, the mixture
    // control that keeps one crawl source from dominating the corpus:
    // each source keeps at most K=50 docs, chosen by a deterministic
    // md5 priority (so the draw is reproducible and per-doc
    // independent — the same doc survives regardless of what else
    // arrived, unlike a naive LIMIT). One window per source over a
    // rank-limited sort — WindowGroupLimit pushes the K cut map-side.
    "q198_source_quota" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("pri"), col("doc_id"))
        docs(s, d)
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string")).as("pri"))
          .withColumn("qrank", row_number().over(w).cast("long"))
          .filter(col("qrank") <= 50)
          .select("source", "qrank", "doc_id")
          .orderBy("source", "qrank")
      },
      Some("""WITH pri AS (SELECT doc_id, source,
             |    md5(CAST(doc_id AS VARCHAR)) AS pri
             |  FROM documents),
             |rk AS (SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY pri, doc_id) AS qrank
             |  FROM pri)
             |SELECT source, CAST(qrank AS BIGINT) AS qrank, doc_id
             |FROM rk WHERE qrank <= 50
             |ORDER BY source, qrank""".stripMargin)),

    // Mixture rebalance — the proportional complement to q198's hard
    // quota: downsample every source to HALF the rarest source's size
    // (a target the filter provably enforces even on this corpus's
    // equal-sized sources, where balancing to the min would keep
    // everything), keeping each doc independently iff its
    // deterministic md5 bucket falls under the source's keep
    // probability (target·1e6 div count, integer arithmetic). Per-
    // doc independence means the same doc survives regardless of what
    // else arrived — re-runs and incremental delivery agree — unlike a
    // LIMIT which depends on scan order. The 1-row min-count broadcast
    // rides a crossJoin (same scalar-broadcast class as q89/q93); the
    // S-row per-source counts broadcast onto the corpus scan.
    "q199_mixture_rebalance" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val counts = dd.groupBy("source").agg(count(lit(1)).as("n_src"))
        val minN = counts.agg(min("n_src").as("n_min"))
        dd.select(col("doc_id"), col("source"))
          .join(broadcast(counts), "source")
          .crossJoin(broadcast(minN))
          .withColumn("keep_x1e6", expr("n_min * 500000 div n_src"))
          .withColumn("bucket",
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("long") % 1000000L)
          .filter(col("bucket") < col("keep_x1e6"))
          .select("source", "doc_id")
          .orderBy("source", "doc_id")
      },
      Some("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
             |  FROM documents GROUP BY source),
             |m AS (SELECT min(n_src) AS n_min FROM c)
             |SELECT source, doc_id
             |FROM documents JOIN c USING (source) CROSS JOIN m
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |    AS BIGINT) % 1000000 < (n_min * 500000) // n_src
             |ORDER BY source, doc_id""".stripMargin)),

    // Exact duplicated-span dedup (ExactSubstr, Lee et al. ACL 2022, as
    // a k-gram run-merge instead of a suffix array): cut every maximal
    // token run ≥ 20 tokens whose normalized form appears verbatim ≥ 2
    // times anywhere in the corpus — every occurrence, no survivor
    // (pair with doc-level dedup when one copy must live). The oracle
    // replays gram fingerprints, the pos − row_number() run merge, the
    // clipped token extents, and the span cut itself (NOT EXISTS range
    // probe + ordered string_agg rebuild); md5 of the rebuilt text pins
    // the cut bit-for-bit. On this corpus the injected near-dup copies
    // carry 11-93-token verbatim runs; the 20-token threshold provably
    // bites both ways (sub-threshold runs survive, long runs are cut).
    "q200_span_dedup" -> Q(
      (s, d) => {
        val out = SpanDedup.cleanse(docs(s, d), "doc_id", "text",
          k = 8, minSpanTokens = 20)
        out.select(col("doc_id"), col("ntok"), col("n_spans"),
            col("dup_tokens"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(spanDedupOracle)),

    // Incremental exact-span dedup: the q200 pass through the persisted
    // gram-occurrence index (SpanDedupIndex) — three disjoint batches
    // folded by ADDITION (build + 2 addBatch), then the whole corpus
    // cleansed against the indexed global counts. The oracle is q200's
    // one-shot SQL VERBATIM: occurrence-count merge is addition, so the
    // incremental path must reproduce the from-scratch cut bit-for-bit
    // (same parity-exact contract as the line-df/CMS/BM25 indexes).
    "q201_span_dedup_incremental" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q201-sdidx")
        val all = docs(s, d)
        graft.llm.SpanDedupIndex.build(
          all.filter(col("doc_id") < 170), s"$dir/idx", "doc_id", "text")
        graft.llm.SpanDedupIndex.addBatch(s, s"$dir/idx",
          all.filter(col("doc_id") >= 170 && col("doc_id") < 340),
          "doc_id", "text")
        graft.llm.SpanDedupIndex.addBatch(s, s"$dir/idx",
          all.filter(col("doc_id") >= 340), "doc_id", "text")
        graft.llm.SpanDedupIndex
          .cleanseWith(s, s"$dir/idx", all, "doc_id", "text",
            k = 8, minSpanTokens = 20)
          .select(col("doc_id"), col("ntok"), col("n_spans"),
            col("dup_tokens"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(spanDedupOracle)),

    // Streaming span-dedup index maintenance: the q201 fold under the
    // REAL streaming engine (StreamOps.replayFiles and drain) — the
    // same protocol as q192's BM25 ingest, proving the newest exact
    // index is maintainable at ingest time. The post-drain cleanse over the full corpus must
    // still replay q200's one-shot SQL bit-for-bit.
    "q202_stream_span_dedup" -> Q(
      (s, d) => {
        import graft.llm.SpanDedupIndex
        val root = graft.queries.Scratch.dir("graft-q202-sdstream")
        val all = docs(s, d).select(col("doc_id"), col("text"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 250)))
        val idx = s"$root/idx"
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // exactly-once: a replayed batch must not double gram counts
          graft.llm.IndexMaintenance.foldOnce(bid,
              SpanDedupIndex.latestVersion(idx)) {
            if (SpanDedupIndex.latestVersion(idx).isEmpty)
              SpanDedupIndex.build(b, idx, "doc_id", "text")
            else
              SpanDedupIndex.addBatch(s, idx, b, "doc_id", "text")
          }
        }
        require(SpanDedupIndex.latestVersion(idx).contains(2),
          "expected two delivered microbatches")
        // the cleanse reads the COMPOSED delta chain directly: for a
        // single post-drain read, the compose shuffle is cheaper than
        // compacting first (measured: compact-then-cleanse cost +14%
        // at sf10) — compaction amortizes over REPEATED probes, which
        // is the family-ingest cadence (StreamBench family mode), not
        // this one-read protocol
        SpanDedupIndex
          .cleanseWith(s, idx, docs(s, d), "doc_id", "text",
            k = 8, minSpanTokens = 20)
          .select(col("doc_id"), col("ntok"), col("n_spans"),
            col("dup_tokens"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"),
            lit(2L).as("n_versions"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT o.*, CAST(2 AS BIGINT) AS n_versions
              |FROM ($spanDedupOracle) o ORDER BY o.doc_id""".stripMargin)),

    // DELTA-COMPOSED read path + compaction for the exact-index family
    // (llm/DeltaChain.scala): four disjoint batches fold into the span
    // index as a snapshot plus THREE live per-batch deltas — each fold
    // wrote only its batch's gram aggregate, never the cumulative
    // table — and the cleanse runs through the composed (union +
    // re-sum) read, which must replay q200's one-shot SQL bit-for-bit
    // (addition is associative; composition order cannot matter). The
    // query then compacts (deltas fold into one snapshot at the same
    // version), vacuums (snapshot v=1 + three composed deltas
    // reclaimed, = 4 dirs), and requires the snapshot-only read to
    // agree with the pre-compact composed read before emitting. Pins:
    // n_delta_versions = 3 (the composed read really crossed deltas),
    // live_version = 4, n_removed = 4.
    "q238_span_delta_chain" -> Q(
      (s, d) => {
        import graft.llm.{DeltaChain, SpanDedupIndex}
        val idx = graft.queries.Scratch.dir("graft-q238-deltachain") + "/idx"
        val all = docs(s, d)
        SpanDedupIndex.build(all.filter(col("doc_id") < 150), idx,
          "doc_id", "text")
        SpanDedupIndex.addBatch(s, idx,
          all.filter(col("doc_id") >= 150 && col("doc_id") < 250),
          "doc_id", "text")
        SpanDedupIndex.addBatch(s, idx,
          all.filter(col("doc_id") >= 250 && col("doc_id") < 350),
          "doc_id", "text")
        SpanDedupIndex.addBatch(s, idx,
          all.filter(col("doc_id") >= 350), "doc_id", "text")
        val nDeltas = DeltaChain.liveDeltaVersions(idx).size
        // the delta-composed read (3 live deltas), materialized before
        // vacuum deletes the directories its lazy plan would re-read
        val cleansed = SpanDedupIndex
          .cleanseWith(s, idx, all, "doc_id", "text",
            k = 8, minSpanTokens = 20)
          .materialized
        val dupsBefore = SpanDedupIndex
          .duplicatedFingerprints(s, idx).count()
        val live = SpanDedupIndex.compact(s, idx)
        val removed = SpanDedupIndex.vacuum(s, idx)
        val dupsAfter = SpanDedupIndex
          .duplicatedFingerprints(s, idx).count()
        require(dupsAfter == dupsBefore,
          s"compaction changed the composed table " +
            s"($dupsBefore -> $dupsAfter duplicated fingerprints)")
        cleansed
          .select(col("doc_id"), col("ntok"), col("n_spans"),
            col("dup_tokens"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"),
            lit(nDeltas.toLong).as("n_delta_versions"),
            lit(live.toLong).as("live_version"),
            lit(removed.toLong).as("n_removed"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT o.*, CAST(3 AS BIGINT) AS n_delta_versions,
              |  CAST(4 AS BIGINT) AS live_version,
              |  CAST(4 AS BIGINT) AS n_removed
              |FROM ($spanDedupOracle) o ORDER BY o.doc_id""".stripMargin)),

    // Span-level decontamination: the surgical complement of q196 — cut
    // only the benchmark-overlapping passage (≥ 20 verbatim tokens),
    // keep the document. Held-out split mirrors q196's shape (doc_id %
    // 97 residue class stands in for the eval suite) but pins residue 1,
    // whose members (98, 389, 486, ...) have injected near-dup partners
    // in the corpus at this SF — so the cut branch provably fires in the
    // gate; q196's residue 0 happens to share only sub-threshold runs
    // with the corpus). The cut machinery is q200's
    // with the duplicated-fingerprint set swapped for the benchmark's
    // distinct grams, so a doc quoting an eval answer loses exactly the
    // quote. Exact string-keyed matching for the same reason as q196:
    // a hash collision either discards good data or leaks eval answers.
    "q203_span_decontaminate" -> Q(
      (s, d) => {
        val all = docs(s, d)
        val bench = all.filter(col("doc_id") % 97 === 1)
        val corpus = all.filter(col("doc_id") % 97 =!= 1)
        SpanDedup.cleanseAgainst(corpus, "doc_id", "text",
            bench, "doc_id", "text", k = 8, minSpanTokens = 20)
          .select(col("doc_id"), col("ntok"), col("n_spans"),
            col("dup_tokens"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |gr0 AS (SELECT doc_id, CASE WHEN len(t) < 8 THEN [nm]
              |    ELSE list_transform(range(1, len(t) - 6),
              |           i -> array_to_string(t[i:i+7], ' ')) END AS gr
              |  FROM tok),
              |g0 AS (SELECT doc_id, unnest(range(len(gr))) AS pos,
              |    unnest(gr) AS sh FROM gr0),
              |g AS (SELECT doc_id, pos, md5(sh) AS f FROM g0),
              |ref AS (SELECT DISTINCT f FROM g WHERE doc_id % 97 = 1),
              |dp AS (SELECT doc_id, pos FROM g JOIN ref USING (f)
              |  WHERE doc_id % 97 <> 1),
              |rn AS (SELECT doc_id, pos, pos - row_number()
              |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
              |runs AS (SELECT doc_id, min(pos) AS s0, count(*) AS ng
              |  FROM rn GROUP BY doc_id, grp),
              |nt AS (SELECT doc_id,
              |    CASE WHEN nm = '' THEN 0 ELSE len(t) END AS ntok FROM tok
              |  WHERE doc_id % 97 <> 1),
              |q AS (SELECT r.doc_id, s0,
              |    least(s0 + ng + 7, ntok) - s0 AS sl
              |  FROM runs r JOIN nt USING (doc_id)
              |  WHERE least(s0 + ng + 7, ntok) - s0 >= 20),
              |tp AS (SELECT doc_id, unnest(range(len(t))) AS j,
              |    unnest(t) AS w FROM tok WHERE nm <> '' AND doc_id % 97 <> 1),
              |kept AS (SELECT tp.doc_id, j, w FROM tp
              |  WHERE NOT EXISTS (SELECT 1 FROM q
              |    WHERE q.doc_id = tp.doc_id
              |      AND tp.j >= q.s0 AND tp.j < q.s0 + q.sl)),
              |ks AS (SELECT doc_id, count(*) AS kc,
              |    string_agg(w, ' ' ORDER BY j) AS kt
              |  FROM kept GROUP BY doc_id),
              |nq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
              |  FROM q GROUP BY doc_id)
              |SELECT d.doc_id, CAST(nt.ntok AS BIGINT) AS ntok,
              |  coalesce(nq.n_spans, 0) AS n_spans,
              |  CAST(nt.ntok - coalesce(ks.kc, 0) AS BIGINT) AS dup_tokens,
              |  md5(coalesce(ks.kt, '')) AS kept_md5
              |FROM documents d JOIN nt USING (doc_id)
              |LEFT JOIN nq ON nq.doc_id = d.doc_id
              |LEFT JOIN ks ON ks.doc_id = d.doc_id
              |WHERE d.doc_id % 97 <> 1
              |ORDER BY d.doc_id""".stripMargin)),

    // Perceptual image near-dup (multimodal/PerceptualHash.scala):
    // dHash over DECODED rasters — per doc-pair (2g, 2g+1) the same
    // middle-square noise bitmap, the odd twin carrying a small (0,0)
    // red-channel edit and a DIFFERENT container (BMP vs PPM), so
    // byte-level dedup sees unrelated files while the 9×8
    // gradient-structure hash lands within a couple of bits. Banded
    // 16-bit-block candidates verified by exact XOR popcount. The
    // oracle replays the ENTIRE chain relationally — noise synthesis,
    // NN source mapping, grayscale, the 64 neighbor comparisons, both
    // hash halves, band keys, and the Hamming cut — so any decode,
    // orientation, or bit-layout mistake breaks the hash-match.
    "q204_image_phash_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MediaContainers, MultimodalOps, PerceptualHash}
        val encoded = docs(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val rgb = MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
              perturbR00 = if (id % 2 == 1) 8 else 0)
            val bytes =
              if (id % 2 == 0) MediaContainers.bmpBytesRgb(16, 12, rgb)
              else MediaContainers.ppmBytesRgb(16, 12, rgb)
            MultimodalOps.MediaRecord(id, bytes, "image")
          }
        val hashes = PerceptualHash
          .dHash(MultimodalOps.decodeImages(encoded)).toDF()
        PerceptualHash.nearDupPairs(hashes, "id", radius = 8)
          .orderBy("id_a", "id_b")
      },
      Some(phashOracle)),

    // q204's perceptual pipeline on REAL COMPRESSED payloads: the same
    // noise rasters arrive as PNG bytes (JDK ImageIO encode at
    // synthesis, decode through MediaContainers.decodeImageIoPixels
    // behind the decodeBatched seam — zero new dependencies), so the
    // chain is what a crawl actually contains: codec bytes → entropy
    // decode → raster → dHash → banded near-dup. PNG is lossless, so
    // the decoded raster is bit-identical to the synthesized one and
    // q204's closed-form oracle replays UNCHANGED — any codec,
    // color-model, or orientation mistake in the ImageIO path shifts
    // pixels and breaks the hash match. (JPEG, being lossy, is pinned
    // in MultimodalSpec as perceptual-hash stability instead — a lossy
    // codec can never sit in a byte-exact oracle.)
    "q239_png_phash_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MediaContainers, MultimodalOps, PerceptualHash}
        val encoded = docs(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val rgb = MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
              perturbR00 = if (id % 2 == 1) 8 else 0)
            MultimodalOps.MediaRecord(id,
              MediaContainers.pngBytesRgb(16, 12, rgb), "image")
          }
        val hashes = PerceptualHash
          .dHash(MultimodalOps.decodeImages(encoded)).toDF()
        PerceptualHash.nearDupPairs(hashes, "id", radius = 8)
          .orderBy("id_a", "id_b")
      },
      Some(phashOracle)),

    // Audio fingerprint near-dup — the acoustic sibling of q204: each
    // even doc's 520-sample noise clip paired with an odd twin at
    // EXACTLY half volume (samples are even by construction, so the
    // halving is exact integer division and frame-energy ORDER is
    // preserved — byte comparison sees unrelated buffers, the
    // energy-contour fingerprint is identical). RawAudio directly, the
    // q111/q187 precedent (wavBytes writes only silent payloads). The
    // banding/verify layer is the SAME hash-agnostic nearDupPairs as
    // q204. Oracle replays synthesis, frame energies, all 64
    // comparisons, both halves, band keys, and the Hamming cut.
    "q205_audio_fp_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MultimodalOps, PerceptualHash}
        val clips = docs(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            MultimodalOps.RawAudio(id,
              MultimodalOps.synthNoisePcm(id / 2, 520, halve = id % 2 == 1))
          }
        val hashes = PerceptualHash.audioFingerprint(clips).toDF()
        PerceptualHash.nearDupPairs(hashes, "id", radius = 8)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH smp AS (SELECT d.doc_id, i.i,
             |    ((d.doc_id // 2) * 40503 + i.i * 65521 + 12345)
             |      % 2147483648 AS u
             |  FROM documents d, range(0, 520) i(i)),
             |sv AS (SELECT doc_id, i,
             |    ((u * u) // 65536) % 65536 % 30000 - 15000 AS sb
             |  FROM smp),
             |sgn AS (SELECT doc_id, i,
             |    CASE WHEN doc_id % 2 = 1 THEN sb ELSE 2 * sb END AS s
             |  FROM sv),
             |fe AS (SELECT doc_id, i // 8 AS f, sum(s * s) AS e
             |  FROM sgn GROUP BY doc_id, i // 8),
             |bits AS (SELECT a.doc_id, a.f AS c,
             |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
             |  FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             |  WHERE a.f < 64),
             |h AS (SELECT doc_id,
             |    sum(CASE WHEN c < 32
             |        THEN CAST(bit AS BIGINT) << c ELSE 0 END) AS h1,
             |    sum(CASE WHEN c >= 32
             |        THEN CAST(bit AS BIGINT) << (c - 32) ELSE 0 END) AS h2
             |  FROM bits GROUP BY doc_id),
             |blk AS (SELECT doc_id, h1, h2,
             |    unnest([h1 & 65535, h1 >> 16, h2 & 65535, h2 >> 16]) AS key,
             |    unnest([0, 1, 2, 3]) AS band
             |  FROM h),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.h1 AS h1a, a.h2 AS h2a, b.h1 AS h1b, b.h2 AS h2b
             |  FROM blk a JOIN blk b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b,
             |  CAST(bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b))
             |    AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b)) <= 8
             |ORDER BY id_a, id_b""".stripMargin)),

    // Video near-dup — frames as the third modality through the SAME
    // perceptual layer: each doc is a 6-frame clip of noise bitmaps,
    // the odd twin TRIMMED by one frame (frame seeds shifted +1: five
    // shared frames, one new) — positional alignment would miss it;
    // set-matching over per-frame dHashes pairs it at matched_frames=5.
    // Frames arrive as decoded rasters (a video codec is out of scope
    // like JPEG — the documented multimodal non-goal); everything
    // downstream of decode is the real path. Oracle replays per-frame
    // synthesis, all 64 comparisons per frame, band keys, the per-frame
    // Hamming cut, and the distinct-frame count.
    "q206_video_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MultimodalOps, PerceptualHash}
        val frames = docs(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            (0 until 6).map { f =>
              val fs = (id / 2) * 7919 + f + (if (id % 2 == 1) 1 else 0)
              val (h1, h2) = PerceptualHash.dHashKernel(
                MultimodalOps.synthNoiseBitmap(fs, 16, 12), 16, 12)
              (id, f, h1, h2)
            }
          }.toDF("id", "f", "h1", "h2")
        PerceptualHash.videoNearDup(frames, radius = 4, minMatched = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH fr AS (SELECT d.doc_id, f.f,
             |    (d.doc_id // 2) * 7919 + f.f
             |      + CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE 0 END AS fs
             |  FROM documents d, range(0, 6) f(f)),
             |cell AS (SELECT doc_id, f, fs, x.x, y.y,
             |    (x.x * 16) // 9 AS sx, (y.y * 12) // 8 AS sy
             |  FROM fr, range(0, 9) x(x), range(0, 8) y(y)),
             |v AS (SELECT doc_id, f, x, y,
             |    (fs * 40503 + sx * 65521 + sy * 97531 + 24284)
             |      % 2147483648 AS v1,
             |    (fs * 40503 + sx * 65521 + sy * 97531 + 36223)
             |      % 2147483648 AS v2,
             |    (fs * 40503 + sx * 65521 + sy * 97531 + 48162)
             |      % 2147483648 AS v3
             |  FROM cell),
             |g AS (SELECT doc_id, f, x, y,
             |    (((v1 * v1) // 65536) % 256 + ((v2 * v2) // 65536) % 256
             |     + ((v3 * v3) // 65536) % 256) // 3 AS gv
             |  FROM v),
             |bits AS (SELECT a.doc_id, a.f, a.x, a.y,
             |    CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f
             |    AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 8),
             |h AS (SELECT doc_id, f,
             |    sum(CASE WHEN y < 4
             |        THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS h1,
             |    sum(CASE WHEN y >= 4
             |        THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS h2
             |  FROM bits GROUP BY doc_id, f),
             |blk AS (SELECT doc_id, f, h1, h2,
             |    unnest([h1 & 65535, h1 >> 16, h2 & 65535, h2 >> 16]) AS key,
             |    unnest([0, 1, 2, 3]) AS band
             |  FROM h),
             |fcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.f AS fa, b.f AS fb,
             |    a.h1 AS h1a, a.h2 AS h2a, b.h1 AS h1b, b.h2 AS h2b
             |  FROM blk a JOIN blk b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
             |fmatch AS (SELECT DISTINCT id_a, id_b, fa FROM fcand
             |  WHERE bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b)) <= 4),
             |pairs AS (SELECT id_a, id_b,
             |    CAST(count(*) AS BIGINT) AS matched_frames
             |  FROM fmatch GROUP BY id_a, id_b)
             |SELECT id_a, id_b, matched_frames FROM pairs
             |WHERE matched_frames >= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // Incremental perceptual dedup through the persisted band index
    // (multimodal/PHashIndex.scala): q204's corpus split EVEN/ODD — so
    // every twin pair straddles the batch boundary — batch 1 indexed,
    // batch 2 probed against history + itself, verified entirely from
    // the carried hash halves (history is never re-decoded; media bytes
    // are read once, at ingest). Union with batch 1's internal pairs
    // must reproduce q204's one-shot pair set exactly: the oracle IS
    // q204's SQL.
    "q207_phash_incremental" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MultimodalOps, PerceptualHash, PHashIndex}
        val dir = graft.queries.Scratch.dir("graft-q207-phidx")
        val hashes = docs(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val (h1, h2) = PerceptualHash.dHashKernel(
              MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
                perturbR00 = if (id % 2 == 1) 8 else 0), 16, 12)
            (id, h1, h2)
          }.toDF("id", "h1", "h2")
        val b1 = hashes.filter(col("id") % 2 === 0)
        val b2 = hashes.filter(col("id") % 2 === 1)
        PHashIndex.build(b1, s"$dir/idx")
        val p1 = PerceptualHash.nearDupPairs(b1, "id", radius = 8)
        val p2 = PHashIndex.incrementalNearDupPairs(
          s, s"$dir/idx", b2, "id", radius = 8)
        PHashIndex.append(b2, s"$dir/idx")
        p1.union(p2).orderBy("id_a", "id_b")
      },
      Some(phashOracle)),

    // Streaming perceptual ingest: q207's probe-then-append fold under
    // the REAL engine (StreamOps.replayFiles and drain — the q192/q202
    // protocol).
    // Each arriving batch is hashed once, probed against indexed
    // history AND itself, its dedup DECISIONS written, then its band
    // rows appended — the ingest-time image-dedup loop. Even/odd ids
    // across the two batches ⇒ every twin pair is an ingest-time
    // cross-history hit; the accumulated decisions must reproduce
    // q204's one-shot pair set exactly, and n_batches pins real
    // microbatch delivery.
    "q208_stream_phash_ingest" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MultimodalOps, PerceptualHash, PHashIndex}
        val root = graft.queries.Scratch.dir("graft-q208-phstream")
        val ids = docs(s, d).select(col("doc_id"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          ids.filter(col("doc_id") % 2 === 0),
          ids.filter(col("doc_id") % 2 === 1)))
        val idx = s"$root/idx"
        val decisions = s"$root/decisions"
        val nBatches = StreamOps.drain(stream, s"$root/ck") { (b, _) =>
          val h = b.select(col("doc_id")).as[Long].map { id =>
            val (h1, h2) = PerceptualHash.dHashKernel(
              MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
                perturbR00 = if (id % 2 == 1) 8 else 0), 16, 12)
            (id, h1, h2)
          }.toDF("id", "h1", "h2").materialized
          val fresh = graft.llm.IndexLog.read(idx).latestVersion.isEmpty
          val found =
            if (fresh) PerceptualHash.nearDupPairs(h, "id", radius = 8)
            else PHashIndex.incrementalNearDupPairs(
              s, idx, h, "id", radius = 8)
          found.write.mode("append").parquet(decisions)
          if (fresh) PHashIndex.build(h, idx)
          else PHashIndex.append(h, idx)
        }
        require(nBatches == 2, s"expected two microbatches, saw $nBatches")
        Parquet.read(s, decisions)
          .withColumn("n_batches", lit(2L))
          .orderBy("id_a", "id_b")
      },
      Some(s"""SELECT o.*, CAST(2 AS BIGINT) AS n_batches
              |FROM ($phashOracle) o ORDER BY o.id_a, o.id_b""".stripMargin)),

    // Multimodal duplicate families — the capstone composition: a
    // document pair is a duplicate if EITHER modality matches (text
    // MinHash near-dup at jaccard ≥ 0.5 ∪ image dHash within Hamming
    // 8), and the union graph's connected components are the family
    // ids. On this corpus the families genuinely MERGE across
    // modalities: image twins (2g, 2g+1) chain with text near-dup
    // pairs into components neither modality finds alone. The oracle
    // replays both pair generators (the shared exact-Jaccard chain +
    // the full phash replay as a scoped subquery) and the transitive
    // closure as a recursive CTE.
    "q209_multimodal_dup_families" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{MultimodalOps, PerceptualHash}
        val dd = docs(s, d)
        val textPairs = graft.llm.MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b")
        val hashes = dd.select(col("doc_id")).as[Long]
          .map { id =>
            val (h1, h2) = PerceptualHash.dHashKernel(
              MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
                perturbR00 = if (id % 2 == 1) 8 else 0), 16, 12)
            (id, h1, h2)
          }.toDF("id", "h1", "h2")
        val imgPairs = PerceptualHash.nearDupPairs(hashes, "id", radius = 8)
          .select("id_a", "id_b")
        val cc = graft.operators.ConnectedComponents
          .run(textPairs.union(imgPairs).distinct(), "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        dd.select("doc_id").join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("family_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $jaccardPairsCtes,
              |tpr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5),
              |ipr AS (SELECT id_a, id_b FROM ($phashOracle)),
              |upr AS (SELECT id_a, id_b FROM tpr
              |        UNION SELECT id_a, id_b FROM ipr),
              |uedges AS (SELECT id_a AS u, id_b AS v FROM upr
              |           UNION SELECT id_b, id_a FROM upr),
              |reach2(u, v) AS (SELECT u, v FROM uedges
              |  UNION SELECT r.u, e.v FROM reach2 r JOIN uedges e ON r.v = e.u),
              |fam AS (SELECT u AS doc_id, least(u, min(v)) AS family_id
              |        FROM reach2 GROUP BY u)
              |SELECT d.doc_id, coalesce(f.family_id, d.doc_id) AS family_id
              |FROM documents d LEFT JOIN fam f USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Incremental embedding-level dedup through the persisted
    // hyperplane-LSH band index (llm/EmbeddingLshIndex.scala) — the
    // vector member of the band-key index wing, completing the
    // symmetry: every dedup modality (line, shingle, simhash, winnow,
    // span, perceptual, and now embedding) has one-shot → persisted
    // incremental → streaming forms. q31's corpus split EVEN/ODD,
    // batch 1 indexed, batch 2 probed against history + itself;
    // candidates come from the narrow (id, table, sig) band join and
    // verification joins the index's own vecs/ table — the source
    // corpus is never re-read. Union with batch 1's internal pairs
    // must reproduce q31's one-shot pair set exactly: the oracle IS
    // q31's SQL.
    "q210_embed_lsh_incremental" -> Q(
      (s, d) => {
        import graft.llm.{EmbeddingKnn, EmbeddingLshIndex}
        val dir = graft.queries.Scratch.dir("graft-q210-elidx")
        val e = emb(s, d)
        val b1 = e.filter(col("vec_id") % 2 === 0)
        val b2 = e.filter(col("vec_id") % 2 === 1)
        EmbeddingLshIndex.build(b1, s"$dir/idx", planesPerTable = 8)
        val p1 = EmbeddingKnn.nearDupPairsLsh(b1, threshold = 0.4,
          tables = 8, planesPerTable = 8, dim = 64)
        val p2 = EmbeddingLshIndex.incrementalNearDupPairs(
          s, s"$dir/idx", b2, threshold = 0.4)
        EmbeddingLshIndex.append(b2, s"$dir/idx")
        p1.union(p2).orderBy("id_a", "id_b")
      },
      Some(embLshOracle)),

    // Streaming embedding-dedup ingest: q210's probe-then-append fold
    // under the REAL engine (StreamOps.replayFiles and drain — the
    // q192/q202/q208 protocol). Each arriving vector batch is
    // signature-hashed once, probed against indexed history AND
    // itself, its dedup DECISIONS written, then appended — the
    // ingest-time embedding-dedup loop. Even/odd ids across the two
    // batches ⇒ every near-dup pair is an ingest-time cross-history
    // hit; the accumulated decisions must reproduce q31's one-shot
    // pair set exactly, and n_batches pins real microbatch delivery.
    "q211_stream_embed_ingest" -> Q(
      (s, d) => {
        import graft.llm.{EmbeddingKnn, EmbeddingLshIndex}
        val root = graft.queries.Scratch.dir("graft-q211-elstream")
        val e = emb(s, d).select("vec_id", "embedding")
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1)))
        val idx = s"$root/idx"
        val decisions = s"$root/decisions"
        val nBatches = StreamOps.drain(stream, s"$root/ck") { (b, _) =>
          val batch = b.materialized
          val fresh = graft.llm.IndexLog.read(idx).latestVersion.isEmpty
          val found =
            if (fresh) EmbeddingKnn.nearDupPairsLsh(batch, threshold = 0.4)
            else EmbeddingLshIndex.incrementalNearDupPairs(
              s, idx, batch, threshold = 0.4)
          found.write.mode("append").parquet(decisions)
          if (fresh) EmbeddingLshIndex.build(batch, idx, planesPerTable = 8)
          else EmbeddingLshIndex.append(batch, idx)
        }
        require(nBatches == 2, s"expected two microbatches, saw $nBatches")
        Parquet.read(s, decisions)
          .withColumn("n_batches", lit(2L))
          .orderBy("id_a", "id_b")
      },
      Some(s"""SELECT o.*, CAST(2 AS BIGINT) AS n_batches
              |FROM ($embLshOracle) o ORDER BY o.id_a, o.id_b""".stripMargin)),

    // Dense-bucket canopy handoff: the answer to what a bucket cap
    // silently loses. Clustered corpora defeat LSH geometry scaling —
    // a tight semantic cluster shares sign bits at any resolution, so
    // its bucket deepens with the corpus and its pairwise join goes
    // quadratic. Here buckets over the cap are NOT dropped: each
    // member verifies against the bucket's min-id REPRESENTATIVE only
    // (O(c) per bucket — a canopy pass), while under-cap buckets take
    // the normal pairwise join; one shared exact-cosine verify runs
    // over the distinct candidate union. 5-bit signatures + cap=20
    // make 51 of this corpus's buckets hot (1230 of 4000 band rows)
    // while 2770 band rows take the cold path, so BOTH generators do
    // real work in the gate. The oracle replays planes, signatures,
    // bucket census, both candidate generators, and the verify.
    "q212_embed_canopy_neardup" -> Q(
      (s, d) => graft.llm.EmbeddingKnn
        .nearDupPairsLshCanopy(emb(s, d), threshold = 0.4,
          tables = 8, planesPerTable = 5, dim = 64, maxBucketSize = 20L)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${radDotsSql(40)},
              |sigs AS (SELECT vec_id, p // 5 AS t,
              |    SUM(CASE WHEN dot >= 0.0 THEN 1 << (p % 5) ELSE 0 END) AS sig
              |  FROM dots GROUP BY vec_id, p // 5),
              |bsz AS (SELECT t, sig, count(*) AS c FROM sigs GROUP BY t, sig),
              |k AS (SELECT s.vec_id, s.t, s.sig, bsz.c
              |      FROM sigs s JOIN bsz USING (t, sig)),
              |coldc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM k a JOIN k b ON a.t = b.t AND a.sig = b.sig
              |                   AND a.vec_id < b.vec_id
              |  WHERE a.c <= 20),
              |hotrep AS (SELECT t, sig, min(vec_id) AS rep
              |           FROM k WHERE c > 20 GROUP BY t, sig),
              |hotc AS (SELECT h.rep AS id_a, m.vec_id AS id_b
              |  FROM hotrep h JOIN k m ON m.t = h.t AND m.sig = h.sig
              |                        AND m.vec_id != h.rep),
              |cand AS (SELECT DISTINCT id_a, id_b FROM
              |  (SELECT * FROM coldc UNION ALL SELECT * FROM hotc)),
              |sc AS (SELECT id_a, id_b,
              |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
              |                                 CAST(eb.embedding AS DOUBLE[])), 6) AS sim
              |  FROM cand JOIN embeddings ea ON ea.vec_id = id_a
              |            JOIN embeddings eb ON eb.vec_id = id_b)
              |SELECT id_a, id_b, sim FROM sc WHERE sim >= 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    // Semantic (embedding-tier) decontamination — the cleanse family's
    // vector member (word-shingle: q196, exact-span: q203): training
    // vectors with ANY banded-LSH + cosine≥t near-dup in the held-out
    // eval slice are dropped; the cleansed corpus survives. The eval
    // slice (vec_id % 10 = 8) is pinned where the gate corpus has real
    // cross-split semantic mass: 17 of 450 train vectors are
    // contaminated at t=0.35 under q31's 8×8-bit geometry, so both the
    // drop branch and the survivor branch fire. Eval bands and the
    // contaminated-id set ride as broadcasts — the training corpus is
    // never shuffled. The oracle replays planes, banding, the verify,
    // and the anti-join.
    "q213_embed_decontaminate" -> Q(
      (s, d) => {
        val e = emb(s, d)
        graft.llm.EmbeddingKnn.cleanseAgainst(
            e.filter(col("vec_id") % 10 =!= 8),
            e.filter(col("vec_id") % 10 === 8),
            threshold = 0.35)
          .select(col("vec_id"), col("label"))
          .orderBy("vec_id")
      },
      Some(embCleanseOracle)),

    // Streaming admission-time semantic decontamination: the eval
    // slice is built ONCE into a persisted embedding-LSH index, then
    // training vectors arrive through REAL microbatches and each batch
    // is cleansed against the index BEFORE admission (probe-only —
    // no batch-internal pairs; the reference is a fixed contamination
    // source). Admitted rows accumulate; their union must equal
    // q213's one-shot cleansed corpus exactly, and n_batches pins
    // real microbatch delivery. This completes the cleanse family's
    // one-shot → index-backed-streaming symmetry at the vector tier
    // (exact-span: q200 → q202/q203).
    "q214_stream_embed_decontaminate" -> Q(
      (s, d) => {
        import graft.llm.EmbeddingLshIndex
        val root = graft.queries.Scratch.dir("graft-q214-cleanse")
        val e = emb(s, d).select("vec_id", "embedding", "label")
        val train = e.filter(col("vec_id") % 10 =!= 8)
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          train.filter(col("vec_id") % 2 === 0),
          train.filter(col("vec_id") % 2 === 1)))
        val idx = s"$root/idx"
        EmbeddingLshIndex.build(e.filter(col("vec_id") % 10 === 8), idx,
          planesPerTable = 8)
        val admitted = s"$root/admitted"
        val nBatches = StreamOps.drain(stream, s"$root/ck") { (b, _) =>
          EmbeddingLshIndex.cleanseWith(s, idx, b.materialized,
              threshold = 0.35)
            .select("vec_id", "label")
            .write.mode("append").parquet(admitted)
        }
        require(nBatches == 2, s"expected two microbatches, saw $nBatches")
        Parquet.read(s, admitted)
          .withColumn("n_batches", lit(2L))
          .orderBy("vec_id")
      },
      Some(s"""SELECT o.*, CAST(2 AS BIGINT) AS n_batches
              |FROM ($embCleanseOracle) o ORDER BY o.vec_id""".stripMargin)),

    // Embedding dedup FAMILIES with survivor selection — the vector
    // tier's full pairs → connected-components → survivor pipeline
    // (text: q42/q43, multimodal union: q209). LSH near-dup pairs at
    // t=0.35 feed the large-star/small-star closure; each family keeps
    // its min-id member as the survivor (deterministic, so the dedup
    // DECISION — not just the pair set — is cross-engine checkable).
    // The oracle replays planes → banding → verify → transitive
    // closure (recursive CTE) → survivor pick.
    "q215_embed_dedup_survivors" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val pairs = graft.llm.EmbeddingKnn
          .nearDupPairsLsh(e, threshold = 0.35,
            tables = 8, planesPerTable = 8, dim = 64)
          .select("id_a", "id_b")
        val cc = graft.operators.ConnectedComponents
          .run(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "vec_id")
        e.select("vec_id").join(cc, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("vec_id")).as("family_id"))
          .withColumn("survivor", col("vec_id") === col("family_id"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${radDotsSql(64)},
              |sigs AS (SELECT vec_id, p // 8 AS t,
              |    SUM(CASE WHEN dot >= 0.0 THEN 1 << (p % 8) ELSE 0 END) AS sig
              |  FROM dots GROUP BY vec_id, p // 8),
              |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
              |                         AND a.vec_id < b.vec_id),
              |pr AS (SELECT id_a, id_b FROM cand
              |  JOIN embeddings ea ON ea.vec_id = id_a
              |  JOIN embeddings eb ON eb.vec_id = id_b
              |  WHERE round(list_cosine_similarity(
              |      CAST(ea.embedding AS DOUBLE[]),
              |      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35),
              |uedges AS (SELECT id_a AS u, id_b AS v FROM pr
              |           UNION SELECT id_b, id_a FROM pr),
              |reach(u, v) AS (SELECT u, v FROM uedges
              |  UNION SELECT r.u, e.v FROM reach r JOIN uedges e ON r.v = e.u),
              |fam AS (SELECT u AS vec_id, least(u, min(v)) AS family_id
              |        FROM reach GROUP BY u)
              |SELECT e.vec_id, coalesce(f.family_id, e.vec_id) AS family_id,
              |  (e.vec_id = coalesce(f.family_id, e.vec_id)) AS survivor
              |FROM embeddings e LEFT JOIN fam f USING (vec_id)
              |ORDER BY e.vec_id""".stripMargin)),

    // Eval-side contamination telemetry (GPT-3 appendix C methodology):
    // for each held-out doc, the fraction of its distinct word 8-grams
    // that appear ANYWHERE in the training split — the number an
    // eval-integrity dashboard tracks per benchmark release. q196 asks
    // "which training docs must go"; this asks "how burned is each
    // eval doc if nothing goes", and clean docs are emitted with
    // overlap 0 (absent rows invite survivorship mistakes). The
    // held-out residue is q203's pinned slice (doc_id % 97 = 1), whose
    // members 98/389/486 have verbatim-run near-dup partners in train
    // — so the report shows real contamination next to real zeros.
    // Join key is the shingle STRING (never a hash: a collision here
    // is a silent false positive with no verifier behind it).
    "q216_ngram_overlap_report" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        graft.llm.Decontaminate.report(
            dd.filter(col("doc_id") % 97 =!= 1),
            dd.filter(col("doc_id") % 97 === 1),
            "doc_id", "text", n = 8)
          .orderBy("ref_id")
      },
      Some(s"""WITH ${shingleSetsCtesN("documents", 8)},
              |tg AS (SELECT DISTINCT unnest(sh) AS g FROM sets
              |       WHERE doc_id % 97 != 1),
              |rg AS (SELECT doc_id AS ref_id, unnest(sh) AS g FROM sets
              |       WHERE doc_id % 97 = 1),
              |hit AS (SELECT ref_id, CAST(count(*) AS BIGINT) AS n_contaminated
              |        FROM rg WHERE g IN (SELECT g FROM tg) GROUP BY ref_id)
              |SELECT s.doc_id AS ref_id,
              |  CAST(len(s.sh) AS BIGINT) AS n_grams,
              |  coalesce(h.n_contaminated, 0) AS n_contaminated,
              |  round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
              |        / len(s.sh), 6) AS overlap_frac
              |FROM sets s LEFT JOIN hit h ON h.ref_id = s.doc_id
              |WHERE s.doc_id % 97 = 1
              |ORDER BY ref_id""".stripMargin)),

    // Deterministic quality-proportional resampling (the importance-
    // resampling shape: keep probability ∝ a per-doc quality weight,
    // realized with a content-independent doc-id hash so the SAMPLE IS
    // A FIXED OBJECT — reproducible run-to-run, join-stable across
    // pipeline stages, and replayable by any engine; no RNG state).
    // Weight = alpha_ratio ∈ [0,1] (exact-int→double, bit-stable), so
    // a doc survives iff md5-bucket(doc_id) < ⌊1e6·alpha_ratio⌋ —
    // high-alpha prose keeps ~its ratio, symbol soup is mostly culled.
    // Same md5-bucket idiom as q199's mixture rebalance.
    "q217_quality_resample" -> Q(
      (s, d) => {
        val len = length(col("text")).cast("long")
        val ar = coalesce(
          when(len === 0, lit(null).cast("double"))
            .otherwise(graft.functions.TextFunctions.alphaChars(col("text"))
              .cast("double") / len),
          lit(0.0))
        docs(s, d)
          .select(col("doc_id"), ar.as("alpha_ratio"))
          .withColumn("bucket",
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("long") % 1000000L)
          .filter(col("bucket") < floor(col("alpha_ratio") * 1000000L))
          .select(col("doc_id"), round(col("alpha_ratio"), 6).as("alpha_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |        AS DOUBLE) / length(text), 6) AS alpha_ratio
             |FROM documents
             |WHERE length(text) > 0
             |  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |        AS BIGINT) % 1000000
             |      < floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |              AS DOUBLE) / length(text) * 1000000)
             |ORDER BY doc_id""".stripMargin)),

    // Token-budget corpus selection: fill a fixed training-token budget
    // with the best documents first (rank by alpha_ratio desc, tie
    // doc_id; strict prefix of the rank order whose cumulative
    // whitespace-token weight stays within budget). 12,000 of the
    // corpus's 27,165 tokens, so the cut bites mid-corpus. The engine
    // runs the two-phase bucketed cumsum (no single-task global
    // window); the oracle runs the LITERAL global window — the hash
    // match IS the proof the two-phase decomposition is exact.
    "q218_token_budget_fill" -> Q(
      (s, d) => {
        val len = length(col("text")).cast("long")
        val ar = when(len === 0, lit(null).cast("double"))
          .otherwise(graft.functions.TextFunctions.alphaChars(col("text"))
            .cast("double") / len)
        graft.llm.TokenBudget.fill(docs(s, d), "doc_id",
            graft.functions.TextFunctions.tokenCount(col("text")),
            ar, budget = 12000L)
          .orderBy("doc_id")
      },
      Some("""WITH q AS (SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
             |    1.0 - coalesce(
             |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |           AS DOUBLE) / nullif(length(text), 0), 0.0) AS key
             |  FROM documents),
             |c AS (SELECT doc_id, w,
             |    sum(w) OVER (ORDER BY key, doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM q)
             |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM c WHERE cum_tokens <= 12000
             |ORDER BY doc_id""".stripMargin)),

    // End-to-end curation pipeline — the capstone composition of the
    // selection tier, in the order a production corpus build runs it:
    //   raw docs → near-dup FAMILIES, keep min-id survivor (q43's
    //   MinHash pairs + CC closure) → quality-proportional resample
    //   (q217's md5-bucket rule) → token-budget fill (q218's strict
    //   prefix, budget 10k of the 20,857 surviving tokens — the cut
    //   bites mid-pool). Every stage is a deterministic object, so the
    //   FINAL training set is one too: the oracle replays dedup
    //   closure → resample → literal-window budget in a single SQL
    //   chain, and the hash match pins the whole pipeline, not just
    //   its stages.
    "q219_curation_pipeline" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        val survivors = Dedup.byNearDupPairs(dd, "doc_id", pairs)
        val len = length(col("text")).cast("long")
        val ar = coalesce(
          when(len === 0, lit(null).cast("double"))
            .otherwise(graft.functions.TextFunctions.alphaChars(col("text"))
              .cast("double") / len),
          lit(0.0))
        val resampled = survivors
          .withColumn("__ar", ar)
          .withColumn("__bucket",
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("long") % 1000000L)
          .filter(col("__bucket") < floor(col("__ar") * 1000000L))
        graft.llm.TokenBudget.fill(resampled, "doc_id",
            graft.functions.TextFunctions.tokenCount(col("text")),
            col("__ar"), budget = 10000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes,
              |surv AS (SELECT doc_id, text FROM documents
              |  WHERE doc_id NOT IN
              |    (SELECT doc_id FROM comp WHERE group_id <> doc_id)),
              |res AS (SELECT doc_id,
              |    CASE WHEN length(trim(text)) = 0 THEN 0
              |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS w,
              |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |         AS DOUBLE) / length(text) AS ar
              |  FROM surv WHERE length(text) > 0
              |    AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              |          AS BIGINT) % 1000000
              |        < floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |                AS DOUBLE) / length(text) * 1000000)),
              |c AS (SELECT doc_id, w,
              |    sum(w) OVER (ORDER BY (1.0 - ar), doc_id
              |                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
              |  FROM res)
              |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
              |  CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM c WHERE cum_tokens <= 10000
              |ORDER BY doc_id""".stripMargin)),

    // Per-source token budgets — mixture allocation in TOKENS, the
    // unit trainers budget in (q198's per-source quotas count DOCS,
    // which over-serves sources of long documents): every source
    // independently fills its quality-ranked strict prefix up to 800
    // tokens (each source holds 1.1-1.5k, so the cut bites in all 20).
    // Engine: the grouped two-phase cumsum (windows keyed by source,
    // ≤256·sources offset rows broadcast); oracle: the literal
    // PARTITION BY window.
    "q220_source_token_budgets" -> Q(
      (s, d) => {
        val len = length(col("text")).cast("long")
        val ar = when(len === 0, lit(null).cast("double"))
          .otherwise(graft.functions.TextFunctions.alphaChars(col("text"))
            .cast("double") / len)
        graft.llm.TokenBudget.fillPerGroup(docs(s, d), "doc_id",
            graft.functions.TextFunctions.tokenCount(col("text")),
            ar, budget = 800L, groupCols = Seq("source"))
          .orderBy("source", "doc_id")
      },
      Some("""WITH q AS (SELECT source, doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
             |    1.0 - coalesce(
             |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |           AS DOUBLE) / nullif(length(text), 0), 0.0) AS key
             |  FROM documents),
             |c AS (SELECT source, doc_id, w,
             |    sum(w) OVER (PARTITION BY source ORDER BY key, doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM q)
             |SELECT source, doc_id, CAST(w AS BIGINT) AS n_tokens,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM c WHERE cum_tokens <= 800
             |ORDER BY source, doc_id""".stripMargin)),

    // Streaming token-quota ADMISSION — the selection tier under the
    // real engine with ARBITRARY STATE (flatMapGroupsWithState): each
    // source admits documents in ARRIVAL order until its 800-token
    // quota closes, state = (consumed, closed) carried across
    // microbatches. The contrast with q220 is the point: a batch
    // budget re-ranks by quality; an ingest gate cannot re-rank the
    // future, so admission order is arrival order, and the strict
    // prefix (first overflow closes the source for good) makes the
    // accumulated admissions equal the batch window cut over
    // (batch, doc_id) — which is exactly what the oracle replays.
    "q221_stream_quota_admission" -> Q(
      (s, d) => {
        val root = graft.queries.Scratch.dir("graft-q221-quota")
        val dd = docs(s, d).select(col("source"), col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("w"))
        val admitted = s"$root/admitted"
        val q = StreamOps.tokenQuotaAdmission(
            StreamOps.replayFiles(s"$root/src", Seq(
              dd.filter(col("doc_id") % 2 === 0),
              dd.filter(col("doc_id") % 2 === 1))),
            quota = 800L)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/ck")
          .option("path", admitted)
          .outputMode("append")
          .format("parquet")
          .start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        require(nBatches == 2, s"expected two microbatches, saw $nBatches")
        Parquet.read(s, admitted)
          .withColumn("n_batches", lit(2L))
          .orderBy("source", "doc_id")
      },
      Some("""WITH q AS (SELECT source, doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
             |  FROM documents),
             |c AS (SELECT source, doc_id, w,
             |    sum(w) OVER (PARTITION BY source ORDER BY doc_id % 2, doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM q)
             |SELECT source, doc_id, CAST(w AS BIGINT) AS n_tokens,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
             |  CAST(2 AS BIGINT) AS n_batches
             |FROM c WHERE cum_tokens <= 800
             |ORDER BY source, doc_id""".stripMargin)),

    // STATE TELEMETRY under the oracle gate — the q221 admission gate's
    // kind=state side channel (per (source, batch): rows received,
    // cumulative consumed tokens, closed flag, emitted from INSIDE the
    // state machine where a closed source's pressure is still visible)
    // replayed relationally: n_input is a per-(source, batch) count,
    // consumed is the admitted-token cumsum capped by the strict-prefix
    // quota cut, closed is the running any-overflow flag — all three
    // expressible as window aggregates over the same arrival order the
    // oracle already pins for q221. Idempotent per-batch sink (q237's
    // batch=N overwrite protocol); batch attribution comes from the
    // committed dirs.
    "q241_stream_quota_telemetry" -> Q(
      (s, d) => {
        val root = graft.queries.Scratch.dir("graft-q241-quotatel")
        val dd = docs(s, d).select(col("source"), col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("w"))
        val telemetry = StreamOps.tokenQuotaAdmissionWithTelemetry(
          StreamOps.replayFiles(s"$root/src", Seq(
            dd.filter(col("doc_id") % 2 === 0),
            dd.filter(col("doc_id") % 2 === 1))),
          quota = 800L)
        StreamOps.drain(telemetry, s"$root/ck") { (b, bid) =>
          b.filter(col("kind") === "state")
            .select(col("source"), col("n_input"), col("consumed"),
              col("closed").cast("long").as("closed"))
            .write.mode("overwrite").parquet(s"$root/state/batch=$bid")
        }
        val batchDirs = Option(new java.io.File(s"$root/state").listFiles())
          .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
          .getOrElse(0)
        require(batchDirs == 2, s"expected two delivered microbatches")
        Parquet.read(s, s"$root/state")
          .select(col("source"), col("batch").cast("long").as("batch"),
            col("n_input"), col("consumed"), col("closed"))
          .orderBy("source", "batch")
      },
      Some("""WITH q AS (SELECT source, doc_id, doc_id % 2 AS b,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
             |  FROM documents),
             |c AS (SELECT source, b, w,
             |    sum(w) OVER (PARTITION BY source ORDER BY b, doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM q),
             |agg AS (SELECT source, b, count(*) AS n_input,
             |    sum(CASE WHEN cum <= 800 THEN w ELSE 0 END) AS adm_w,
             |    max(CASE WHEN cum > 800 THEN 1 ELSE 0 END) AS ovf
             |  FROM c GROUP BY source, b),
             |run AS (SELECT source, b, n_input,
             |    sum(adm_w) OVER (PARTITION BY source ORDER BY b
             |                     ROWS UNBOUNDED PRECEDING) AS consumed,
             |    max(ovf) OVER (PARTITION BY source ORDER BY b
             |                   ROWS UNBOUNDED PRECEDING) AS closed
             |  FROM agg)
             |SELECT source, CAST(b AS BIGINT) AS batch,
             |  CAST(n_input AS BIGINT) AS n_input,
             |  CAST(consumed AS BIGINT) AS consumed,
             |  CAST(closed AS BIGINT) AS closed
             |FROM run ORDER BY source, batch""".stripMargin)),

    // Dominant crawl A/V containers (MP4 box walk, FLAC STREAMINFO,
    // MP3 frame header, Ogg/Opus BOS page) through the native av_meta
    // sniff: both engines construct IDENTICAL header bytes in hex (the
    // checksum pins byte equality), Spark parses the real bytes with
    // the header-only walks in multimodal/MediaContainers, and the
    // oracle predicts every field in closed form from the staging
    // params — a differential proof the parsers read what the specs
    // say the bytes mean. Header-only is the 100-TB posture: the
    // metadata tier reads tens of bytes per object, never a payload,
    // and never needs a codec library. doc_id=1 stages FLAC's
    // total-samples=0 ("unknown") edge → NULL n_frames.
    "q242_av_container_meta" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        def be32(v: String) = s"format_string('%08x', $v)"
        def be16(v: String) = s"format_string('%04x', $v)"
        def le32(v: String) = s"format_string('%02x%02x%02x%02x', $v & 255, " +
          s"shiftright($v, 8) & 255, shiftright($v, 16) & 255, shiftright($v, 24) & 255)"
        val mx = "000100000000000000000000000000000001" +
          "000000000000000000000000000040000000"
        val z10 = "0" * 20; val z24 = "0" * 48; val z16 = "0" * 32
        val mp4Hex = "concat('000000106674797069736f6d00000000', " +
          "'000000d86d6f6f76', " +
          s"'0000006c6d766864000000000000000000000000', ${be32("ts")}, " +
          s"${be32("dur")}, '000100000100', '$z10', '$mx', '$z24', " +
          "'00000002', '000000647472616b', " +
          "'0000005c746b686400000007000000000000000000000001', " +
          s"'00000000', ${be32("dur")}, '0000000000000000', " +
          s"'0000000000000000', '$mx', ${be16("vw")}, '0000', " +
          s"${be16("vh")}, '0000')"
        val flacHex = "concat('664c614380000022', '10001000', " +
          "'000000000000', format_string('%016x', shiftleft(fr, 44) + " +
          s"shiftleft(fch - 1, 41) + shiftleft(fbps - 1, 36) + fts), '$z16')"
        val mp3Hex = "concat('fffb', " +
          "format_string('%02x', bri * 16 + sri * 4), " +
          "CASE WHEN mono = 1 THEN 'c0' ELSE '00' END)"
        val oggHex = "concat('4f6767530002', '" + ("0" * 40) + "', '0113', " +
          "'4f70757348656164', '01', format_string('%02x', och), '3801', " +
          s"${le32("orate")}, '000000')"
        val staged = docs(s, d).select(col("doc_id"),
          expr("600 + (doc_id % 10) * 100").as("ts"),
          expr("1000 + (doc_id * 17) % 100000").as("dur"),
          expr("16 + (doc_id * 3) % 1904").as("vw"),
          expr("16 + (doc_id * 5) % 1064").as("vh"),
          expr("8000 + (doc_id % 12) * 4000").as("fr"),
          expr("1 + doc_id % 8").as("fch"),
          expr("8 + (doc_id % 3) * 8").as("fbps"),
          expr("CASE WHEN doc_id = 1 THEN 0 ELSE doc_id * 441 END").as("fts"),
          expr("1 + doc_id % 14").as("bri"),
          expr("doc_id % 3").as("sri"),
          expr("CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 0 END").as("mono"),
          expr("1 + doc_id % 2").as("och"),
          expr("8000 + (doc_id % 5) * 8000").as("orate"))
        staged.withColumn("media", expr(
            s"unhex(CASE WHEN doc_id % 4 = 0 THEN $mp4Hex " +
              s"WHEN doc_id % 4 = 1 THEN $flacHex " +
              s"WHEN doc_id % 4 = 2 THEN $mp3Hex ELSE $oggHex END)"))
          .select(col("doc_id"),
            octet_length(col("media")).cast("long").as("byte_len"),
            expr("av_meta(media)").as("m"),
            md5(hex(col("media"))).as("checksum"))
          .select(col("doc_id"), col("byte_len"),
            col("m.format").as("format"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.n_frames").as("n_frames"),
            col("m.sample_rate").as("sample_rate"),
            col("m.channels").as("channels"),
            col("m.duration_ticks").as("duration_ticks"),
            col("m.timescale").as("timescale"), col("checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH params AS (
             |  SELECT doc_id, doc_id % 4 AS m,
             |         600 + (doc_id % 10) * 100 AS ts,
             |         1000 + (doc_id * 17) % 100000 AS dur,
             |         16 + (doc_id * 3) % 1904 AS vw,
             |         16 + (doc_id * 5) % 1064 AS vh,
             |         8000 + (doc_id % 12) * 4000 AS fr,
             |         1 + doc_id % 8 AS fch,
             |         8 + (doc_id % 3) * 8 AS fbps,
             |         CASE WHEN doc_id = 1 THEN 0 ELSE doc_id * 441 END AS fts,
             |         1 + doc_id % 14 AS bri,
             |         doc_id % 3 AS sri,
             |         CASE WHEN doc_id % 8 = 2 THEN 1 ELSE 0 END AS mono,
             |         1 + doc_id % 2 AS och,
             |         8000 + (doc_id % 5) * 8000 AS orate
             |  FROM documents),
             |blobs AS (
             |  SELECT *, unhex(CASE
             |    WHEN m = 0 THEN
             |      '000000106674797069736f6d00000000' || '000000d86d6f6f76' ||
             |      '0000006c6d766864000000000000000000000000' ||
             |      printf('%08x', ts) || printf('%08x', dur) ||
             |      '000100000100' || repeat('0', 20) ||
             |      '000100000000000000000000000000000001000000000000000000000000000040000000' ||
             |      repeat('0', 48) || '00000002' || '000000647472616b' ||
             |      '0000005c746b686400000007000000000000000000000001' ||
             |      '00000000' || printf('%08x', dur) || '0000000000000000' ||
             |      '0000000000000000' ||
             |      '000100000000000000000000000000000001000000000000000000000000000040000000' ||
             |      printf('%04x', vw) || '0000' || printf('%04x', vh) || '0000'
             |    WHEN m = 1 THEN
             |      '664c614380000022' || '10001000' || '000000000000' ||
             |      printf('%016x', (fr << 44) + ((fch - 1) << 41) + ((fbps - 1) << 36) + fts) ||
             |      repeat('0', 32)
             |    WHEN m = 2 THEN
             |      'fffb' || printf('%02x', bri * 16 + sri * 4) ||
             |      CASE WHEN mono = 1 THEN 'c0' ELSE '00' END
             |    ELSE
             |      '4f6767530002' || repeat('0', 40) || '0113' ||
             |      '4f70757348656164' || '01' || printf('%02x', och) || '3801' ||
             |      printf('%02x%02x%02x%02x', orate & 255, (orate >> 8) & 255,
             |        (orate >> 16) & 255, (orate >> 24) & 255) || '000000'
             |    END) AS media
             |  FROM params)
             |SELECT doc_id,
             |  CAST(octet_length(media) AS BIGINT) AS byte_len,
             |  CASE m WHEN 0 THEN 'mp4' WHEN 1 THEN 'flac'
             |         WHEN 2 THEN 'mp3' ELSE 'ogg' END AS format,
             |  CAST(CASE WHEN m = 0 THEN vw END AS INT) AS width,
             |  CAST(CASE WHEN m = 0 THEN vh END AS INT) AS height,
             |  CAST(CASE WHEN m = 1 AND fts > 0 THEN fts END AS BIGINT) AS n_frames,
             |  CAST(CASE WHEN m = 1 THEN fr
             |            WHEN m = 2 THEN list_extract([44100, 48000, 32000], CAST(sri AS INT) + 1)
             |            WHEN m = 3 THEN orate END AS INT) AS sample_rate,
             |  CAST(CASE WHEN m = 1 THEN fch
             |            WHEN m = 2 THEN (CASE WHEN mono = 1 THEN 1 ELSE 2 END)
             |            WHEN m = 3 THEN och END AS INT) AS channels,
             |  CAST(CASE WHEN m = 0 THEN dur END AS BIGINT) AS duration_ticks,
             |  CAST(CASE WHEN m = 0 THEN ts END AS INT) AS timescale,
             |  md5(hex(media)) AS checksum
             |FROM blobs ORDER BY doc_id""".stripMargin)),

    // WebM/Matroska through the EBML walk — q242's differential-proof
    // protocol extended to the remaining dominant crawl container:
    // both engines construct IDENTICAL header bytes in hex (checksum
    // pins byte equality), Spark parses them with the header-only
    // EBML element walk in multimodal/MediaContainers, the oracle
    // predicts every field in closed form from the staging params.
    // The staged bytes exercise the unknown-size Segment VINT (the
    // streamed-muxer layout), float64 Duration, float32
    // SamplingFrequency (IEEE bit patterns staged as literals in both
    // engines), sub-millisecond and super-millisecond TimestampScale
    // (ns/tick → ticks/s conversion), and all three track layouts:
    // doc_id%3 = 0 webm A/V, 1 matroska video-only, 2 webm audio-only.
    "q243_webm_container_meta" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val info = "concat('1549a966932ad7b184', format_string('%08x', tsns), " +
          "'448988', durh)"
        val video = "concat('ae8d838101e088b082', format_string('%04x', vw), " +
          "'ba82', format_string('%04x', vh))"
        val audio = "concat('ae8e838102e189b584', srh, '9f81', " +
          "format_string('%02x', ch))"
        val staged = docs(s, d).select(col("doc_id"),
          expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 250000 " +
            "WHEN 1 THEN 500000 WHEN 2 THEN 1000000 ELSE 2000000 END").as("tsns"),
          expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 15000 " +
            "WHEN 1 THEN 30000 WHEN 2 THEN 60000 ELSE 90000 END").as("dur"),
          expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '40cd4c0000000000' " +
            "WHEN 1 THEN '40dd4c0000000000' WHEN 2 THEN '40ed4c0000000000' " +
            "ELSE '40f5f90000000000' END").as("durh"),
          expr("16 + (doc_id * 7) % 1904").as("vw"),
          expr("16 + (doc_id * 11) % 1064").as("vh"),
          expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 " +
            "WHEN 1 THEN 16000 WHEN 2 THEN 44100 ELSE 48000 END").as("sr"),
          expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '45fa0000' " +
            "WHEN 1 THEN '467a0000' WHEN 2 THEN '472c4400' " +
            "ELSE '473b8000' END").as("srh"),
          expr("1 + doc_id % 8").as("ch"))
        staged.withColumn("media", expr(
            "unhex(concat(" +
              "CASE WHEN doc_id % 3 = 1 THEN '1a45dfa38b4282886d6174726f736b61' " +
              "ELSE '1a45dfa3874282847765626d' END, " +
              "'1853806701ffffffffffffff', " +
              s"$info, " +
              s"CASE WHEN doc_id % 3 = 0 THEN concat('1654ae6b9f', $video, $audio) " +
              s"WHEN doc_id % 3 = 1 THEN concat('1654ae6b8f', $video) " +
              s"ELSE concat('1654ae6b90', $audio) END))"))
          .select(col("doc_id"),
            octet_length(col("media")).cast("long").as("byte_len"),
            expr("av_meta(media)").as("m"),
            md5(hex(col("media"))).as("checksum"))
          .select(col("doc_id"), col("byte_len"),
            col("m.format").as("format"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.n_frames").as("n_frames"),
            col("m.sample_rate").as("sample_rate"),
            col("m.channels").as("channels"),
            col("m.duration_ticks").as("duration_ticks"),
            col("m.timescale").as("timescale"), col("checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH params AS (
             |  SELECT doc_id, doc_id % 3 AS t,
             |    CASE doc_id % 4 WHEN 0 THEN 250000 WHEN 1 THEN 500000
             |         WHEN 2 THEN 1000000 ELSE 2000000 END AS tsns,
             |    CASE doc_id % 4 WHEN 0 THEN 15000 WHEN 1 THEN 30000
             |         WHEN 2 THEN 60000 ELSE 90000 END AS dur,
             |    CASE doc_id % 4 WHEN 0 THEN '40cd4c0000000000'
             |         WHEN 1 THEN '40dd4c0000000000'
             |         WHEN 2 THEN '40ed4c0000000000'
             |         ELSE '40f5f90000000000' END AS durh,
             |    16 + (doc_id * 7) % 1904 AS vw,
             |    16 + (doc_id * 11) % 1064 AS vh,
             |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             |         WHEN 2 THEN 44100 ELSE 48000 END AS sr,
             |    CASE doc_id % 4 WHEN 0 THEN '45fa0000' WHEN 1 THEN '467a0000'
             |         WHEN 2 THEN '472c4400' ELSE '473b8000' END AS srh,
             |    1 + doc_id % 8 AS ch
             |  FROM documents),
             |blobs AS (
             |  SELECT *, unhex(
             |    (CASE WHEN t = 1 THEN '1a45dfa38b4282886d6174726f736b61'
             |          ELSE '1a45dfa3874282847765626d' END) ||
             |    '1853806701ffffffffffffff' ||
             |    '1549a966932ad7b184' || printf('%08x', tsns) ||
             |    '448988' || durh ||
             |    CASE WHEN t = 0 THEN
             |      '1654ae6b9f' || 'ae8d838101e088b082' || printf('%04x', vw) ||
             |      'ba82' || printf('%04x', vh) ||
             |      'ae8e838102e189b584' || srh || '9f81' || printf('%02x', ch)
             |    WHEN t = 1 THEN
             |      '1654ae6b8f' || 'ae8d838101e088b082' || printf('%04x', vw) ||
             |      'ba82' || printf('%04x', vh)
             |    ELSE
             |      '1654ae6b90' || 'ae8e838102e189b584' || srh || '9f81' ||
             |      printf('%02x', ch)
             |    END) AS media
             |  FROM params)
             |SELECT doc_id,
             |  CAST(octet_length(media) AS BIGINT) AS byte_len,
             |  CASE WHEN t = 1 THEN 'mkv' ELSE 'webm' END AS format,
             |  CAST(CASE WHEN t IN (0, 1) THEN vw END AS INT) AS width,
             |  CAST(CASE WHEN t IN (0, 1) THEN vh END AS INT) AS height,
             |  CAST(NULL AS BIGINT) AS n_frames,
             |  CAST(CASE WHEN t IN (0, 2) THEN sr END AS INT) AS sample_rate,
             |  CAST(CASE WHEN t IN (0, 2) THEN ch END AS INT) AS channels,
             |  CAST(dur AS BIGINT) AS duration_ticks,
             |  CAST(1000000000 / tsns AS INT) AS timescale,
             |  md5(hex(media)) AS checksum
             |FROM blobs ORDER BY doc_id""".stripMargin)),

    // WARC — the container 100-TB crawl corpora actually arrive in
    // (ISO 28500; Common Crawl's on-disk format). Each document is
    // staged as a two-record archive (response + metadata), each
    // record gzip-compressed as its OWN member and the members
    // concatenated — the exact .warc.gz framing real archives use so
    // they stay seekable per record. Spark then drives the full
    // ingest chain: gunzip_all (multi-member inflate, bomb-capped) →
    // warc_records (header walk, Content-Length-delimited payloads) →
    // posexplode → typed fields. The oracle never sees a compressed
    // byte: it predicts every parsed field in closed form from the
    // same record text, and the md5 over the INFLATED bytes pins the
    // gzip round trip byte-exactly. Payloads are length-delimited, so
    // a document whose text contains 'WARC/1.0' can't confuse the
    // walk — the property that makes the format streamable at scale.
    "q244_warc_crawl_archive" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val crlf = "chr(13), chr(10)"
        val r1 = s"concat('WARC/1.0', $crlf, " +
          s"'WARC-Type: response', $crlf, " +
          "'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), '>', " +
          s"$crlf, " +
          "'WARC-Target-URI: https://crawl.test/', source, '/', " +
          s"CAST(doc_id AS STRING), $crlf, " +
          s"'WARC-Date: 2026-08-16T00:00:00Z', $crlf, " +
          s"'Content-Type: text/plain', $crlf, " +
          "'Content-Length: ', CAST(octet_length(text) AS STRING), " +
          s"$crlf, $crlf, text, $crlf, $crlf)"
        val r2 = s"concat('WARC/1.0', $crlf, " +
          s"'WARC-Type: metadata', $crlf, " +
          "'WARC-Record-ID: <urn:uuid:meta-', CAST(doc_id AS STRING), '>', " +
          s"$crlf, " +
          "'Content-Length: ', " +
          "CAST(octet_length(concat('lang=', lang)) AS STRING), " +
          s"$crlf, $crlf, 'lang=', lang, $crlf, $crlf)"
        docs(s, d).select(col("doc_id"), col("source"), col("lang"),
            col("text"))
          .withColumn("r1", expr(r1))
          .withColumn("r2", expr(r2))
          .withColumn("media", expr(
            "concat(gzip_bytes(encode(r1, 'utf-8')), " +
              "gzip_bytes(encode(r2, 'utf-8')))"))
          .withColumn("inflated", expr("gunzip_all(media)"))
          .select(col("doc_id"),
            expr("md5(hex(inflated))").as("checksum"),
            expr("posexplode(warc_records(inflated))").as(Seq("rec", "r")))
          .selectExpr("doc_id", "CAST(rec AS BIGINT) AS rec",
            "r.version AS version", "r.warc_type AS warc_type",
            "r.record_id AS record_id", "r.target_uri AS target_uri",
            "r.warc_date AS warc_date", "r.content_type AS content_type",
            "r.content_length AS content_length",
            "decode(r.content, 'utf-8') AS content_text", "checksum")
          .orderBy("doc_id", "rec")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, source, lang, text,
             |    'WARC/1.0' || chr(13) || chr(10) ||
             |    'WARC-Type: response' || chr(13) || chr(10) ||
             |    'WARC-Record-ID: <urn:uuid:doc-' || CAST(doc_id AS VARCHAR)
             |      || '>' || chr(13) || chr(10) ||
             |    'WARC-Target-URI: https://crawl.test/' || source || '/' ||
             |      CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||
             |    'WARC-Date: 2026-08-16T00:00:00Z' || chr(13) || chr(10) ||
             |    'Content-Type: text/plain' || chr(13) || chr(10) ||
             |    'Content-Length: ' || CAST(strlen(text) AS VARCHAR) ||
             |      chr(13) || chr(10) || chr(13) || chr(10) ||
             |      text || chr(13) || chr(10) || chr(13) || chr(10) AS r1,
             |    'WARC/1.0' || chr(13) || chr(10) ||
             |    'WARC-Type: metadata' || chr(13) || chr(10) ||
             |    'WARC-Record-ID: <urn:uuid:meta-' || CAST(doc_id AS VARCHAR)
             |      || '>' || chr(13) || chr(10) ||
             |    'Content-Length: ' ||
             |      CAST(strlen('lang=' || lang) AS VARCHAR) ||
             |      chr(13) || chr(10) || chr(13) || chr(10) ||
             |      'lang=' || lang || chr(13) || chr(10) || chr(13) || chr(10)
             |      AS r2
             |  FROM documents),
             |c AS (SELECT *, md5(hex(encode(r1 || r2))) AS checksum FROM p)
             |SELECT doc_id, CAST(0 AS BIGINT) AS rec,
             |  'WARC/1.0' AS version, 'response' AS warc_type,
             |  '<urn:uuid:doc-' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
             |  'https://crawl.test/' || source || '/' ||
             |    CAST(doc_id AS VARCHAR) AS target_uri,
             |  '2026-08-16T00:00:00Z' AS warc_date,
             |  'text/plain' AS content_type,
             |  strlen(text) AS content_length,
             |  text AS content_text, checksum
             |FROM c
             |UNION ALL
             |SELECT doc_id, CAST(1 AS BIGINT) AS rec,
             |  'WARC/1.0' AS version, 'metadata' AS warc_type,
             |  '<urn:uuid:meta-' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
             |  CAST(NULL AS VARCHAR) AS target_uri,
             |  CAST(NULL AS VARCHAR) AS warc_date,
             |  CAST(NULL AS VARCHAR) AS content_type,
             |  strlen('lang=' || lang) AS content_length,
             |  'lang=' || lang AS content_text, checksum
             |FROM c
             |ORDER BY doc_id, rec""".stripMargin)),

    // CRAWL → CORPUS, end to end: the full ingest a training-data
    // pipeline runs at 100 TB, composed from this engine's own pieces
    // and pinned by one oracle — each document is wrapped in q158's
    // boilerplate HTML, framed as a gzipped WARC response (q244's
    // member framing), then Spark drives gunzip_all → warc_records →
    // HTML main-content extraction → the q48 quality gate (token
    // band, alpha ratio, repetition, lang-id) → per-(source, lang)
    // corpus rollup with exact-dedup distinct counts. The oracle
    // replays the gate over the SAME documents (main-content
    // extraction recovers the text byte-for-byte — q158 pins that
    // property standalone) and pins the archive BYTES with
    // min/max per-group md5 over the inflated records (commutative,
    // O(1) agg state — no per-group list at scale). Any defect in the
    // gzip chain, the record walk, the extraction, or the gate moves
    // some group's counts or checksums.
    "q245_crawl_to_corpus" -> Q(
      (s, d) => {
        import graft.functions.HtmlFunctions
        graft.plans.GraftExtensions.register(s)
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id"),
          lit(" - "), col("source"),
          lit("</title><style>.n{c:red}</style><script>var l=\""),
          col("lang"),
          lit("\";</script></head><body><div><a href=\"/\">home</a> "),
          expr("repeat('<a href=\"/t\">tag</a> ', CAST(doc_id % 4 AS INT))"),
          lit("</div><p>"), col("text"),
          lit("</p><div><a href=\"/tos\">terms of service</a>" +
            " copyright corp</div></body></html>"))
        // the payload is a full HTTP response message (what a real
        // crawl stores — WARC Content-Type application/http), so the
        // chain exercises http_parts + decode_charset before
        // extraction ever sees markup
        val httpMsg = concat(
          lit("HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/html; charset=utf-8\r\nContent-Length: "),
          octet_length(col("html")), lit("\r\n\r\n"), col("html"))
        val r1 = concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:doc-"),
          col("doc_id"), lit(">\r\nWARC-Target-URI: https://crawl.test/"),
          col("source"), lit("/"), col("doc_id"),
          lit("\r\nWARC-Date: 2026-08-16T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "),
          octet_length(col("http_msg")), lit("\r\n\r\n"), col("http_msg"),
          lit("\r\n\r\n"))
        val chain = docs(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
          .withColumn("html", html)
          .withColumn("http_msg", httpMsg)
          .withColumn("r1", r1)
          .withColumn("inflated", expr("gunzip_all(gzip_bytes(encode(r1, 'utf-8')))"))
          .withColumn("doc_sum", md5(hex(col("inflated"))))
          .withColumn("rec", expr("element_at(warc_records(inflated), 1)"))
          .withColumn("h", expr("http_parts(rec.content)"))
          .select(col("doc_id"), col("source"), col("doc_sum"),
            HtmlFunctions.mainBlock(expr(
              "decode_charset(h.body, element_at(h.headers, 'content-type')).text"))
              .as("text"))
        // The gate is CONDITIONAL AGGREGATION, not a Filter, on
        // purpose: a Filter above this projection gets pushed BELOW
        // it by PushDownPredicates, which substitutes the alias and
        // re-evaluates the whole gzip→parse→extract chain once per
        // predicate leg (measured 12 s vs 0.7 s at sf0.1 — a 16×
        // pushdown trap unique to gates over DERIVED text; over a
        // scan column the same pushdown is free). when(keep, x)
        // aggregates skip unkept rows identically (nulls never count),
        // and groups with zero kept rows drop on the n_docs guard.
        val sig = graft.llm.TextPipeline
          .withQualitySignals(chain, "text")
          .withColumn("keep", graft.llm.TextPipeline.qualityPredicate())
        sig.groupBy(col("source"), col("lang_id"))
          .agg(count(when(col("keep"), 1)).as("n_docs"),
            sum(when(col("keep"), col("n_tokens"))).as("tok_total"),
            countDistinct(when(col("keep"), col("text"))).as("n_distinct"),
            min(when(col("keep"), col("doc_sum"))).as("sum_lo"),
            max(when(col("keep"), col("doc_sum"))).as("sum_hi"))
          .filter(col("n_docs") > 0)
          .orderBy("source", "lang_id")
      },
      Some(s"""WITH $gateCtes,
             |h AS (SELECT doc_id, source,
             |    '<html><head><title>doc ' || doc_id || ' - ' || source ||
             |    '</title><style>.n{c:red}</style><script>var l="' || lang ||
             |    '";</script></head><body><div><a href="/">home</a> ' ||
             |    repeat('<a href="/t">tag</a> ', CAST(doc_id % 4 AS INT)) ||
             |    '</div><p>' || text || '</p><div><a href="/tos">terms of' ||
             |    ' service</a> copyright corp</div></body></html>' AS html
             |  FROM documents),
             |hm AS (SELECT doc_id, source,
             |    'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
             |    'Content-Type: text/html; charset=utf-8' || chr(13) ||
             |      chr(10) ||
             |    'Content-Length: ' || CAST(strlen(html) AS VARCHAR) ||
             |      chr(13) || chr(10) || chr(13) || chr(10) || html AS http_msg
             |  FROM h),
             |w AS (SELECT doc_id, source,
             |    md5(hex(encode(
             |      'WARC/1.0' || chr(13) || chr(10) ||
             |      'WARC-Type: response' || chr(13) || chr(10) ||
             |      'WARC-Record-ID: <urn:uuid:doc-' || CAST(doc_id AS VARCHAR)
             |        || '>' || chr(13) || chr(10) ||
             |      'WARC-Target-URI: https://crawl.test/' || source || '/' ||
             |        CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||
             |      'WARC-Date: 2026-08-16T00:00:00Z' || chr(13) || chr(10) ||
             |      'Content-Type: application/http;msgtype=response' ||
             |        chr(13) || chr(10) ||
             |      'Content-Length: ' || CAST(strlen(http_msg) AS VARCHAR) ||
             |        chr(13) || chr(10) || chr(13) || chr(10) ||
             |        http_msg || chr(13) || chr(10) || chr(13) || chr(10))))
             |      AS doc_sum
             |  FROM hm)
             |SELECT d.source, k.lang_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(k.n_tokens) AS BIGINT) AS tok_total,
             |  CAST(count(DISTINCT d.text) AS BIGINT) AS n_distinct,
             |  min(w.doc_sum) AS sum_lo, max(w.doc_sum) AS sum_hi
             |FROM kept k
             |JOIN documents d USING (doc_id)
             |JOIN w USING (doc_id)
             |GROUP BY d.source, k.lang_id
             |ORDER BY d.source, k.lang_id""".stripMargin)),

    // JSONL SHARD ingest — the other container modern LLM corpora
    // ship in (RedPajama/Dolma-style .jsonl.zst / .jsonl.gz shards).
    // Documents are packed into bounded shards (the (source, bucket)
    // key caps shard size at ANY corpus scale — no unbounded
    // collect_list), serialized as JSON lines, compressed zstd or
    // gzip per shard (alternating, so ONE query pins both codecs),
    // then Spark drives the full read path: inflate → line split →
    // from_json → typed fields. JSON escaping makes the line framing
    // safe for texts containing newlines; the oracle reads the same
    // fields straight off the table, so any corruption anywhere in
    // the codec/framing/parse chain breaks row equality.
    "q246_jsonl_shard_ingest" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val lines = docs(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            pmod(col("doc_id"), lit(8)).as("bucket"))
          .withColumn("line",
            to_json(struct(col("doc_id"), col("source"), col("text"))))
        lines.groupBy(col("source"), col("bucket"))
          .agg(concat_ws("\n", sort_array(collect_list(col("line"))))
            .as("jsonl"))
          .withColumn("shard",
            when(pmod(col("bucket"), lit(2)) === 0,
              expr("zstd_bytes(encode(jsonl, 'utf-8'))"))
            .otherwise(expr("gzip_bytes(encode(jsonl, 'utf-8'))")))
          .withColumn("back",
            when(pmod(col("bucket"), lit(2)) === 0,
              expr("unzstd_all(shard)"))
            .otherwise(expr("gunzip_all(shard)")))
          .select(explode(split(expr("decode(back, 'utf-8')"), "\n"))
            .as("line"))
          .select(from_json(col("line"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id LONG, source STRING, text STRING")).as("j"))
          .select(col("j.doc_id").as("doc_id"),
            col("j.source").as("source"), col("j.text").as("text"),
            octet_length(col("j.text")).cast("long").as("text_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, text,
             |  CAST(strlen(text) AS BIGINT) AS text_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TAR SHARD ingest — WebDataset's format (training samples as
    // members of plain .tar shards). Both engines construct IDENTICAL
    // v7 tar bytes (100-byte NUL-padded names, 11-digit octal size/
    // mtime fields, 512-byte payload rounding, zero-block trailer —
    // all closed-form string algebra since every field is ASCII and
    // padding counts BYTES via octet_length/strlen, so multibyte text
    // keeps block alignment), then Spark walks them with tar_entries
    // and the oracle predicts every surfaced field. Member order
    // inside a shard is irrelevant by construction (rows key on the
    // parsed name), so the bounded (source, bucket) packing is
    // order-insensitive. The staged checksum field is blank (= 0 when
    // octal-parsed) — the builder-computed checksum path is pinned in
    // TarSpec instead, where the real USTAR writer runs.
    "q247_tar_shard_ingest" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val member =
          "concat(" +
            "rpad(concat('docs/', CAST(doc_id AS STRING), '.txt'), 100, chr(0)), " +
            "'0000644', chr(0), '0000000', chr(0), '0000000', chr(0), " +
            "format_string('%011o', octet_length(text)), chr(0), " +
            "format_string('%011o', 946684800 + doc_id), chr(0), " +
            "repeat(' ', 8), '0', repeat(chr(0), 355), " +
            "text, repeat(chr(0), (512 - octet_length(text) % 512) % 512))"
        docs(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            pmod(col("doc_id"), lit(8)).as("bucket"))
          .withColumn("member", expr(member))
          .groupBy(col("source"), col("bucket"))
          .agg(concat_ws("", sort_array(collect_list(col("member"))))
            .as("body"))
          .withColumn("shard",
            expr("encode(concat(body, repeat(chr(0), 1024)), 'utf-8')"))
          .select(explode(expr("tar_entries(shard)")).as("e"))
          .select(
            expr("CAST(regexp_extract(e.name, 'docs/(\\\\d+)\\\\.txt', 1) " +
              "AS BIGINT)").as("doc_id"),
            col("e.name").as("name"), col("e.size").as("size"),
            col("e.mtime").as("mtime"), col("e.type_flag").as("type_flag"),
            col("e.checksum").as("checksum"),
            expr("decode(e.content, 'utf-8')").as("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
             |  CAST(strlen(text) AS BIGINT) AS size,
             |  CAST(946684800 + doc_id AS BIGINT) AS mtime,
             |  '0' AS type_flag, CAST(0 AS BIGINT) AS checksum, text
             |FROM documents WHERE text IS NOT NULL
             |ORDER BY doc_id""".stripMargin)),

    // WebDataset MULTIMODAL shard — the pairing semantics on top of
    // q247's tar walk: each training sample is TWO members sharing a
    // basename ({id}.bmp raster + {id}.json metadata), shards are
    // bounded (source, bucket) tars, and the reader re-pairs samples
    // by parsed basename with conditional aggregates (max-when per
    // extension — one pass, no self-join). Both engines construct
    // identical tar bytes in hex (headers are ASCII hex'd; BMP
    // payloads reuse q32's closed-form staging; 512-byte padding
    // counts payload BYTES), Spark reads dims through media_meta over
    // the member content and metadata through from_json; the oracle
    // predicts both from the staging params.
    "q248_webdataset_pairs" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        def le32(v: String) = s"format_string('%02x%02x%02x%02x', $v & 255, " +
          s"shiftright($v, 8) & 255, shiftright($v, 16) & 255, shiftright($v, 24) & 255)"
        def le16(v: String) = s"format_string('%02x%02x', $v & 255, shiftright($v, 8) & 255)"
        val bmpHex = s"concat('424d', ${le32("(54 + img_size)")}, '00000000', " +
          s"${le32("54")}, ${le32("40")}, ${le32("bw")}, ${le32("bh")}, " +
          s"${le16("1")}, ${le16("24")}, ${le32("0")}, ${le32("img_size")}, " +
          s"${le32("2835")}, ${le32("2835")}, ${le32("0")}, ${le32("0")}, " +
          "repeat('00', CAST(img_size AS INT)))"
        // tar member in hex: 100-byte name, mode/uid/gid, octal size,
        // octal mtime(0), blank checksum, typeflag '0', v7 NUL tail
        def member(nameExpr: String, lenExpr: String, payloadHex: String) =
          s"concat(hex(rpad($nameExpr, 100, chr(0))), " +
            "'3030303036343400', '3030303030303000', '3030303030303000', " +
            s"hex(format_string('%011o', ($lenExpr))), '00', " +
            "hex('00000000000'), '00', " +
            s"'2020202020202020', '30', repeat('00', 355), " +
            s"$payloadHex, " +
            s"repeat('00', CAST((512 - ($lenExpr) % 512) % 512 AS INT)))"
        val staged = docs(s, d).select(col("doc_id"), col("source"),
            col("lang"),
            expr("1 + doc_id % 64").as("bw"),
            expr("1 + (doc_id * 7) % 48").as("bh"),
            pmod(col("doc_id"), lit(8)).as("bucket"))
          .withColumn("img_size",
            expr("(bw * 3 + (4 - (bw * 3) % 4) % 4) * bh"))
          .withColumn("json_str", expr(
            "concat('{\"doc_id\":', CAST(doc_id AS STRING), " +
              "',\"lang\":\"', lang, '\"}')"))
          .withColumn("pair_hex", expr(
            member("concat(CAST(doc_id AS STRING), '.bmp')",
              "54 + img_size", bmpHex) + " || " +
            member("concat(CAST(doc_id AS STRING), '.json')",
              "octet_length(json_str)", "hex(json_str)")))
        staged.groupBy(col("source"), col("bucket"))
          .agg(concat_ws("", sort_array(collect_list(col("pair_hex"))))
            .as("body"))
          .withColumn("shard",
            expr("unhex(concat(body, repeat('00', 1024)))"))
          .select(explode(expr("tar_entries(shard)")).as("e"))
          .select(
            expr("CAST(regexp_extract(e.name, '(\\\\d+)\\\\.', 1) AS BIGINT)")
              .as("doc_id"),
            expr("CASE WHEN e.name LIKE '%.bmp' " +
              "THEN media_meta(e.content) END").as("m"),
            expr("CASE WHEN e.name LIKE '%.json' THEN from_json(" +
              "decode(e.content, 'utf-8'), 'doc_id LONG, lang STRING') END")
              .as("j"))
          .groupBy(col("doc_id"))
          .agg(max(col("m.format")).as("format"),
            max(col("m.width")).as("width"),
            max(col("m.height")).as("height"),
            max(col("j.lang")).as("lang"),
            count(lit(1)).as("n_members"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'bmp' AS format,
             |  CAST(1 + doc_id % 64 AS INT) AS width,
             |  CAST(1 + (doc_id * 7) % 48 AS INT) AS height,
             |  lang, CAST(2 AS BIGINT) AS n_members
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // STREAMING crawl ingest — q244's parse chain fed by a file
    // STREAM: four .warc.gz shards (one gzip member per record, built
    // with the same closed-form staging as q244) arrive one file per
    // microbatch; foreachBatch inflates, walks records, and lands
    // typed rows in an idempotent batch=N sink (q237/q241's replay
    // protocol — a re-delivered batch overwrites its own directory,
    // never duplicates). The oracle predicts every parsed field for
    // the union of all batches, so a dropped shard, a double-applied
    // batch, or any parse defect breaks row equality. This is the
    // 100-TB arrival shape: crawl dumps land as shard files on object
    // storage and ingest incrementally, not as one batch scan.
    "q249_stream_crawl_ingest" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val root = graft.queries.Scratch.dir("graft-q249-crawl")
        val crlf = "chr(13), chr(10)"
        val r1 = s"concat('WARC/1.0', $crlf, " +
          s"'WARC-Type: response', $crlf, " +
          "'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), '>', " +
          s"$crlf, " +
          "'WARC-Target-URI: https://crawl.test/', source, '/', " +
          s"CAST(doc_id AS STRING), $crlf, " +
          "'Content-Length: ', CAST(octet_length(text) AS STRING), " +
          s"$crlf, $crlf, text, $crlf, $crlf)"
        // one carrier parquet file per shard: (bucket, media) with the
        // shard's gzip members concatenated — bounded rows per shard
        val shards = docs(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            pmod(col("doc_id"), lit(4)).as("bucket"))
          .withColumn("gzh", expr(s"hex(gzip_bytes(encode($r1, 'utf-8')))"))
          .groupBy(col("bucket"))
          .agg(expr("unhex(concat_ws('', sort_array(collect_list(gzh))))")
            .as("media"))
        val stream = replayShards(s, shards, s"$root/src")
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          b.selectExpr("bucket",
              "inline(warc_records(gunzip_all(media)))")
            .selectExpr("bucket",
              "CAST(regexp_extract(record_id, 'doc-(\\\\d+)', 1) AS BIGINT)" +
                " AS doc_id",
              "warc_type", "target_uri", "content_length",
              "decode(content, 'utf-8') AS text")
            .write.mode("overwrite").parquet(s"$root/out/batch=$bid")
        }
        val batches = Option(new java.io.File(s"$root/out").listFiles())
          .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
          .getOrElse(0)
        require(batches == 4, s"expected 4 delivered microbatches, got $batches")
        Parquet.read(s, s"$root/out")
          .select(col("doc_id"), col("bucket"), col("warc_type"),
            col("target_uri"), col("content_length"), col("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, doc_id % 4 AS bucket,
             |  'response' AS warc_type,
             |  'https://crawl.test/' || source || '/' ||
             |    CAST(doc_id AS VARCHAR) AS target_uri,
             |  CAST(strlen(text) AS BIGINT) AS content_length,
             |  text
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // HTTP MESSAGE LAYER + CHARSET DECODE — what a WARC response
    // payload actually holds: `HTTP/1.1 200 OK\r\nheaders\r\n\r\nbody`
    // in a charset that is UTF-8 only ~80% of the time. Eleven staged
    // classes (doc_id % 11) exercise the full browser resolution order
    // end to end through the REAL chain (gzip_bytes → gunzip_all →
    // warc_records → http_parts → decode_charset): UTF-8 labeled,
    // windows-1252 labeled (high bytes -> typographic chars), label
    // only in a <meta charset> tag (iso-8859-1 -> 1252 per WHATWG),
    // BOM with no Content-Type header at all, chunked transfer coding
    // (de-chunk then decode), a LYING utf-8 label over 1252 bytes
    // (U+FFFD replacement COUNTED — mojibake is measured, never
    // silent), the WHATWG multilingual table that carries most
    // non-Latin training data: Shift_JIS labeled (日本 as 93FA967B →
    // windows-31j per WHATWG), a gb2312 label ONLY in a meta tag
    // (中文 as D6D0CEC4 — the gbk family resolves to the gb18030
    // decoder), and KOI8-R labeled Cyrillic (да as C4C1); plus the
    // UNLABELED legacy page (no charset anywhere, a 1252 byte — the
    // content sniff must fall back to windows-1252, not U+FFFD soup)
    // and STATEFUL ISO-2022-JP (escape-sequence shifts into JIS X
    // 0208 and back). Bodies are staged in hex so non-UTF-8 bytes
    // exist at all (a String can't hold raw 1252/SJIS); every
    // surfaced field is predicted closed-form by the oracle from the
    // same staging arithmetic — byte counts via strlen/octet_length,
    // decoded text via chr() codepoints.
    "q250_http_charset_decode" -> Q(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        // per-row gzip/zstd round-trips + hex staging are compute-bound:
        // spread the synth input (see graft.operators.Spread)
        val docsDf = graft.operators.Spread.compute(
          docs(s, d).select(col("doc_id"), col("source"), col("text")))
          .withColumn("c", expr("CAST(doc_id % 16 AS INT)"))
          // representation-layer staging bytes for classes 11-13: the
          // raw-deflate hex is the gzip member minus its fixed 10-byte
          // JDK header and 8-byte CRC/ISIZE trailer (the headerless
          // shape real servers send under the `deflate` token)
          .withColumn("gzh", expr("hex(gzip_bytes(encode(text, 'utf-8')))"))
          .withColumn("dfh", expr("substring(gzh, 21, length(gzh) - 36)"))
          .withColumn("zsh", expr("hex(zstd_bytes(encode(text, 'utf-8')))"))
        val crlf = "\r\n"
        // HTTP message per class: ASCII prefix hex'd + raw body hex
        val msgHex = expr(
          "CASE c " +
            // utf-8 label; body = text + ' — café' (10 utf-8 bytes)
            "WHEN 0 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=utf-8', cr, " +
            "  'Server: graft/1.0', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 10 AS STRING), " +
            "  cr, cr, text)), '20e2809420636166c3a9') " +
            // 1252 label; body = text + 93 85 e9 94 -> curly/ellipsis/é
            "WHEN 1 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=windows-1252', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 4 AS STRING), " +
            "  cr, cr, text)), '9385e994') " +
            // no header label; <meta charset=\"iso-8859-1\"> + E9 byte
            "WHEN 2 THEN concat(hex(concat('HTTP/1.1 404 Not Found', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 28 AS STRING), " +
            "  cr, cr, '<meta charset=\"iso-8859-1\">', text)), 'e9') " +
            // UTF-8 BOM, no Content-Type header at all
            "WHEN 3 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 3 AS STRING), " +
            "  cr, cr)), 'efbbbf', hex(text)) " +
            // chunked transfer coding: 16-byte chunk + remainder chunk
            "WHEN 4 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/plain; charset=utf-8', cr, " +
            "  'Transfer-Encoding: chunked', cr, cr, " +
            "  '10', cr, substring(text, 1, 16), cr, " +
            "  format_string('%x', octet_length(text) - 16), cr, " +
            "  substring(text, 17), cr, '0', cr, cr)) " +
            // lying utf-8 label over a 1252 byte: replacement counted
            "WHEN 5 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=utf-8', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 1 AS STRING), " +
            "  cr, cr, text)), '93') " +
            // Shift_JIS label; 日本 staged as 93FA967B (windows-31j)
            "WHEN 6 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=Shift_JIS', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 4 AS STRING), " +
            "  cr, cr, text)), '93FA967B') " +
            // gb2312 label ONLY in a meta tag; 中文 staged as D6D0CEC4
            "WHEN 7 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 27 AS STRING), " +
            "  cr, cr, '<meta charset=\"gb2312\">', text)), 'D6D0CEC4') " +
            // KOI8-R labeled Cyrillic; да staged as C4C1
            "WHEN 8 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/plain; charset=koi8-r', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 2 AS STRING), " +
            "  cr, cr, text)), 'C4C1') " +
            // UNLABELED legacy page: no charset anywhere, one 1252
            // byte — the content sniff resolves windows-1252
            "WHEN 9 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 1 AS STRING), " +
            "  cr, cr, text)), '93') " +
            // ISO-2022-JP: ESC $ B, JIS 日本 (4667 4B5C), ESC ( B
            "WHEN 10 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=iso-2022-jp', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) + 10 AS STRING), " +
            "  cr, cr, text)), '1B2442467C4B5C1B2842') " +
            // gzip content-coding: stored body is the COMPRESSED bytes
            // (what a WARC capture actually holds); http_parts undoes it
            "WHEN 11 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=utf-8', cr, " +
            "  'Content-Encoding: gzip', cr, " +
            "  'Content-Length: ', CAST(length(gzh) / 2 AS BIGINT), " +
            "  cr, cr)), gzh) " +
            // headerless-raw deflate under the `deflate` token (the
            // real-server long tail browsers accommodate)
            "WHEN 12 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Encoding: deflate', cr, " +
            "  'Content-Length: ', CAST(length(dfh) / 2 AS BIGINT), " +
            "  cr, cr)), dfh) " +
            // zstd content-coding (RFC 8878)
            "WHEN 13 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/plain; charset=utf-8', cr, " +
            "  'Content-Encoding: zstd', cr, " +
            "  'Content-Length: ', CAST(length(zsh) / 2 AS BIGINT), " +
            "  cr, cr)), zsh) " +
            // brotli: no decoder shipped — quarantined with reason,
            // stored bytes surfaced unchanged
            "WHEN 14 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Encoding: br', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) AS STRING), " +
            "  cr, cr, text)) " +
            // gzip label over NOT-gzip bytes: corrupt-coding quarantine
            "ELSE hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Encoding: gzip', cr, " +
            "  'Content-Length: ', CAST(octet_length(text) AS STRING), " +
            "  cr, cr, text)) END")
        val chain = docsDf
          .withColumn("cr", lit(crlf))
          .withColumn("msg_hex", msgHex)
          .withColumn("rec", expr(
            "unhex(concat(hex(concat('WARC/1.0', cr, " +
              "'WARC-Type: response', cr, " +
              "'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), " +
              "'>', cr, " +
              "'WARC-Target-URI: https://crawl.test/', source, '/', " +
              "CAST(doc_id AS STRING), cr, " +
              "'Content-Length: ', " +
              "CAST(length(msg_hex) / 2 AS BIGINT), cr, cr)), " +
              "msg_hex, hex(concat(cr, cr))))"))
          .withColumn("inflated", expr("gunzip_all(gzip_bytes(rec))"))
          .withColumn("w", expr("element_at(warc_records(inflated), 1)"))
          .withColumn("h", expr("http_parts(w.content)"))
          .withColumn("dd", expr(
            "decode_charset(h.body, element_at(h.headers, 'content-type'))"))
        chain.select(col("doc_id"),
            expr("CAST(h.status AS BIGINT)").as("status"),
            col("h.reason").as("reason"),
            expr("CAST(size(h.headers) AS BIGINT)").as("n_headers"),
            expr("element_at(h.headers, 'content-type')").as("content_type"),
            expr("CAST(octet_length(h.body) AS BIGINT)").as("body_len"),
            col("dd.text").as("text_out"),
            col("dd.charset").as("charset"),
            expr("CAST(dd.n_replaced AS BIGINT)").as("n_replaced"),
            col("h.content_encoding").as("content_encoding"),
            col("h.quarantine").as("quarantine"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(CASE WHEN doc_id % 16 = 2 THEN 404 ELSE 200 END AS BIGINT)
             |    AS status,
             |  CASE WHEN doc_id % 16 = 2 THEN 'Not Found' ELSE 'OK' END
             |    AS reason,
             |  CAST(CASE doc_id % 16 WHEN 0 THEN 3 WHEN 3 THEN 1
             |    WHEN 11 THEN 3 WHEN 12 THEN 3 WHEN 13 THEN 3
             |    WHEN 14 THEN 3 WHEN 15 THEN 3
             |    ELSE 2 END AS BIGINT) AS n_headers,
             |  CASE doc_id % 16
             |    WHEN 0 THEN 'text/html; charset=utf-8'
             |    WHEN 1 THEN 'text/html; charset=windows-1252'
             |    WHEN 2 THEN 'text/html'
             |    WHEN 3 THEN NULL
             |    WHEN 4 THEN 'text/plain; charset=utf-8'
             |    WHEN 5 THEN 'text/html; charset=utf-8'
             |    WHEN 6 THEN 'text/html; charset=Shift_JIS'
             |    WHEN 7 THEN 'text/html'
             |    WHEN 8 THEN 'text/plain; charset=koi8-r'
             |    WHEN 9 THEN 'text/html'
             |    WHEN 10 THEN 'text/html; charset=iso-2022-jp'
             |    WHEN 11 THEN 'text/html; charset=utf-8'
             |    WHEN 12 THEN 'text/html'
             |    WHEN 13 THEN 'text/plain; charset=utf-8'
             |    WHEN 14 THEN 'text/html'
             |    ELSE 'text/html' END AS content_type,
             |  CAST(CASE doc_id % 16
             |    WHEN 0 THEN strlen(text) + 10
             |    WHEN 1 THEN strlen(text) + 4
             |    WHEN 2 THEN strlen(text) + 28
             |    WHEN 3 THEN strlen(text) + 3
             |    WHEN 4 THEN strlen(text)
             |    WHEN 5 THEN strlen(text) + 1
             |    WHEN 6 THEN strlen(text) + 4
             |    WHEN 7 THEN strlen(text) + 27
             |    WHEN 8 THEN strlen(text) + 2
             |    WHEN 9 THEN strlen(text) + 1
             |    WHEN 10 THEN strlen(text) + 10
             |    ELSE strlen(text) END AS BIGINT) AS body_len,
             |  CASE doc_id % 16
             |    WHEN 0 THEN text || ' ' || chr(8212) || ' caf' || chr(233)
             |    WHEN 1 THEN text || chr(8220) || chr(8230) || chr(233)
             |      || chr(8221)
             |    WHEN 2 THEN '<meta charset="iso-8859-1">' || text || chr(233)
             |    WHEN 3 THEN text
             |    WHEN 4 THEN text
             |    WHEN 5 THEN text || chr(65533)
             |    WHEN 6 THEN text || chr(26085) || chr(26412)
             |    WHEN 7 THEN '<meta charset="gb2312">' || text || chr(20013)
             |      || chr(25991)
             |    WHEN 8 THEN text || chr(1076) || chr(1072)
             |    WHEN 9 THEN text || chr(8220)
             |    WHEN 10 THEN text || chr(26085) || chr(26412)
             |    ELSE text END AS text_out,
             |  CASE doc_id % 16
             |    WHEN 1 THEN 'windows-1252'
             |    WHEN 2 THEN 'windows-1252'
             |    WHEN 6 THEN 'windows-31j'
             |    WHEN 7 THEN 'gb18030'
             |    WHEN 8 THEN 'koi8-r'
             |    WHEN 9 THEN 'windows-1252'
             |    WHEN 10 THEN 'iso-2022-jp'
             |    ELSE 'utf-8' END AS charset,
             |  CAST(CASE WHEN doc_id % 16 = 5 THEN 1 ELSE 0 END AS BIGINT)
             |    AS n_replaced,
             |  CASE doc_id % 16
             |    WHEN 11 THEN 'gzip'
             |    WHEN 12 THEN 'deflate'
             |    WHEN 13 THEN 'zstd'
             |    WHEN 14 THEN 'br'
             |    WHEN 15 THEN 'gzip'
             |    END AS content_encoding,
             |  CASE doc_id % 16
             |    WHEN 14 THEN 'unsupported-coding: br'
             |    WHEN 15 THEN 'corrupt-gzip-body'
             |    END AS quarantine
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // CRAWL → CURATED-TRAINING-SET CAPSTONE: the entire 100-TB
    // pipeline in one oracle-gated query, crawl BYTES in, token-
    // budgeted training set out. Ingest tier: documents staged as
    // HTML pages inside full HTTP responses inside gzipped WARC
    // records (q250's realism), packed into bounded (bucket) .warc.gz
    // shards, then gunzip_all → warc_records → http_parts →
    // decode_charset → main-content extraction. The extracted corpus
    // LANDS in a parquet table — the ingest/curation job boundary
    // every production pipeline has, and the materialization point
    // that keeps the curation tier's filters over SCAN columns (the
    // derived-text pushdown trap q245 pinned cannot reach across a
    // write). Curation tier: q48 quality gate → exact content dedup →
    // exact-Jaccard near-dup families (min-id survivor) → token-
    // budget strict prefix (q218's two-phase cumsum, quality-ranked).
    // One oracle replays gate → dedup closure → literal-window budget
    // over the SAME documents (extraction recovers text byte-exactly,
    // pinned standalone by q158/q245), so a defect in ANY tier —
    // codec, record walk, HTTP split, charset, extraction, gate,
    // pairing, closure, cumsum — moves the final training set.
    "q251_crawl_capstone" -> Q(
      (s, d) => {
        import graft.functions.HtmlFunctions
        graft.plans.GraftExtensions.register(s)
        val root = graft.queries.Scratch.dir("graft-q251-capstone")
        // mixed-charset staging (doc_id % 5 over utf-8/1252/SJIS/
        // gb2312/koi8-r) — see [[crawlCapstoneShards]]; extraction
        // still recovers `text` byte-exactly, oracle unchanged
        val shards = crawlCapstoneShards(s, d, buckets = 8)
        shards
          .select(expr("inline(warc_records(gunzip_all(media)))"))
          .withColumn("h", expr("http_parts(content)"))
          .select(
            expr("CAST(regexp_extract(record_id, 'doc-(\\\\d+)', 1) " +
              "AS BIGINT)").as("doc_id"),
            HtmlFunctions.mainBlock(expr(
              "decode_charset(h.body, element_at(h.headers, " +
                "'content-type')).text")).as("text"))
          .write.mode("overwrite").parquet(s"$root/corpus")
        val corpus = Parquet.read(s, s"$root/corpus")
        val gated = graft.llm.TextPipeline.qualityFilter(corpus, "text")
        val exact = Dedup.exactByContent(gated, "doc_id", Seq("text"))
        val pairs = NGramJaccard
          .similarPairs(exact, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        val surv = Dedup.byNearDupPairs(exact, "doc_id", pairs)
        graft.llm.TokenBudget.fill(surv, "doc_id",
            col("n_tokens"), col("alpha_ratio"), budget = 6000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $gateCtes,
              |keptt AS (SELECT k.*, d.text FROM kept k
              |  JOIN documents d USING (doc_id)),
              |exd AS (SELECT doc_id, lang_id, n_tokens, alpha_ratio, text
              |  FROM (
              |    SELECT k.*, row_number() OVER (
              |      PARTITION BY coalesce(text, chr(1)) ORDER BY doc_id) AS rn
              |    FROM keptt k) t WHERE rn = 1),
              |${jaccardPairsCtesFrom("exd")},
              |pr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5),
              |edges AS (SELECT id_a AS u, id_b AS v FROM pr
              |          UNION SELECT id_b, id_a FROM pr),
              |reach(u, v) AS (SELECT u, v FROM edges
              |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |comp AS (SELECT u AS doc_id, least(u, min(v)) AS group_id
              |         FROM reach GROUP BY u),
              |final AS (SELECT * FROM exd WHERE doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE group_id <> doc_id)),
              |cum AS (SELECT doc_id, n_tokens,
              |    sum(n_tokens) OVER (ORDER BY (1.0 - alpha_ratio), doc_id
              |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
              |  FROM final)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM cum WHERE cum_tokens <= 6000
              |ORDER BY doc_id""".stripMargin)),

    // The capstone under STREAMING ARRIVAL — same pipeline, but the
    // ingest tier runs as shard files arriving one per microbatch
    // (q249's protocol: foreachBatch lands each batch's EXTRACTED
    // text into an idempotent batch=N directory — re-delivery
    // overwrites, never duplicates), and the curation tier then runs
    // BATCH over the landed corpus. This is the production shape:
    // crawl dumps trickle in and are parsed/extracted incrementally;
    // curation (dedup families, budgets) is a periodic batch job over
    // the accumulated corpus, because near-dup survivor selection is
    // a GLOBAL decision no per-arrival gate can make. Same oracle as
    // q251: the final training set must be byte-identical whether the
    // shards arrived in one batch scan or four microbatches.
    "q252_stream_crawl_capstone" -> Q(
      (s, d) => {
        import graft.functions.HtmlFunctions
        graft.plans.GraftExtensions.register(s)
        val root = graft.queries.Scratch.dir("graft-q252-capstone")
        // same mixed-charset staging as q251 ([[crawlCapstoneShards]])
        val shards = crawlCapstoneShards(s, d, buckets = 4)
        val stream = replayShards(s, shards, s"$root/src")
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          b.select(expr("inline(warc_records(gunzip_all(media)))"))
            .withColumn("h", expr("http_parts(content)"))
            .select(
              expr("CAST(regexp_extract(record_id, 'doc-(\\\\d+)', 1) " +
                "AS BIGINT)").as("doc_id"),
              HtmlFunctions.mainBlock(expr(
                "decode_charset(h.body, element_at(h.headers, " +
                  "'content-type')).text")).as("text"))
            .write.mode("overwrite").parquet(s"$root/corpus/batch=$bid")
        }
        val batches = Option(new java.io.File(s"$root/corpus").listFiles())
          .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
          .getOrElse(0)
        require(batches == 4, s"expected 4 delivered microbatches, got $batches")
        val corpus = Parquet.read(s, s"$root/corpus")
          .select("doc_id", "text")
        val gated = graft.llm.TextPipeline.qualityFilter(corpus, "text")
        val exact = Dedup.exactByContent(gated, "doc_id", Seq("text"))
        val pairs = NGramJaccard
          .similarPairs(exact, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        val surv = Dedup.byNearDupPairs(exact, "doc_id", pairs)
        graft.llm.TokenBudget.fill(surv, "doc_id",
            col("n_tokens"), col("alpha_ratio"), budget = 6000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $gateCtes,
              |keptt AS (SELECT k.*, d.text FROM kept k
              |  JOIN documents d USING (doc_id)),
              |exd AS (SELECT doc_id, lang_id, n_tokens, alpha_ratio, text
              |  FROM (
              |    SELECT k.*, row_number() OVER (
              |      PARTITION BY coalesce(text, chr(1)) ORDER BY doc_id) AS rn
              |    FROM keptt k) t WHERE rn = 1),
              |${jaccardPairsCtesFrom("exd")},
              |pr AS (SELECT id_a, id_b FROM sc WHERE jaccard >= 0.5),
              |edges AS (SELECT id_a AS u, id_b AS v FROM pr
              |          UNION SELECT id_b, id_a FROM pr),
              |reach(u, v) AS (SELECT u, v FROM edges
              |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |comp AS (SELECT u AS doc_id, least(u, min(v)) AS group_id
              |         FROM reach GROUP BY u),
              |final AS (SELECT * FROM exd WHERE doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE group_id <> doc_id)),
              |cum AS (SELECT doc_id, n_tokens,
              |    sum(n_tokens) OVER (ORDER BY (1.0 - alpha_ratio), doc_id
              |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
              |  FROM final)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM cum WHERE cum_tokens <= 6000
              |ORDER BY doc_id""".stripMargin)),

    // MIME ROUTING in the extraction chain: real WARC response records
    // are ~¼ non-HTML, and running tag-stripping over JSON/plain/binary
    // bodies turns them into garbage prose that flows into the quality
    // gate. Six staged classes (doc_id % 6) through the REAL chain
    // (gzip_bytes → gunzip_all → warc_records → http_parts →
    // ContentRoute): text/html → main-block extraction, an
    // UPPERCASED 'Text/Plain' label (essence normalization) →
    // squeeze-only, application/ld+json (the +json structured-syntax
    // suffix) → $.text field pull, image/png bytes →
    // skip-with-reason, decode never touching the binary — plus the
    // UNTYPED pair the WHATWG binary sniff splits: PNG bytes served
    // with NO Content-Type route skip ('binary-no-type'), an untyped
    // HTML page keeps the browser-sniff html default. Every branch is
    // closed-form predicted by the oracle from the staging arithmetic.
    "q253_mime_routing" -> Q(
      (s, d) => {
        import graft.crawl.ContentRoute
        graft.plans.GraftExtensions.register(s)
        val docsDf = docs(s, d).select(col("doc_id"), col("source"),
          col("text"))
          .withColumn("c", expr("CAST(doc_id % 6 AS INT)"))
        val msgHex = expr(
          "CASE c " +
            // text/html: page skeleton; first <p> recovers text exactly
            "WHEN 0 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=utf-8', cr, cr, " +
            "  '<html><head><title>doc ', CAST(doc_id AS STRING), " +
            "  '</title></head><body><div><a href=\"/\">home</a></div><p>', " +
            "  text, '</p><div>footer nav</div></body></html>')) " +
            // Text/Plain (label case + whitespace staged): squeeze only
            "WHEN 1 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: Text/Plain; charset=utf-8', cr, cr, " +
            "  '  ', text, '   plain  tail ')) " +
            // +json suffix: field pull from the decoded body
            "WHEN 2 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: application/ld+json', cr, cr, " +
            "  '{\"title\":\"doc ', CAST(doc_id AS STRING), " +
            "  '\",\"text\":\"', text, '\"}')) " +
            // binary: PNG magic + junk — skip with reason, no decode
            "WHEN 3 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: image/png', cr, " +
            "  'Content-Length: 12', cr, cr)), " +
            "  '89504E470D0A1A0ADEADBEEF') " +
            // UNTYPED binary: same PNG bytes, NO Content-Type header —
            // the WHATWG binary sniff must catch it (0x1A in the
            // signature is a binary data byte)
            "WHEN 4 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Length: 12', cr, cr)), " +
            "  '89504E470D0A1A0ADEADBEEF') " +
            // UNTYPED text: a page served without a type keeps the
            // browser-sniff html default
            "ELSE hex(concat('HTTP/1.1 200 OK', cr, cr, " +
            "  '<html><head><title>doc ', CAST(doc_id AS STRING), " +
            "  '</title></head><body><p>', text, " +
            "  '</p></body></html>')) END")
        docsDf
          .withColumn("cr", lit("\r\n"))
          .withColumn("msg_hex", msgHex)
          .withColumn("rec", expr(
            "unhex(concat(hex(concat('WARC/1.0', cr, " +
              "'WARC-Type: response', cr, " +
              "'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), " +
              "'>', cr, " +
              "'Content-Length: ', " +
              "CAST(length(msg_hex) / 2 AS BIGINT), cr, cr)), " +
              "msg_hex, hex(concat(cr, cr))))"))
          .withColumn("inflated", expr("gunzip_all(gzip_bytes(rec))"))
          .withColumn("w", expr("element_at(warc_records(inflated), 1)"))
          .withColumn("h", expr("http_parts(w.content)"))
          .withColumn("ct", expr("element_at(h.headers, 'content-type')"))
          .select(col("doc_id"),
            ContentRoute.essence(col("ct")).as("mime"),
            ContentRoute.route(col("ct"), col("h.body")).as("route"),
            ContentRoute.extractedText(col("h.body"), col("ct"))
              .as("text_out"),
            ContentRoute.skipReason(col("ct"), col("h.body"))
              .as("skip_reason"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 6 WHEN 0 THEN 'text/html'
             |    WHEN 1 THEN 'text/plain'
             |    WHEN 2 THEN 'application/ld+json'
             |    WHEN 3 THEN 'image/png'
             |    ELSE '' END AS mime,
             |  CASE doc_id % 6 WHEN 0 THEN 'html' WHEN 1 THEN 'plain'
             |    WHEN 2 THEN 'json' WHEN 3 THEN 'skip' WHEN 4 THEN 'skip'
             |    ELSE 'html' END AS route,
             |  CASE doc_id % 6 WHEN 0 THEN text
             |    WHEN 1 THEN text || ' plain tail'
             |    WHEN 2 THEN text
             |    WHEN 5 THEN text
             |    ELSE NULL END AS text_out,
             |  CASE doc_id % 6 WHEN 3 THEN 'image/png'
             |    WHEN 4 THEN 'binary-no-type' END AS skip_reason
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // WebP + AVIF container metadata — the two formats that dominate
    // 2026 crawl images, in q32's differential protocol: both engines
    // construct the byte-identical blob (hex → unhex, checksum-bound
    // via md5 over the hex form), the engine parses the BINARY with
    // the real header parsers (RIFF chunk walk for WebP VP8/VP8L/VP8X,
    // ISO-BMFF meta/iprp/ipco/ispe walk for AVIF via media_meta), and
    // the oracle re-parses the SAME BYTES relationally — LE16/LE24/
    // LE32/BE32 fields extracted byte-by-byte from the hex — so the
    // comparison is parser-vs-parser over one blob, not formula-vs-
    // formula.
    "q254_webp_avif_meta" -> Q(
      (s, d) => {
        import graft.multimodal.MultimodalOps
        def le32(v: String) = s"format_string('%02x%02x%02x%02x', $v & 255, " +
          s"shiftright($v, 8) & 255, shiftright($v, 16) & 255, shiftright($v, 24) & 255)"
        def le24(v: String) = s"format_string('%02x%02x%02x', $v & 255, " +
          s"shiftright($v, 8) & 255, shiftright($v, 16) & 255)"
        def le16(v: String) = s"format_string('%02x%02x', $v & 255, shiftright($v, 8) & 255)"
        def be32(v: String) = s"format_string('%02x%02x%02x%02x', " +
          s"shiftright($v, 24) & 255, shiftright($v, 16) & 255, " +
          s"shiftright($v, 8) & 255, $v & 255)"
        val staged = docs(s, d).select(col("doc_id"),
          expr("1 + doc_id % 999").as("w0"),
          expr("1 + (doc_id * 7) % 777").as("h0"),
          expr("1 + (doc_id * 3) % 2000").as("w1"),
          expr("1 + (doc_id * 11) % 1600").as("h1"),
          expr("1 + (doc_id * 5) % 4000").as("w2"),
          expr("1 + (doc_id * 13) % 3000").as("h2"),
          expr("1 + (doc_id * 17) % 8000").as("w3"),
          expr("1 + (doc_id * 19) % 6000").as("h3"))
          // VP8L packs (w-1, h-1) as 14+14 bits of one LE u32
          .withColumn("vl", expr("(w1 - 1) + (h1 - 1) * 16384"))
        val v8 = s"concat('52494646', '16000000', '57454250', '56503820', " +
          s"'0a000000', '000000', '9d012a', ${le16("w0")}, ${le16("h0")})"
        val v8l = s"concat('52494646', '12000000', '57454250', '5650384c', " +
          s"'05000000', '2f', ${le32("vl")}, '00')"
        val v8x = s"concat('52494646', '16000000', '57454250', '56503858', " +
          s"'0a000000', '00000000', ${le24("(w2 - 1)")}, ${le24("(h2 - 1)")})"
        val avif = s"concat('00000018', '66747970', '61766966', '00000000', " +
          s"'61766966', '6d696631', '00000030', '6d657461', '00000000', " +
          s"'00000024', '69707270', '0000001c', '6970636f', '00000014', " +
          s"'69737065', '00000000', ${be32("w3")}, ${be32("h3")})"
        val withMedia = staged.withColumn("media", expr(
          s"unhex(CASE WHEN doc_id % 4 = 0 THEN $v8 " +
            s"WHEN doc_id % 4 = 1 THEN $v8l " +
            s"WHEN doc_id % 4 = 2 THEN $v8x ELSE $avif END)"))
        val meta = MultimodalOps.decodeMetaColumns(col("media"))
        withMedia.select(col("doc_id"), meta(0), meta(1), meta(2), meta(3),
            meta(4), md5(hex(col("media"))).as("checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH params AS (
             |  SELECT doc_id,
             |    1 + doc_id % 999 AS w0, 1 + (doc_id * 7) % 777 AS h0,
             |    1 + (doc_id * 3) % 2000 AS w1, 1 + (doc_id * 11) % 1600 AS h1,
             |    1 + (doc_id * 5) % 4000 AS w2, 1 + (doc_id * 13) % 3000 AS h2,
             |    1 + (doc_id * 17) % 8000 AS w3, 1 + (doc_id * 19) % 6000 AS h3
             |  FROM documents),
             |packed AS (SELECT *, (w1 - 1) + (h1 - 1) * 16384 AS vl FROM params),
             |blobs AS (
             |  SELECT doc_id, unhex(CASE
             |    WHEN doc_id % 4 = 0 THEN
             |      '52494646' || '16000000' || '57454250' || '56503820' ||
             |      '0a000000' || '000000' || '9d012a' ||
             |      printf('%02x%02x', w0 & 255, (w0 >> 8) & 255) ||
             |      printf('%02x%02x', h0 & 255, (h0 >> 8) & 255)
             |    WHEN doc_id % 4 = 1 THEN
             |      '52494646' || '12000000' || '57454250' || '5650384c' ||
             |      '05000000' || '2f' ||
             |      printf('%02x%02x%02x%02x', vl & 255, (vl >> 8) & 255,
             |        (vl >> 16) & 255, (vl >> 24) & 255) || '00'
             |    WHEN doc_id % 4 = 2 THEN
             |      '52494646' || '16000000' || '57454250' || '56503858' ||
             |      '0a000000' || '00000000' ||
             |      printf('%02x%02x%02x', (w2-1) & 255, ((w2-1) >> 8) & 255,
             |        ((w2-1) >> 16) & 255) ||
             |      printf('%02x%02x%02x', (h2-1) & 255, ((h2-1) >> 8) & 255,
             |        ((h2-1) >> 16) & 255)
             |    ELSE
             |      '00000018' || '66747970' || '61766966' || '00000000' ||
             |      '61766966' || '6d696631' || '00000030' || '6d657461' ||
             |      '00000000' || '00000024' || '69707270' || '0000001c' ||
             |      '6970636f' || '00000014' || '69737065' || '00000000' ||
             |      printf('%02x%02x%02x%02x', (w3 >> 24) & 255, (w3 >> 16) & 255,
             |        (w3 >> 8) & 255, w3 & 255) ||
             |      printf('%02x%02x%02x%02x', (h3 >> 24) & 255, (h3 >> 16) & 255,
             |        (h3 >> 8) & 255, h3 & 255)
             |    END) AS media
             |  FROM packed),
             |hexed AS (
             |  SELECT doc_id, media, hex(media) AS hs,
             |    CASE WHEN substr(hex(media), 1, 8) = '52494646'
             |              AND substr(hex(media), 17, 8) = '57454250' THEN
             |           CASE substr(hex(media), 25, 8)
             |             WHEN '56503820' THEN 'vp8'
             |             WHEN '5650384C' THEN 'vp8l' ELSE 'vp8x' END
             |         WHEN substr(hex(media), 9, 8) = '66747970'
             |              AND substr(hex(media), 17, 8) = '61766966' THEN 'avif'
             |         ELSE 'unknown' END AS variant
             |  FROM blobs),
             |parsed AS (
             |  SELECT doc_id,
             |    CAST(octet_length(media) AS BIGINT) AS byte_len,
             |    CASE WHEN variant IN ('vp8', 'vp8l', 'vp8x') THEN 'webp'
             |         ELSE variant END AS format,
             |    CASE variant
             |      WHEN 'vp8' THEN (TRY_CAST('0x'||substr(hs, 2*27-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*28-1, 2) AS BIGINT)) % 16384
             |      WHEN 'vp8l' THEN ((TRY_CAST('0x'||substr(hs, 2*22-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*23-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*24-1, 2) AS BIGINT)
             |        + 16777216 * TRY_CAST('0x'||substr(hs, 2*25-1, 2) AS BIGINT))
             |        % 16384) + 1
             |      WHEN 'vp8x' THEN TRY_CAST('0x'||substr(hs, 2*25-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*26-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*27-1, 2) AS BIGINT) + 1
             |      ELSE 16777216 * TRY_CAST('0x'||substr(hs, 2*65-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*66-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*67-1, 2) AS BIGINT)
             |        + TRY_CAST('0x'||substr(hs, 2*68-1, 2) AS BIGINT)
             |    END AS width,
             |    CASE variant
             |      WHEN 'vp8' THEN (TRY_CAST('0x'||substr(hs, 2*29-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*30-1, 2) AS BIGINT)) % 16384
             |      WHEN 'vp8l' THEN (((TRY_CAST('0x'||substr(hs, 2*22-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*23-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*24-1, 2) AS BIGINT)
             |        + 16777216 * TRY_CAST('0x'||substr(hs, 2*25-1, 2) AS BIGINT))
             |        // 16384) % 16384) + 1
             |      WHEN 'vp8x' THEN TRY_CAST('0x'||substr(hs, 2*28-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*29-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*30-1, 2) AS BIGINT) + 1
             |      ELSE 16777216 * TRY_CAST('0x'||substr(hs, 2*69-1, 2) AS BIGINT)
             |        + 65536 * TRY_CAST('0x'||substr(hs, 2*70-1, 2) AS BIGINT)
             |        + 256 * TRY_CAST('0x'||substr(hs, 2*71-1, 2) AS BIGINT)
             |        + TRY_CAST('0x'||substr(hs, 2*72-1, 2) AS BIGINT)
             |    END AS height,
             |    md5(hs) AS checksum
             |  FROM hexed)
             |SELECT doc_id, byte_len, format,
             |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
             |  CAST(1 AS BIGINT) AS n_frames, checksum
             |FROM parsed ORDER BY doc_id""".stripMargin)),

    // TRAINED language ID — the statistical upgrade over q22's
    // caller-supplied marker dictionary (whose coverage is whatever
    // markers the query ships): train the exact-integer NaiveBayes on
    // CHAR-3-GRAM features over a seeded per-language corpus, then
    // classify held-out text — the fastText-langid shape that works at
    // 100-language scale because the features are learned from counts,
    // not curated. The corpus synthesizes four script-distinct
    // languages deterministically (vowel-substitution ciphers into
    // umlaut/Cyrillic/Greek codepoints, doc_id % 4), trains on
    // doc_id % 5 <> 0 and predicts the held-out fifth; trigrams are
    // taken over the space→'_' normalized text so word boundaries stay
    // inside features. The MARKER heuristic (does the doc contain this
    // language's ciphered form of the corpus's most-common word?) runs
    // beside it on the same held-out docs — its per-row correctness
    // column against the trained model's is exactly the accuracy
    // comparison a pipeline owner needs before swapping q22-class
    // routing for the trained model. Oracle replays EVERYTHING —
    // ciphers, trigram explosion, counts, vocabulary, whole-bit
    // Laplace surprisal, priors, OOV fallback, the argmin, and the
    // marker CASE — bit for bit (q232's protocol on char-gram
    // features). Scale: two count shuffles to train; inference crosses
    // trigrams with the broadcast 4-class list and left-joins the
    // model — linear in corpus characters.
    "q255_trained_langid" -> Q(
      (s, d) => {
        import graft.llm.NaiveBayes
        val uml = "äëïöü"
        val cyr = "аеиоу"
        val grk = "αειου"
        // the cipher+grams pipeline is an expensive pure map chain (no
        // exchange, so nothing dedups re-executions) consumed across
        // MULTIPLE actions (train's counts + both model tables + the
        // classify/marker legs): spread the one decode pass across the
        // cores and materialize it ONCE (round 13 — the r12
        // multi-action rule; before, it re-ran per consumer)
        val ciphered = graft.operators.Spread.compute(
          docs(s, d).select(col("doc_id"), col("text")))
          .withColumn("true_lang", expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'lat' " +
              "WHEN 1 THEN 'uml' WHEN 2 THEN 'cyr' ELSE 'grk' END"))
          .withColumn("ctext", expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN text " +
              s"WHEN 1 THEN translate(text, 'aeiou', '$uml') " +
              s"WHEN 2 THEN translate(text, 'aeiou', '$cyr') " +
              s"ELSE translate(text, 'aeiou', '$grk') END"))
          // hoist the normalized string OUT of the lambda: an
          // expression inside transform() re-evaluates per element
          .withColumn("ct2", expr("replace(ctext, ' ', '_')"))
          .withColumn("grams", expr(
            "array_join(transform(sequence(1, greatest(length(ct2) - 2, 1)), " +
              "i -> substring(ct2, i, 3)), ' ')"))
          .materialized
        val (classes, tokenBits) = NaiveBayes.train(
          ciphered.filter(col("doc_id") % 5 =!= 0), "doc_id", "true_lang",
          col("grams"))
        val test = ciphered.filter(col("doc_id") % 5 === 0)
        // the marker baseline: each language's ciphered ' batch '
        // (the corpus's most-document-frequent word, ~80% coverage) —
        // the engine derives the ciphered markers itself, no
        // hand-typed mixed-script literals
        val marker = test.select(col("doc_id"),
          expr("concat(' ', ctext, ' ')").as("pad"))
          .select(col("doc_id"), expr(
            "CASE WHEN contains(pad, ' batch ') THEN 'lat' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$uml')) THEN 'uml' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$cyr')) THEN 'cyr' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$grk')) THEN 'grk' " +
              "ELSE 'und' END").as("marker_pred"))
        NaiveBayes.classify(test, "doc_id", col("grams"), classes, tokenBits)
          .join(test.select(col("doc_id"), col("true_lang").as("actual")),
            Seq("doc_id"))
          .join(marker, Seq("doc_id"))
          .select(col("doc_id"), col("actual"), col("predicted"),
            col("score_bits"),
            (col("predicted") === col("actual")).cast("long").as("nb_correct"),
            col("marker_pred"),
            (col("marker_pred") === col("actual")).cast("long")
              .as("marker_correct"))
          .orderBy("doc_id")
      },
      Some {
        val uml = "äëïöü"
        val cyr = "аеиоу"
        val grk = "αειου"
        s"""WITH c AS (SELECT doc_id,
           |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'lat'
           |      WHEN 1 THEN 'uml' WHEN 2 THEN 'cyr' ELSE 'grk' END
           |      AS true_lang,
           |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN text
           |      WHEN 1 THEN translate(text, 'aeiou', '$uml')
           |      WHEN 2 THEN translate(text, 'aeiou', '$cyr')
           |      ELSE translate(text, 'aeiou', '$grk') END AS ctext
           |  FROM documents),
           |g AS (SELECT doc_id, true_lang, ctext,
           |    replace(ctext, ' ', '_') AS ct2 FROM c),
           |tt AS (SELECT doc_id, label, substring(ct2, CAST(i AS INT), 3) AS t
           |  FROM (SELECT doc_id, true_lang AS label, ct2,
           |      unnest(generate_series(1, greatest(length(ct2) - 2, 1)))
           |        AS i
           |    FROM g WHERE doc_id % 5 <> 0)),
           |v AS (SELECT count(DISTINCT t) AS v FROM tt),
           |ct AS (SELECT label, t, count(*) AS n_ct FROM tt
           |       GROUP BY label, t),
           |ctot AS (SELECT label, sum(n_ct) AS n_tokens FROM ct
           |         GROUP BY label),
           |cdocs AS (SELECT true_lang AS label, count(*) AS n_docs
           |  FROM c WHERE doc_id % 5 <> 0 GROUP BY 1),
           |dtot AS (SELECT count(*) AS d FROM c WHERE doc_id % 5 <> 0),
           |cls AS (SELECT cd.label,
           |    CAST(length(bin(d // n_docs)) - 1 AS BIGINT) AS prior_bits,
           |    CAST(length(bin(n_tokens + v)) - 1 AS BIGINT) AS oov_bits
           |  FROM cdocs cd JOIN ctot USING (label)
           |  CROSS JOIN dtot CROSS JOIN v),
           |tb AS (SELECT ct.label, ct.t,
           |    CAST(length(bin((n_tokens + v) // (n_ct + 1))) - 1
           |      AS BIGINT) AS bits
           |  FROM ct JOIN ctot USING (label) CROSS JOIN v),
           |te AS (SELECT doc_id, substring(ct2, CAST(i AS INT), 3) AS t
           |  FROM (SELECT doc_id, ct2,
           |      unnest(generate_series(1, greatest(length(ct2) - 2, 1)))
           |        AS i
           |    FROM g WHERE doc_id % 5 = 0)),
           |st AS (SELECT te.doc_id, cls.label,
           |    COALESCE(tb.bits, cls.oov_bits) AS bits
           |  FROM te CROSS JOIN cls
           |  LEFT JOIN tb ON tb.label = cls.label AND tb.t = te.t),
           |pc AS (SELECT doc_id, label, sum(bits) AS tok_bits
           |  FROM st GROUP BY doc_id, label),
           |sc AS (SELECT pc.doc_id, pc.label,
           |    tok_bits + prior_bits AS score_bits
           |  FROM pc JOIN cls USING (label)),
           |pred AS (SELECT doc_id, label AS predicted, score_bits,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score_bits, label) AS rn
           |  FROM sc),
           |mk AS (SELECT doc_id,
           |    CASE WHEN contains(' ' || ctext || ' ', ' batch ')
           |           THEN 'lat'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$uml')) THEN 'uml'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$cyr')) THEN 'cyr'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$grk')) THEN 'grk'
           |         ELSE 'und' END AS marker_pred
           |  FROM c WHERE doc_id % 5 = 0)
           |SELECT p.doc_id, g.true_lang AS actual, p.predicted,
           |  CAST(p.score_bits AS BIGINT) AS score_bits,
           |  CAST(p.predicted = g.true_lang AS BIGINT) AS nb_correct,
           |  mk.marker_pred,
           |  CAST(mk.marker_pred = g.true_lang AS BIGINT) AS marker_correct
           |FROM pred p JOIN g USING (doc_id) JOIN mk USING (doc_id)
           |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin
      }),

    // STREAMING MIME-ROUTED multilingual crawl ingest — the production
    // shape of q253+q250 composed: mixed-media-type records (KOI8-R
    // HTML with native-script bytes, plain text, JSON, real WebP
    // binary) packed into .warc.gz shards that arrive one per
    // microbatch (q249's protocol), each batch inflated → record walk
    // → http_parts → ContentRoute dispatch → idempotent batch=N
    // landing. Binary records are SKIPPED with their media type as the
    // reason (never decoded, never extracted); the KOI8-R class proves
    // the charset table works through the streaming path. Oracle
    // predicts every routed row closed-form; batch count from
    // committed dirs pins true multi-batch delivery.
    "q256_stream_mime_ingest" -> Q(
      (s, d) => {
        import graft.crawl.ContentRoute
        graft.plans.GraftExtensions.register(s)
        val root = graft.queries.Scratch.dir("graft-q256-mime")
        val msgHex = expr(
          "CASE CAST(doc_id % 4 AS INT) " +
            // KOI8-R HTML: ' да' (C4C1) staged inside the main <p>
            "WHEN 0 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=koi8-r', cr, cr, " +
            "  '<html><body><div><a href=\"/\">home</a></div><p>', " +
            "  text, ' ')), 'C4C1', hex('</p><div>footer</div></body></html>')) " +
            // plain text: squeeze-only route
            "WHEN 1 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/plain; charset=utf-8', cr, cr, " +
            "  '  ', text, '   plain  tail ')) " +
            // JSON: field-pull route
            "WHEN 2 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: application/json', cr, cr, " +
            "  '{\"text\":\"', text, '\",\"k\":1}')) " +
            // real WebP (VP8L 8x8) binary: skip route, decode never runs
            "ELSE concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: image/webp', cr, " +
            "  'Content-Length: 26', cr, cr)), " +
            "  '5249464612000000574542505650384C050000002F07C0010000') END")
        val shards = docs(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            pmod(expr("doc_id div 4"), lit(4)).as("bucket"))
          .withColumn("cr", lit("\r\n"))
          .withColumn("msg_hex", msgHex)
          .withColumn("r1_hex", expr(
            "concat(hex(concat('WARC/1.0', cr, " +
              "'WARC-Type: response', cr, " +
              "'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), " +
              "'>', cr, " +
              "'Content-Length: ', " +
              "CAST(length(msg_hex) / 2 AS BIGINT), cr, cr)), " +
              "msg_hex, hex(concat(cr, cr)))"))
          .withColumn("gzh", expr("hex(gzip_bytes(unhex(r1_hex)))"))
          .groupBy(col("bucket"))
          .agg(expr("unhex(concat_ws('', sort_array(collect_list(gzh))))")
            .as("media"))
        val stream = replayShards(s, shards, s"$root/src")
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          b.select(expr("inline(warc_records(gunzip_all(media)))"))
            .withColumn("h", expr("http_parts(content)"))
            .withColumn("ct", expr("element_at(h.headers, 'content-type')"))
            .select(
              expr("CAST(regexp_extract(record_id, 'doc-(\\\\d+)', 1) " +
                "AS BIGINT)").as("doc_id"),
              ContentRoute.essence(col("ct")).as("mime"),
              ContentRoute.route(col("ct")).as("route"),
              ContentRoute.extractedText(col("h.body"), col("ct"))
                .as("text_out"),
              ContentRoute.skipReason(col("ct")).as("skip_reason"))
            .write.mode("overwrite").parquet(s"$root/out/batch=$bid")
        }
        val batches = Option(new java.io.File(s"$root/out").listFiles())
          .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
          .getOrElse(0)
        require(batches == 4, s"expected 4 delivered microbatches, got $batches")
        Parquet.read(s, s"$root/out")
          .select(col("doc_id"), col("mime"), col("route"), col("text_out"),
            col("skip_reason"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 4 WHEN 0 THEN 'text/html'
             |    WHEN 1 THEN 'text/plain'
             |    WHEN 2 THEN 'application/json'
             |    ELSE 'image/webp' END AS mime,
             |  CASE doc_id % 4 WHEN 0 THEN 'html' WHEN 1 THEN 'plain'
             |    WHEN 2 THEN 'json' ELSE 'skip' END AS route,
             |  CASE doc_id % 4
             |    WHEN 0 THEN text || ' ' || chr(1076) || chr(1072)
             |    WHEN 1 THEN text || ' plain tail'
             |    WHEN 2 THEN text
             |    ELSE NULL END AS text_out,
             |  CASE WHEN doc_id % 4 = 3 THEN 'image/webp' END AS skip_reason
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ROBOTS.TXT FRONTIER GATE (RFC 9309) — the crawl-side admission
    // decision before any fetch: parse each host's robots.txt into
    // groups (consecutive User-agent lines share; rules bind to the
    // nearest preceding group), select the crawler's groups (specific
    // token beats '*' — the staged '*' group disallows EVERYTHING, so
    // a selection bug blanks the frontier and the hash fails), convert
    // path patterns ('*' wildcard, '$' end anchor) to anchored
    // regexes, and decide per URL by longest-match with allow winning
    // ties. The staged policy blocks ids ending in 7 but re-allows
    // ids ending in 77 (the longer allow must beat the shorter
    // disallow); 'graftbot-img' and 'otherbot' groups must NOT match
    // 'graftbot' (exact product-token equality); unknown directives
    // and comments are ignored. Oracle predicts every decision,
    // matched pattern, and rule polarity closed-form.
    "q257_robots_frontier" -> Q(
      (s, d) => {
        import graft.crawl.Robots
        val dd = docs(s, d).select(col("doc_id"), col("source"))
        val robotsTxt = dd.select(col("source")).distinct()
          .withColumn("robots_txt", concat(
            lit("# crawl policy\nUser-agent: graftbot\nDisallow: /"),
            col("source"), lit("/*7$\nAllow: /"),
            col("source"), lit("/*77$\nDisallow: /private/\n\n" +
              "User-agent: otherbot\nUser-agent: graftbot-img\n" +
              "Disallow: /\n\n" +
              "User-agent: *\nDisallow: /"),
            col("source"), lit("/\nCrawl-delay: 5\n")))
        val ruleRows = Robots.rules(robotsTxt, "source", "robots_txt")
        val urls = dd.withColumn("path",
          concat(lit("/"), col("source"), lit("/"), col("doc_id")))
        Robots.decisions(ruleRows, urls, "source", "doc_id", "path",
            userAgent = "graftbot")
          .select(col("doc_id"), col("path"), col("matched_path"),
            col("matched_allow"), col("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, '/' || source || '/' || doc_id AS path,
             |  CASE WHEN doc_id % 100 = 77 THEN '/' || source || '/*77$'
             |       WHEN doc_id % 10 = 7 THEN '/' || source || '/*7$'
             |       END AS matched_path,
             |  CASE WHEN doc_id % 100 = 77 THEN true
             |       WHEN doc_id % 10 = 7 THEN false END AS matched_allow,
             |  CASE WHEN doc_id % 100 = 77 THEN true
             |       WHEN doc_id % 10 = 7 THEN false
             |       ELSE true END AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // SITEMAP → FRONTIER composition — the discovery half of the crawl
    // loop q257 gates: per-source sitemap XML (urlset/url/loc/lastmod,
    // entity-escaped URLs per the sitemaps.org spec, one bounded
    // sitemap per source exactly like the spec's 50k-URL shards) is
    // parsed with the regex battery, entity-decoded (html_unescape),
    // canonicalized (UrlFunctions.normalize: case, utm_* params,
    // fragment), and admitted through the q257 robots policy. Every
    // stage — extraction, decode, canonical form, lastmod, decision —
    // is closed-form predicted.
    "q258_sitemap_frontier" -> Q(
      (s, d) => {
        import graft.crawl.Robots
        import graft.functions.{HtmlFunctions, UrlFunctions}
        val dd = docs(s, d).select(col("doc_id"), col("source"))
        val entry = concat(
          lit("<url><loc>HTTPS://Crawl.test/"), col("source"), lit("/"),
          col("doc_id"), lit("?utm_source=feed&amp;ref="),
          pmod(col("doc_id"), lit(5)), lit("#frag</loc><lastmod>2026-01-"),
          lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
          lit("</lastmod></url>"))
        val sitemaps = dd.withColumn("e", entry)
          .groupBy("source")
          .agg(concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
            concat_ws("", sort_array(collect_list(col("e")))),
            lit("</urlset>")).as("xml"))
        val entries = sitemaps.select(col("source"),
            explode(expr(
              "regexp_extract_all(xml, '<url>([\\\\s\\\\S]*?)</url>', 1)"))
              .as("block"))
          .withColumn("loc", HtmlFunctions.decodeEntities(
            expr("regexp_extract(block, '<loc>([^<]*)</loc>', 1)")))
          .withColumn("lastmod",
            expr("regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1)"))
          .withColumn("canon", UrlFunctions.normalize(col("loc")))
          .withColumn("path", UrlFunctions.path(col("canon")))
          .withColumn("doc_id", expr(
            "CAST(regexp_extract(canon, '/([0-9]+)\\\\?', 1) AS BIGINT)"))
        val robotsTxt = dd.select(col("source")).distinct()
          .withColumn("robots_txt", concat(
            lit("User-agent: graftbot\nDisallow: /"),
            col("source"), lit("/*7$\nAllow: /"),
            col("source"), lit("/*77$\n\nUser-agent: *\nDisallow: /"),
            col("source"), lit("/\n")))
        val ruleRows = Robots.rules(robotsTxt, "source", "robots_txt")
        Robots.decisions(ruleRows, entries, "source", "doc_id", "path",
            userAgent = "graftbot")
          .select(col("doc_id"), col("canon"), col("lastmod"),
            col("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'https://crawl.test/' || source || '/' || doc_id ||
             |    '?ref=' || (doc_id % 5) AS canon,
             |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             |    AS lastmod,
             |  CASE WHEN doc_id % 100 = 77 THEN true
             |       WHEN doc_id % 10 = 7 THEN false
             |       ELSE true END AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // SITEMAP-INDEX composition — the spec's standard sharding above
    // 50k URLs: a <sitemapindex> names child sitemaps (one GZIPPED, as
    // .xml.gz members ubiquitously are), each child an <urlset> in
    // q258's shape. The walk is the real two-fetch composition: parse
    // the index's <sitemap><loc> refs, join each ref to its fetched
    // blob, gunzip the .gz member, parse the child urlset, entity-
    // decode + canonicalize every URL and gate it through the q257
    // robots policy. Every row — which child carried it, the canonical
    // form, the lastmod, the decision — is closed-form predicted.
    "q259_sitemap_index_frontier" -> Q(
      (s, d) => {
        import graft.crawl.Robots
        import graft.functions.{HtmlFunctions, UrlFunctions}
        graft.plans.GraftExtensions.register(s)
        val dd = docs(s, d).select(col("doc_id"), col("source"))
        val entry = concat(
          lit("<url><loc>HTTPS://Crawl.test/"), col("source"), lit("/"),
          col("doc_id"), lit("?utm_source=feed&amp;ref="),
          pmod(col("doc_id"), lit(5)), lit("#frag</loc><lastmod>2026-01-"),
          lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
          lit("</lastmod></url>"))
        // two child sitemaps per source; child 0 ships gzipped
        val children = dd
          .withColumn("child", pmod(col("doc_id"), lit(2)))
          .withColumn("e", entry)
          .groupBy("source", "child")
          .agg(concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
            concat_ws("", sort_array(collect_list(col("e")))),
            lit("</urlset>")).as("xml"))
          .withColumn("name", concat(lit("sitemap-"), col("child"),
            when(col("child") === 0, lit(".xml.gz")).otherwise(lit(".xml"))))
          .withColumn("blob", expr(
            "CASE WHEN child = 0 THEN gzip_bytes(encode(xml, 'utf-8')) " +
              "ELSE encode(xml, 'utf-8') END"))
          .select("source", "name", "blob")
        val index = children.groupBy("source")
          .agg(concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
            concat_ws("", sort_array(collect_list(concat(
              lit("<sitemap><loc>https://crawl.test/"), col("source"),
              lit("/"), col("name"), lit("</loc></sitemap>"))))),
            lit("</sitemapindex>")).as("index_xml"))
        // the walk: index refs -> fetched child blobs -> urlset rows
        val refs = index.select(col("source"),
            explode(expr("regexp_extract_all(index_xml, " +
              "'<sitemap><loc>([^<]*)</loc></sitemap>', 1)")).as("ref"))
          .withColumn("name", expr("regexp_extract(ref, '/([^/]+)$', 1)"))
        val fetched = refs.join(children, Seq("source", "name"))
          .withColumn("child_xml", expr(
            "decode(CASE WHEN name LIKE '%.gz' THEN gunzip_all(blob) " +
              "ELSE blob END, 'utf-8')"))
        val entries = fetched.select(col("source"), col("name"),
            explode(expr(
              "regexp_extract_all(child_xml, '<url>([\\\\s\\\\S]*?)</url>', 1)"))
              .as("block"))
          .withColumn("loc", HtmlFunctions.decodeEntities(
            expr("regexp_extract(block, '<loc>([^<]*)</loc>', 1)")))
          .withColumn("lastmod",
            expr("regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1)"))
          .withColumn("canon", UrlFunctions.normalize(col("loc")))
          .withColumn("path", UrlFunctions.path(col("canon")))
          .withColumn("doc_id", expr(
            "CAST(regexp_extract(canon, '/([0-9]+)\\\\?', 1) AS BIGINT)"))
        val robotsTxt = dd.select(col("source")).distinct()
          .withColumn("robots_txt", concat(
            lit("User-agent: graftbot\nDisallow: /"),
            col("source"), lit("/*7$\nAllow: /"),
            col("source"), lit("/*77$\n\nUser-agent: *\nDisallow: /"),
            col("source"), lit("/\n")))
        val ruleRows = Robots.rules(robotsTxt, "source", "robots_txt")
        Robots.decisions(ruleRows, entries, "source", "doc_id", "path",
            userAgent = "graftbot")
          .select(col("doc_id"), col("name").as("sitemap"), col("canon"),
            col("lastmod"), col("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'sitemap-0.xml.gz'
             |       ELSE 'sitemap-1.xml' END AS sitemap,
             |  'https://crawl.test/' || source || '/' || doc_id ||
             |    '?ref=' || (doc_id % 5) AS canon,
             |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             |    AS lastmod,
             |  CASE WHEN doc_id % 100 = 77 THEN true
             |       WHEN doc_id % 10 = 7 THEN false
             |       ELSE true END AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // POLITENESS RATE PLAN — the deterministic scheduling operator a
    // crawler dispatches from: the q257 policy gains per-host
    // Crawl-delay directives (sources of even name-length declare
    // 1 + len % 3 seconds; odd-length hosts stay silent and get the
    // caller default), the allowed frontier is slotted per host in
    // doc_id order, and every row carries its send-no-earlier-than
    // offset slot × delay. Parsing (group binding, fractional-second
    // unit), group selection, the slot window, and the arithmetic all
    // replay relationally.
    "q260_politeness_schedule" -> Q(
      (s, d) => {
        import graft.crawl.Robots
        val dd = docs(s, d).select(col("doc_id"), col("source"))
        val robotsTxt = dd.select(col("source")).distinct()
          .withColumn("robots_txt", concat(
            lit("User-agent: graftbot\nDisallow: /"),
            col("source"), lit("/*7$\nAllow: /"),
            col("source"), lit("/*77$\n"),
            expr("CASE WHEN length(source) % 2 = 0 THEN " +
              "concat('Crawl-delay: ', " +
              "CAST(1 + length(source) % 3 AS STRING), chr(10)) " +
              "ELSE '' END"),
            lit("\nUser-agent: *\nDisallow: /"), col("source"),
            lit("/\n")))
        val ruleRows = Robots.rules(robotsTxt, "source", "robots_txt")
        val urls = dd.withColumn("path",
          concat(lit("/"), col("source"), lit("/"), col("doc_id")))
        val allowed = Robots.decisions(ruleRows, urls, "source", "doc_id",
            "path", userAgent = "graftbot")
          .filter(col("allowed"))
        val delays = Robots.crawlDelays(robotsTxt, "source", "robots_txt",
          userAgent = "graftbot")
        Robots.schedule(allowed, delays, "source", "doc_id",
            defaultDelayMs = 1000L)
          .select(col("doc_id"), col("path"), col("slot"), col("delay_ms"),
            col("fetch_at_ms"))
          .orderBy("doc_id")
      },
      Some("""WITH allowed AS (
             |  SELECT doc_id, source, '/' || source || '/' || doc_id AS path
             |  FROM documents
             |  WHERE doc_id % 100 = 77 OR doc_id % 10 <> 7),
             |slotted AS (
             |  SELECT doc_id, path,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY doc_id) - 1 AS BIGINT) AS slot,
             |    CAST(CASE WHEN strlen(source) % 2 = 0
             |      THEN (1 + strlen(source) % 3) * 1000
             |      ELSE 1000 END AS BIGINT) AS delay_ms
             |  FROM allowed)
             |SELECT doc_id, path, slot, delay_ms,
             |  slot * delay_ms AS fetch_at_ms
             |FROM slotted ORDER BY doc_id""".stripMargin)),

    // STRUCTURED PAGE METADATA — the signals canonical-URL dedup and
    // quality routing key on: OpenGraph properties, <meta name=…>,
    // <link rel=canonical>, and a JSON-LD block, extracted with the
    // established regex battery and fed into canonical-URL dedup
    // (UrlFunctions.normalize + min-id survivor). Staging cycles the
    // og tag through doc_id % 4 over attribute ORDER × QUOTE STYLE
    // (property-first/content-first, double/single/cross-quoted) and
    // the link tag through rel-first/href-first — extraction must
    // recover identical fields from every variant, which is the pin.
    // Doc pairs (2k, 2k+1) of one source declare the SAME canonical
    // target, so the dedup stage has real work whose survivor the
    // oracle replays relationally.
    "q261_page_metadata" -> Q(
      (s, d) => {
        import graft.functions.{HtmlFunctions, UrlFunctions}
        val dq = "\""
        val dd = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val c = pmod(col("doc_id"), lit(4))
        val ogVal = concat(lit("OG doc "), col("doc_id"))
        val canonHref = concat(lit("HTTPS://Crawl.test/"), col("source"),
          lit("/"), (col("doc_id") - pmod(col("doc_id"), lit(2))),
          lit("?utm_campaign=x"))
        val ogTag =
          when(c === 0, concat(
            lit(s"<meta property=${dq}og:title$dq content=$dq"), ogVal,
            lit(dq + ">")))
          .when(c === 1, concat(
            lit(s"<meta content=$dq"), ogVal,
            lit(s"$dq property=${dq}og:title$dq>")))
          .when(c === 2, concat(
            lit("<meta property='og:title' content='"), ogVal, lit("'>")))
          .otherwise(concat(
            lit(s"<meta property=${dq}og:title$dq content='"), ogVal,
            lit("'>")))
        val descTag = concat(lit("<meta content='desc "), col("source"),
          lit("' name='description'>"))
        val linkTag =
          when(pmod(col("doc_id"), lit(2)) === 0, concat(
            lit(s"<link rel=${dq}canonical$dq href=$dq"), canonHref,
            lit(dq + ">")))
          .otherwise(concat(
            lit("<link href='"), canonHref, lit("' rel='canonical'>")))
        val ldTag = concat(
          lit(s"<script type=${dq}application/ld+json$dq>" +
            s"{${dq}@type$dq:${dq}Article$dq,${dq}headline$dq:${dq}hl "),
          col("doc_id"), lit(s"$dq}</script>"))
        val html = concat(lit("<html><head><title>t</title>"), ogTag,
          descTag, linkTag, ldTag,
          lit("</head><body><p>"), col("text"),
          lit("</p></body></html>"))
        dd.withColumn("html", html)
          .select(col("doc_id"),
            HtmlFunctions.metaProperty(col("html"), "og:title")
              .as("og_title"),
            HtmlFunctions.metaNamed(col("html"), "description")
              .as("description"),
            UrlFunctions.normalize(HtmlFunctions.canonicalUrl(col("html")))
              .as("canon"),
            get_json_object(HtmlFunctions.jsonLd(col("html")),
              "$.headline").as("headline"))
          .withColumn("survivor",
            expr("CAST(min(doc_id) OVER (PARTITION BY canon) AS BIGINT)"))
          .withColumn("is_dup", col("doc_id") =!= col("survivor"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'OG doc ' || doc_id AS og_title,
             |  'desc ' || source AS description,
             |  'https://crawl.test/' || source || '/' ||
             |    (doc_id - doc_id % 2) AS canon,
             |  'hl ' || doc_id AS headline,
             |  CAST(min(doc_id) OVER (PARTITION BY source,
             |    doc_id - doc_id % 2) AS BIGINT) AS survivor,
             |  doc_id <> min(doc_id) OVER (PARTITION BY source,
             |    doc_id - doc_id % 2) AS is_dup
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // UNIFIED INGEST-FUNNEL ACCOUNTING — production loss-accounting as
    // a first-class object: one pass over a staged mixed-health crawl
    // corpus emits a row per pipeline stage (gunzip → warc → http →
    // route → encoding → extract → gate) with input/survivor/drop
    // counts, where input(n) = survivors(n-1) and every row satisfies
    // input = survivors + drops (the Σ-invariant the oracle pins).
    // doc_id % 8 stages one failure class per stage: not-gzip bytes,
    // not-WARC payload, not-HTTP payload, binary route, brotli
    // quarantine, paragraph-less page, under-length gate reject —
    // class 0 survives end-to-end. The engine derives per-record
    // flags through the REAL chain in one projection (each derivation
    // evaluated once — the conditional-aggregation shape, no filter
    // re-evaluation trap) and aggregates them in one job.
    "q262_ingest_funnel" -> Q(
      (s, d) => {
        import graft.crawl.ContentRoute
        import graft.functions.HtmlFunctions
        graft.plans.GraftExtensions.register(s)
        val docsDf = docs(s, d).select(col("doc_id"), col("text"))
          .withColumn("c", expr("CAST(doc_id % 8 AS INT)"))
          .withColumn("cr", lit("\r\n"))
        // the HTTP message per class (hex), NULL where the failure is
        // staged at an OUTER layer (classes 1/2)
        val msgHex = expr(
          "CASE c " +
            // 0: healthy page, survives the whole funnel
            "WHEN 0 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html; charset=utf-8', cr, cr, " +
            "  '<html><body><p>content ', text, '</p></body></html>')) " +
            // 3: not an HTTP message at all
            "WHEN 3 THEN hex('plain garbage, no status line') " +
            // 4: typed binary -> route skip
            "WHEN 4 THEN concat(hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: image/png', cr, cr)), '89504E470D0A1A0A') " +
            // 5: brotli content-coding -> encoding quarantine
            "WHEN 5 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, " +
            "  'Content-Encoding: br', cr, cr, 'compressed-ish')) " +
            // 6: page with no paragraph -> empty extraction
            "WHEN 6 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, cr, " +
            "  '<html><body><div>nav only</div></body></html>')) " +
            // 7: paragraph present but under the length gate
            "WHEN 7 THEN hex(concat('HTTP/1.1 200 OK', cr, " +
            "  'Content-Type: text/html', cr, cr, " +
            "  '<html><body><p>shrt</p></body></html>')) " +
            "ELSE NULL END")
        val staged = docsDf
          .withColumn("msg_hex", msgHex)
          .withColumn("media", expr(
            "CASE c " +
              // 1: not gzip bytes at all
              "WHEN 1 THEN unhex('00FF00FF00FF') " +
              // 2: a gzip member whose payload is not WARC
              "WHEN 2 THEN gzip_bytes(encode('NOT A WARC RECORD', 'utf-8')) " +
              "ELSE gzip_bytes(unhex(concat(hex(concat('WARC/1.0', cr, " +
              "  'WARC-Type: response', cr, " +
              "  'WARC-Record-ID: <urn:uuid:doc-', CAST(doc_id AS STRING), " +
              "  '>', cr, 'Content-Length: ', " +
              "  CAST(length(msg_hex) / 2 AS BIGINT), cr, cr)), " +
              "  msg_hex, hex(concat(cr, cr))))) END"))
          // the funnel: each stage derived ONCE per record
          .withColumn("inflated", expr("gunzip_all(media)"))
          // try_: class 2's record walk yields an EMPTY array (gzip of
          // not-WARC bytes), which plain element_at throws on under
          // ANSI mode — absence is a funnel drop, not an error
          .withColumn("w", expr("try_element_at(warc_records(inflated), 1)"))
          .withColumn("h", expr("http_parts(w.content)"))
          .withColumn("ct", expr("element_at(h.headers, 'content-type')"))
          .withColumn("routed",
            ContentRoute.route(col("ct"), col("h.body")))
          // guard keeps the decode off skip/quarantined rows (CaseWhen
          // branches evaluate lazily — binary bodies never pay it)
          .withColumn("extracted",
            when(col("routed") =!= "skip" && col("h.quarantine").isNull,
              HtmlFunctions.mainBlock(expr("decode_charset(h.body, ct).text"))))
          .withColumn("ok1", col("inflated").isNotNull)
          .withColumn("ok2", col("ok1") && col("w").isNotNull)
          .withColumn("ok3", col("ok2") && col("h").isNotNull)
          .withColumn("ok4", col("ok3") && col("routed") =!= "skip")
          .withColumn("ok5", col("ok4") && col("h.quarantine").isNull)
          .withColumn("ok6", col("ok5") && col("extracted") =!= "")
          .withColumn("ok7", col("ok6") && length(col("extracted")) >= 8)
        val totals = staged.agg(
          count(lit(1)).as("n0"),
          sum(when(col("ok1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("ok2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("ok3"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("ok4"), 1L).otherwise(0L)).as("n4"),
          sum(when(col("ok5"), 1L).otherwise(0L)).as("n5"),
          sum(when(col("ok6"), 1L).otherwise(0L)).as("n6"),
          sum(when(col("ok7"), 1L).otherwise(0L)).as("n7"))
        totals.selectExpr(
          "stack(7, " +
            "1L, 'gunzip',   n0, n1, " +
            "2L, 'warc',     n1, n2, " +
            "3L, 'http',     n2, n3, " +
            "4L, 'route',    n3, n4, " +
            "5L, 'encoding', n4, n5, " +
            "6L, 'extract',  n5, n6, " +
            "7L, 'gate',     n6, n7) " +
            "AS (stage_no, stage, input_rows, survivors)")
          .withColumn("drops", col("input_rows") - col("survivors"))
          .orderBy("stage_no")
      },
      Some("""WITH k AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n0,
             |    CAST(count(*) FILTER (doc_id % 8 <> 1) AS BIGINT) AS n1,
             |    CAST(count(*) FILTER (doc_id % 8 NOT IN (1, 2)) AS BIGINT)
             |      AS n2,
             |    CAST(count(*) FILTER (doc_id % 8 NOT IN (1, 2, 3))
             |      AS BIGINT) AS n3,
             |    CAST(count(*) FILTER (doc_id % 8 NOT IN (1, 2, 3, 4))
             |      AS BIGINT) AS n4,
             |    CAST(count(*) FILTER (doc_id % 8 NOT IN (1, 2, 3, 4, 5))
             |      AS BIGINT) AS n5,
             |    CAST(count(*) FILTER (doc_id % 8 NOT IN (1, 2, 3, 4, 5, 6))
             |      AS BIGINT) AS n6,
             |    CAST(count(*) FILTER (doc_id % 8 = 0) AS BIGINT) AS n7
             |  FROM documents)
             |SELECT stage_no, stage, input_rows, survivors,
             |  input_rows - survivors AS drops
             |FROM (
             |  SELECT CAST(1 AS BIGINT) AS stage_no, 'gunzip' AS stage,
             |    n0 AS input_rows, n1 AS survivors FROM k
             |  UNION ALL SELECT 2, 'warc', n1, n2 FROM k
             |  UNION ALL SELECT 3, 'http', n2, n3 FROM k
             |  UNION ALL SELECT 4, 'route', n3, n4 FROM k
             |  UNION ALL SELECT 5, 'encoding', n4, n5 FROM k
             |  UNION ALL SELECT 6, 'extract', n5, n6 FROM k
             |  UNION ALL SELECT 7, 'gate', n6, n7 FROM k)
             |ORDER BY stage_no""".stripMargin)),

    // PERSISTED FRONTIER SEEN-FILTER — the crawl loop closed: two REAL
    // microbatches of candidate URLs (q166's delivery protocol; the
    // batches OVERLAP on doc_id 200-249) stream through foreachBatch,
    // each round ADMITTING candidates against the visited-URL index
    // (llm/FrontierIndex: versioned novel-URL appends, one anti-join,
    // no history rescan) and landing the admitted rows idempotently
    // before folding them in (admit + land + fold inside ONE foldOnce
    // guard: a replayed batch re-computes the same admitted set
    // against the pre-batch index state, so re-delivery overwrites
    // byte-identically, never clobbers). Then the re-crawl tier:
    // exact-URL tombstones (doc_id % 10 = 3) and a whole-host
    // tombstone (the minimum source's host), after which a full
    // re-admission round must admit EXACTLY the forgotten rows. Every
    // row's first-admit batch, seen-twice drop, and re-admission flag
    // replays relationally.
    "q263_frontier_seen_filter" -> Q(
      (s, d) => {
        import graft.llm.FrontierIndex
        val root = graft.queries.Scratch.dir("graft-q263-frontier")
        val all = docs(s, d).select(col("doc_id"), col("source"))
          .withColumn("url", concat(lit("https://"), col("source"),
            lit(".crawl.test/"), col("doc_id")))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 200)))
        val idx = s"$root/idx"
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          graft.llm.IndexMaintenance.foldOnce(bid,
              FrontierIndex.latestVersion(idx)) {
            // admit BEFORE the fold (and land inside the guard):
            // deterministic against the pre-batch index state, so a
            // replayed batch rewrites the identical admitted set
            val admitted = FrontierIndex.admit(s, idx, b, "url")
              .withColumn("bid", lit(bid))
            admitted.write.mode("overwrite")
              .parquet(s"$root/admitted/batch=$bid")
            if (FrontierIndex.latestVersion(idx).isEmpty)
              FrontierIndex.build(admitted, idx, "url")
            else FrontierIndex.addBatch(s, idx, admitted, "url")
            ()
          }
        }
        require(FrontierIndex.latestVersion(idx).contains(2),
          "expected two delivered frontier microbatches")
        val landed = Parquet.read(s, s"$root/admitted")
          .select(col("doc_id"), col("bid"))
        // re-crawl tier: forget exact URLs and one whole host
        FrontierIndex.forgetUrls(
          all.filter(col("doc_id") % 10 === 3), idx, "url")
        val minSource = all.agg(min(col("source"))).head.getString(0)
        FrontierIndex.forgetHosts(
          s.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(s"$minSource.crawl.test")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("host",
                org.apache.spark.sql.types.StringType)))),
          idx, "host")
        val readmitted = FrontierIndex.admit(s, idx, all, "url")
          .select(col("doc_id")).withColumn("re", lit(true))
        all.join(landed, Seq("doc_id"), "left")
          .join(readmitted, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("bid").as("admit_batch"),
            (col("doc_id") >= 200 && col("bid") =!= 1L).as("seen_drop"),
            coalesce(col("re"), lit(false)).as("readmitted"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS BIGINT)
             |    AS admit_batch,
             |  (doc_id >= 200 AND doc_id < 250) AS seen_drop,
             |  (doc_id % 10 = 3 OR
             |   source = (SELECT min(source) FROM documents)) AS readmitted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TRAINED LANGUAGE-ID THROUGH THE CHARSET TABLE — q255's protocol
    // re-run over corpora synthesized through the ACTUAL q250 charset
    // families, so routing and decoding are exercised as one pipeline:
    // four script-distinct languages staged as vowel-substitution
    // ciphers whose native-script BYTES are hex-staged in the family's
    // legacy encoding (katakana in Shift_JIS, GB2312 row-16 hanzi via
    // the gb18030 decoder, Cyrillic in KOI8-R; the Latin class stays
    // UTF-8), wrapped in real HTTP responses with the family's
    // Content-Type label. The engine must decode the bytes through
    // http_parts → decode_charset before a single trigram is counted
    // — a charset-table defect shifts every feature and the hash
    // fails. Training (4/5), held-out inference, and the per-family
    // marker baseline all replay relationally; the oracle reproduces
    // the decode CLOSED-FORM (translate into the same codepoints), so
    // the comparison is bytes-through-decoder vs predicted text.
    "q264_charset_langid" -> Q(
      (s, d) => {
        import graft.llm.NaiveBayes
        graft.plans.GraftExtensions.register(s)
        val jp = "アエイオウ"
        val gb = "啊阿埃挨哎"
        val ru = "аеиоу"
        // spread + materialize-once for the same reason as q255: the
        // hex-staging → http_parts → decode_charset → grams chain is an
        // expensive pure map pipeline consumed across multiple actions
        val staged = graft.operators.Spread.compute(
          docs(s, d).select(col("doc_id"), col("text")))
          .withColumn("true_lang", expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'lat' " +
              "WHEN 1 THEN 'jpn' WHEN 2 THEN 'chi' ELSE 'rus' END"))
          .withColumn("label", expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'utf-8' " +
              "WHEN 1 THEN 'Shift_JIS' WHEN 2 THEN 'gb2312' " +
              "ELSE 'koi8-r' END"))
          // the page BYTES in the family's legacy encoding: vowels map
          // to fixed native-script code units (SJIS 8341/8347/8343/
          // 8349/8345, GB2312 B0A1-B0A5, KOI8-R C1/C5/C9/CF/D5), every
          // other character is ASCII (identical bytes in all four)
          .withColumn("body_hex", expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN hex(text) " +
              "ELSE array_join(transform(split(text, ''), ch -> CASE " +
              "  WHEN CAST(doc_id % 4 AS INT) = 1 THEN " +
              "    CASE ch WHEN 'a' THEN '8341' WHEN 'e' THEN '8347' " +
              "      WHEN 'i' THEN '8343' WHEN 'o' THEN '8349' " +
              "      WHEN 'u' THEN '8345' ELSE hex(ch) END " +
              "  WHEN CAST(doc_id % 4 AS INT) = 2 THEN " +
              "    CASE ch WHEN 'a' THEN 'B0A1' WHEN 'e' THEN 'B0A2' " +
              "      WHEN 'i' THEN 'B0A3' WHEN 'o' THEN 'B0A4' " +
              "      WHEN 'u' THEN 'B0A5' ELSE hex(ch) END " +
              "  ELSE " +
              "    CASE ch WHEN 'a' THEN 'C1' WHEN 'e' THEN 'C5' " +
              "      WHEN 'i' THEN 'C9' WHEN 'o' THEN 'CF' " +
              "      WHEN 'u' THEN 'D5' ELSE hex(ch) END END), '') END"))
          .withColumn("cr", lit("\r\n"))
          .withColumn("msg", expr(
            "unhex(concat(hex(concat('HTTP/1.1 200 OK', cr, " +
              "'Content-Type: text/html; charset=', label, cr, " +
              "'Content-Length: ', CAST(length(body_hex) / 2 AS BIGINT), " +
              "cr, cr)), body_hex))"))
          .withColumn("h", expr("http_parts(msg)"))
          .withColumn("dd", expr(
            "decode_charset(h.body, element_at(h.headers, 'content-type'))"))
        val ciphered = staged
          .select(col("doc_id"), col("true_lang"),
            col("dd.text").as("ctext"),
            col("dd.charset").as("charset"))
          .withColumn("ct2", expr("replace(ctext, ' ', '_')"))
          .withColumn("grams", expr(
            "array_join(transform(sequence(1, greatest(length(ct2) - 2, 1)), " +
              "i -> substring(ct2, i, 3)), ' ')"))
          .materialized
        val (classes, tokenBits) = NaiveBayes.train(
          ciphered.filter(col("doc_id") % 5 =!= 0), "doc_id", "true_lang",
          col("grams"))
        val test = ciphered.filter(col("doc_id") % 5 === 0)
        val marker = test.select(col("doc_id"),
          expr("concat(' ', ctext, ' ')").as("pad"))
          .select(col("doc_id"), expr(
            "CASE WHEN contains(pad, ' batch ') THEN 'lat' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$jp')) THEN 'jpn' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$gb')) THEN 'chi' " +
              s"WHEN contains(pad, translate(' batch ', 'aeiou', '$ru')) THEN 'rus' " +
              "ELSE 'und' END").as("marker_pred"))
        NaiveBayes.classify(test, "doc_id", col("grams"), classes, tokenBits)
          .join(test.select(col("doc_id"), col("true_lang").as("actual"),
            col("charset")), Seq("doc_id"))
          .join(marker, Seq("doc_id"))
          .select(col("doc_id"), col("actual"), col("charset"),
            col("predicted"), col("score_bits"),
            (col("predicted") === col("actual")).cast("long").as("nb_correct"),
            col("marker_pred"),
            (col("marker_pred") === col("actual")).cast("long")
              .as("marker_correct"))
          .orderBy("doc_id")
      },
      Some {
        val jp = "アエイオウ"
        val gb = "啊阿埃挨哎"
        val ru = "аеиоу"
        s"""WITH c AS (SELECT doc_id,
           |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'lat'
           |      WHEN 1 THEN 'jpn' WHEN 2 THEN 'chi' ELSE 'rus' END
           |      AS true_lang,
           |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN text
           |      WHEN 1 THEN translate(text, 'aeiou', '$jp')
           |      WHEN 2 THEN translate(text, 'aeiou', '$gb')
           |      ELSE translate(text, 'aeiou', '$ru') END AS ctext,
           |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'utf-8'
           |      WHEN 1 THEN 'windows-31j' WHEN 2 THEN 'gb18030'
           |      ELSE 'koi8-r' END AS charset
           |  FROM documents),
           |g AS (SELECT doc_id, true_lang, charset, ctext,
           |    replace(ctext, ' ', '_') AS ct2 FROM c),
           |tt AS (SELECT doc_id, label, substring(ct2, CAST(i AS INT), 3) AS t
           |  FROM (SELECT doc_id, true_lang AS label, ct2,
           |      unnest(generate_series(1, greatest(length(ct2) - 2, 1)))
           |        AS i
           |    FROM g WHERE doc_id % 5 <> 0)),
           |v AS (SELECT count(DISTINCT t) AS v FROM tt),
           |ct AS (SELECT label, t, count(*) AS n_ct FROM tt
           |       GROUP BY label, t),
           |ctot AS (SELECT label, sum(n_ct) AS n_tokens FROM ct
           |         GROUP BY label),
           |cdocs AS (SELECT true_lang AS label, count(*) AS n_docs
           |  FROM c WHERE doc_id % 5 <> 0 GROUP BY 1),
           |dtot AS (SELECT count(*) AS d FROM c WHERE doc_id % 5 <> 0),
           |cls AS (SELECT cd.label,
           |    CAST(length(bin(d // n_docs)) - 1 AS BIGINT) AS prior_bits,
           |    CAST(length(bin(n_tokens + v)) - 1 AS BIGINT) AS oov_bits
           |  FROM cdocs cd JOIN ctot USING (label)
           |  CROSS JOIN dtot CROSS JOIN v),
           |tb AS (SELECT ct.label, ct.t,
           |    CAST(length(bin((n_tokens + v) // (n_ct + 1))) - 1
           |      AS BIGINT) AS bits
           |  FROM ct JOIN ctot USING (label) CROSS JOIN v),
           |te AS (SELECT doc_id, substring(ct2, CAST(i AS INT), 3) AS t
           |  FROM (SELECT doc_id, ct2,
           |      unnest(generate_series(1, greatest(length(ct2) - 2, 1)))
           |        AS i
           |    FROM g WHERE doc_id % 5 = 0)),
           |st AS (SELECT te.doc_id, cls.label,
           |    COALESCE(tb.bits, cls.oov_bits) AS bits
           |  FROM te CROSS JOIN cls
           |  LEFT JOIN tb ON tb.label = cls.label AND tb.t = te.t),
           |pc AS (SELECT doc_id, label, sum(bits) AS tok_bits
           |  FROM st GROUP BY doc_id, label),
           |sc AS (SELECT pc.doc_id, pc.label,
           |    tok_bits + prior_bits AS score_bits
           |  FROM pc JOIN cls USING (label)),
           |pred AS (SELECT doc_id, label AS predicted, score_bits,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score_bits, label) AS rn
           |  FROM sc),
           |mk AS (SELECT doc_id,
           |    CASE WHEN contains(' ' || ctext || ' ', ' batch ')
           |           THEN 'lat'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$jp')) THEN 'jpn'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$gb')) THEN 'chi'
           |         WHEN contains(' ' || ctext || ' ',
           |           translate(' batch ', 'aeiou', '$ru')) THEN 'rus'
           |         ELSE 'und' END AS marker_pred
           |  FROM c WHERE doc_id % 5 = 0)
           |SELECT p.doc_id, g.true_lang AS actual, g.charset, p.predicted,
           |  CAST(p.score_bits AS BIGINT) AS score_bits,
           |  CAST(p.predicted = g.true_lang AS BIGINT) AS nb_correct,
           |  mk.marker_pred,
           |  CAST(mk.marker_pred = g.true_lang AS BIGINT) AS marker_correct
           |FROM pred p JOIN g USING (doc_id) JOIN mk USING (doc_id)
           |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin
      }),

    // CRAWL-LOOP COMPOSITION CAPSTONE — the three round-12 frontier
    // pieces working as one loop: two discovery rounds (round 1 finds
    // the even ids, round 2 re-discovers everything) each flow through
    // the q257 robots gate, the q263 seen-filter (round 2's
    // re-discovered evens MUST be dropped by the index — a seen-filter
    // defect re-admits them, shifts every round-2 slot, and the hash
    // fails), and the q260 politeness schedule (slots assigned per
    // (host, round) over exactly the round's ADMITTED rows). Denied
    // rows surface with allowed=false and no slot. Every row's round,
    // decision, slot, delay and dispatch offset replays relationally.
    "q265_crawl_loop" -> Q(
      (s, d) => {
        import graft.crawl.Robots
        import graft.llm.FrontierIndex
        val root = graft.queries.Scratch.dir("graft-q265-loop")
        val idx = s"$root/idx"
        val dd = docs(s, d).select(col("doc_id"), col("source"))
          .withColumn("path",
            concat(lit("/"), col("source"), lit("/"), col("doc_id")))
          .withColumn("url", concat(lit("https://crawl.test"), col("path")))
        val robotsTxt = dd.select(col("source")).distinct()
          .withColumn("robots_txt", concat(
            lit("User-agent: graftbot\nDisallow: /"),
            col("source"), lit("/*7$\nAllow: /"),
            col("source"), lit("/*77$\n"),
            expr("CASE WHEN length(source) % 2 = 0 THEN " +
              "concat('Crawl-delay: ', " +
              "CAST(1 + length(source) % 3 AS STRING), chr(10)) " +
              "ELSE '' END"),
            lit("\nUser-agent: *\nDisallow: /"), col("source"),
            lit("/\n")))
        val ruleRows = Robots.rules(robotsTxt, "source", "robots_txt")
        val delays = Robots.crawlDelays(robotsTxt, "source", "robots_txt",
          userAgent = "graftbot")
        def round(cands: org.apache.spark.sql.DataFrame,
            rnd: Int): org.apache.spark.sql.DataFrame = {
          val decided = Robots.decisions(ruleRows, cands, "source",
            "doc_id", "path", userAgent = "graftbot")
          val admitted = FrontierIndex.admit(s, idx,
            decided.filter(col("allowed")), "url")
          // the dispatch plan is evaluated ONCE and feeds both the
          // index fold and the final report — via the materialize
          // policy seam, not a parquet land-and-reread (round 13: the
          // landed file was a bench artifact, not a declared output;
          // checkpoint blocks give the same evaluate-once semantics
          // without the write/read/listing jobs, guide §6)
          val sched = Robots.schedule(admitted, delays, "source",
              "doc_id", defaultDelayMs = 1000L)
            .materialized
          if (FrontierIndex.latestVersion(idx).isEmpty)
            FrontierIndex.build(sched, idx, "url")
          else FrontierIndex.addBatch(s, idx, sched, "url")
          sched.select(col("doc_id"), lit(rnd.toLong).as("rnd"),
            lit(true).as("allowed"), col("slot"), col("delay_ms"),
            col("fetch_at_ms"))
        }
        // round() is EAGER end-to-end: the dispatch plan lands before
        // the fold, the fold commits before round() returns, so round
        // 2's admission reads the committed post-round-1 index
        val r1 = round(dd.filter(col("doc_id") % 2 === 0), 1)
        val r2 = round(dd, 2)
        val denied = Robots.decisions(ruleRows, dd, "source", "doc_id",
            "path", userAgent = "graftbot")
          .filter(!col("allowed"))
          .select(col("doc_id"),
            when(col("doc_id") % 2 === 0, 1L).otherwise(2L).as("rnd"),
            lit(false).as("allowed"),
            lit(null).cast("long").as("slot"),
            lit(null).cast("long").as("delay_ms"),
            lit(null).cast("long").as("fetch_at_ms"))
        r1.unionByName(r2).unionByName(denied).orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
             |      AS rnd,
             |    (doc_id % 100 = 77 OR doc_id % 10 <> 7) AS ok
             |  FROM documents),
             |a AS (SELECT doc_id, rnd,
             |    CAST(row_number() OVER (PARTITION BY source, rnd
             |      ORDER BY doc_id) - 1 AS BIGINT) AS slot,
             |    CAST(CASE WHEN strlen(source) % 2 = 0
             |      THEN (1 + strlen(source) % 3) * 1000
             |      ELSE 1000 END AS BIGINT) AS delay_ms
             |  FROM d WHERE ok)
             |SELECT d.doc_id, d.rnd, d.ok AS allowed, a.slot, a.delay_ms,
             |  a.slot * a.delay_ms AS fetch_at_ms
             |FROM d LEFT JOIN a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Index COMPACTION parity: band indexes accumulate a
    // shuffle-partition-count of small files per streamed microbatch;
    // compaction rewrites the tables in place into a few files, as one
    // commit-log entry that supersedes the directories it read (a torn
    // compaction commits nothing, so the index stays as it was). The
    // query is the parity proof: thirds of the corpus fold through
    // build → probe+append → COMPACT → probe the same path, and the
    // union of probe decisions must still reproduce q31's one-shot
    // oracle verbatim — compaction changed the file layout, not one bit
    // of the probe contract.
    "q222_embed_index_compaction" -> Q(
      (s, d) => {
        import graft.llm.{EmbeddingKnn, EmbeddingLshIndex}
        val dir = graft.queries.Scratch.dir("graft-q222-compact")
        val e = emb(s, d)
        val b0 = e.filter(col("vec_id") % 3 === 0)
        val b1 = e.filter(col("vec_id") % 3 === 1)
        val b2 = e.filter(col("vec_id") % 3 === 2)
        EmbeddingLshIndex.build(b0, s"$dir/idx", planesPerTable = 8)
        val p0 = EmbeddingKnn.nearDupPairsLsh(b0, threshold = 0.4,
          tables = 8, planesPerTable = 8, dim = 64)
        val p1 = EmbeddingLshIndex.incrementalNearDupPairs(
          s, s"$dir/idx", b1, threshold = 0.4)
        EmbeddingLshIndex.append(b1, s"$dir/idx")
        EmbeddingLshIndex.compact(s, s"$dir/idx", targetFiles = 2)
        val p2 = EmbeddingLshIndex.incrementalNearDupPairs(
          s, s"$dir/idx", b2, threshold = 0.4)
        p0.union(p1).union(p2).orderBy("id_a", "id_b")
      },
      Some(embLshOracle)),

    // APPEND-shaped index compaction (llm/Bm25Index.compact): the BM25
    // postings chain is the one member of the persisted-index family
    // whose EVERY committed version stays live — search unions them
    // all — so a streamed ingest accumulates a shuffle-partition-count
    // of small files per microbatch, and the in-place vacuum the delta
    // chains get (q224) can't run here (search(asOf) still reads old
    // df/stats). Compact folds the whole chain into a successor index
    // committed as one log entry; superseded df/stats versions simply
    // don't carry over, and dropping the predecessor directory
    // afterwards IS this index's vacuum. The query is the parity proof: build → add
    // → COMPACT → search-the-successor still hash-matches q173's
    // one-shot oracle; n_versions = 1 pins that the search really ran
    // against the compacted chain, not the original.
    "q223_bm25_index_compaction" -> Q(
      (s, d) => {
        import graft.llm.Bm25Index
        val root = graft.queries.Scratch.dir("graft-q223-bmcompact")
        val idx = s"$root/idx"
        val all = docs(s, d)
        Bm25Index.build(all.filter(col("doc_id") < 250), idx,
          "doc_id", "text")
        Bm25Index.addBatch(s, idx, all.filter(col("doc_id") >= 250),
          "doc_id", "text")
        val succ = s"$root/idx2"
        Bm25Index.compact(s, idx, succ, targetFiles = 2)
        val queries = all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25Index.search(s, succ, queries, k = 5)
          .withColumn("n_versions",
            lit(Bm25Index.latestVersion(succ).get.toLong))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $bm25Ctes
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000,
             |  CAST(1 AS BIGINT) AS n_versions
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // DELTA-CHAIN compaction + vacuum (llm/DeltaChain.scala): the
    // line-df chain writes only each BATCH's aggregate per addBatch
    // (reads compose deltas over the last snapshot), so per-batch
    // upkeep is ∝ batch — but at streaming cadence the delta tail
    // grows and reads pay O(live deltas). Compaction folds the
    // composed table back into one snapshot WITHOUT advancing the
    // version (its log entry supersedes the base and deltas it
    // composed; a torn compaction commits no entry and supersedes
    // nothing), and vacuum then reclaims exactly what committed
    // entries supersede, IN PLACE. A fold racing it loses no batch:
    // vacuum never frees a sequence number, so a writer still holding
    // an older snapshot loses its commit race and reruns, and an
    // in-flight writer's unnamed directory survives (IndexLogSpec,
    // IndexCrashSpec). A reader still scanning a superseded directory
    // is not protected; here nothing reads the pre-compaction chain
    // after vacuum. The query pins
    // all the moving parts: n_removed = 3 (the v=1 base + the v=2, v=3
    // deltas) and live_version = 3
    // prove the fold really happened, and cleanWith over the
    // compacted+vacuumed index still hash-matches the one-shot q160
    // boilerplate-removal oracle byte for byte.
    "q224_index_vacuum" -> Q(
      (s, d) => {
        import graft.llm.LineDedupIndex
        val idx = graft.queries.Scratch.dir("graft-q224-vacuum") + "/idx"
        val all = docs(s, d).select(col("doc_id"), docLines.as("lines"))
        LineDedupIndex.build(all.filter(col("doc_id") < 150), idx,
          "doc_id", col("lines"))
        LineDedupIndex.addBatch(s, idx,
          all.filter(col("doc_id") >= 150 && col("doc_id") < 350),
          "doc_id", col("lines"))
        LineDedupIndex.addBatch(s, idx,
          all.filter(col("doc_id") >= 350), "doc_id", col("lines"))
        val live = LineDedupIndex.compact(s, idx)
        val removed = LineDedupIndex.vacuum(s, idx)
        LineDedupIndex.cleanWith(s, idx, all, "doc_id", col("lines"),
            maxDf = 5L)
          .select(
            col("doc_id"),
            col("n_lines"),
            col("n_kept"),
            length(col("clean_text")).cast("long").as("clean_len"),
            md5(col("clean_text")).as("clean_md5"),
            lit(removed.toLong).as("n_removed"),
            lit(live.toLong).as("live_version"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
             |  FROM documents),
             |l AS (SELECT doc_id,
             |    (['== ' || source || ' portal ==', 'home | about | contact']
             |     || list_transform(range((len(w) + 7) // 8),
             |          i -> array_to_string(w[(i*8+1):(i*8+8)], ' '))
             |     || ['(c) ' || source || ' media group']) AS lines
             |  FROM w),
             |ex AS (SELECT doc_id, unnest(range(len(lines))) AS pos,
             |    unnest(lines) AS line FROM l),
             |d AS (SELECT line, count(DISTINCT doc_id) AS df
             |  FROM ex GROUP BY line),
             |kept AS (SELECT ex.doc_id, ex.pos, ex.line
             |  FROM ex JOIN d ON ex.line = d.line WHERE d.df <= 5),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM kept GROUP BY doc_id)
             |SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
             |  COALESCE(a.n_kept, 0) AS n_kept,
             |  CAST(length(COALESCE(a.clean_text, '')) AS BIGINT) AS clean_len,
             |  md5(COALESCE(a.clean_text, '')) AS clean_md5,
             |  CAST(3 AS BIGINT) AS n_removed,
             |  CAST(3 AS BIGINT) AS live_version
             |FROM l LEFT JOIN agg a ON l.doc_id = a.doc_id
             |ORDER BY l.doc_id""".stripMargin)),

    // Stream-stream OUTER interval join: q103's attribution join with
    // the clicks that attracted NO purchase retained at zero — the
    // half of the semantics only the streaming ENGINE makes hard,
    // because a null-padded row for an unmatched click may be emitted
    // only once the watermark PROVES no in-window purchase can still
    // arrive. The delivery protocol makes that proof deterministic:
    // the corpus arrives first, then two far-future watermark-carrier
    // files (user_id = -1, filtered from the result AFTER the join —
    // filtering before the withWatermark nodes would stall the global
    // watermark and suppress the outer rows). Carrier #1 advances the
    // watermark past every real click's window; carrier #2 is a real
    // data batch in whose execution the engine evicts and emits the
    // closed outer state (the final no-data flush batch races
    // processAllAvailable — a data batch does not; same timing class
    // the sessionization specs pin). Oracle: the same LEFT JOIN run
    // relationally in DuckDB.
    "q225_stream_outer_interval_join" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import s.implicits._
        val root = graft.queries.Scratch.dir("graft-q225-outer")
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
        def carrier(ts: String) = Seq(
          (-1L, -1L, "click", java.sql.Timestamp.valueOf(ts), 0.0),
          (-2L, -1L, "purchase", java.sql.Timestamp.valueOf(ts), 0.0))
          .toDF("event_id", "user_id", "event_type", "ts", "value")
        val raw = StreamOps.replayFiles(s"$root/src", Seq(ev,
          carrier("2030-01-01 00:00:00"),
          carrier("2030-02-01 00:00:00")))
        val clicks = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val purchases = raw.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val joined = graft.streaming.StreamOps.intervalJoin(
          clicks, purchases, "user_id", "p_user", "click_ts", "p_ts",
          "1 hour", joinType = "leftOuter")
        // State partitions follow the decade law (the q210 planes
        // story, for state): at gate scale the join state is ~100k
        // rows and per-microbatch per-partition state-store overhead
        // dominates — 8 partitions measured 2.2x faster than 32. At
        // 10M events the state is the cost and must SPREAD — the
        // ScaleProof leg raises the knob (and runs RocksDB).
        //
        // The carrier filter runs on the LANDED batch, NOT inside the
        // stream: an in-stream filter(user_id >= 0) gets pushed through
        // the join AND the watermark nodes into both scans (constraint
        // propagation infers p_user >= 0 from the equi-join), so the
        // carrier rows would die before the EventTimeWatermark operator
        // ever saw their timestamps — the watermark never advances and
        // the tail's null rows never emit. Pushdown cannot cross the
        // sink; a handful of carrier rows in the memory table is the
        // price of a deterministic flush.
        graft.streaming.StreamOps.runToBatch(s, joined, "append",
            statePartitions =
              graft.streaming.StreamOps.confStatePartitions(s))
          .filter(col("user_id") >= 0)
          .groupBy("click_id")
          .agg(count(col("p_user")).as("n_purchases"),
            coalesce(Stats.decimalSum(col("p_value")), lit(0.0))
              .as("attributed_value"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |           FROM events
             |           WHERE event_type = 'click' AND user_id >= 0),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
             |      FROM events WHERE event_type = 'purchase')
             |SELECT click_id, count(p_user) AS n_purchases,
             |  CAST(COALESCE(SUM(CAST(p_value AS DECIMAL(38,4))), 0)
             |    AS DOUBLE) AS attributed_value
             |FROM c LEFT JOIN p ON p_user = user_id
             |  AND p_ts >= click_ts AND p_ts <= click_ts + INTERVAL 1 HOUR
             |GROUP BY click_id ORDER BY click_id""".stripMargin)),

    // Tombstone DELETE in the persisted inverted index — the
    // takedown/GDPR path (llm/Bm25Index.deleteDocs). At 100 TB the
    // postings are the big table and a physical delete would rewrite
    // the corpus, so a delete is a new version carrying the tombstoned
    // ids (broadcast-anti-joined at search) plus cumulative df/stats
    // with the deleted docs' contributions SUBTRACTED — computed from
    // the index's own postings, the raw corpus is never rescanned.
    // The oracle proves exactness the strong way: it scores a one-shot
    // build over ONLY the surviving corpus (every seventh doc deleted),
    // and the tombstoned index must hash-match it — ranks, scores, df
    // arithmetic and all. n_versions = 3 pins build → add → delete
    // really happened as three committed versions.
    "q226_bm25_tombstone_delete" -> Q(
      (s, d) => {
        import graft.llm.Bm25Index
        val idx = graft.queries.Scratch.dir("graft-q226-bmdel") + "/idx"
        val all = docs(s, d)
        Bm25Index.build(all.filter(col("doc_id") < 250), idx,
          "doc_id", "text")
        Bm25Index.addBatch(s, idx, all.filter(col("doc_id") >= 250),
          "doc_id", "text")
        Bm25Index.deleteDocs(s, idx,
          all.filter(col("doc_id") % 7 === 3).select("doc_id"))
        val queries = all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25Index.search(s, idx, queries, k = 5)
          .withColumn("n_versions",
            lit(Bm25Index.latestVersion(idx).get.toLong))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH ${bm25CtesWhere("doc_id % 7 <> 3")}
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000,
             |  CAST(3 AS BIGINT) AS n_versions
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Tombstone FORGET in the band-key index wing — q226's takedown
    // path for the band-key family (llm/EmbeddingLshIndex.forget).
    // The bands/vecs tables are append-only and a physical delete
    // would rewrite them, so forgetting COMMITS the ids to a tombstone
    // table that every probe broadcast-anti-joins on its history side;
    // compaction (q222) materializes it. The oracle is the one-shot
    // q31 pair set with every pair touching a forgotten id removed —
    // the probe of batch 3 against the forgotten index, unioned with a
    // one-shot over the surviving history, must reproduce it exactly:
    // forgotten vectors are gone from the candidate space, survivors'
    // signatures and cosines are untouched.
    "q227_embed_index_forget" -> Q(
      (s, d) => {
        import graft.llm.{EmbeddingKnn, EmbeddingLshIndex}
        val dir = graft.queries.Scratch.dir("graft-q227-forget")
        val e = emb(s, d)
        val b2 = e.filter(col("vec_id") % 3 === 2)
        // planes pinned to the oracle's replay geometry: the Auto
        // default follows the decade law from the BUILD batch's size,
        // which diverges from the SQL oracle's fixed p=8 above 2^11
        // vectors (caught by the sf1.0 oracle sidecar, round 9)
        EmbeddingLshIndex.build(e.filter(col("vec_id") % 3 === 0),
          s"$dir/idx", planesPerTable = 8)
        EmbeddingLshIndex.append(e.filter(col("vec_id") % 3 === 1),
          s"$dir/idx")
        // forget ids ≡ 7 (mod 30) — a slice of batch 1's history
        EmbeddingLshIndex.forget(s, s"$dir/idx",
          e.filter(col("vec_id") % 30 === 7).select("vec_id"))
        val p01 = EmbeddingKnn.nearDupPairsLsh(
          e.filter(col("vec_id") % 3 =!= 2 && col("vec_id") % 30 =!= 7),
          threshold = 0.4, tables = 8, planesPerTable = 8, dim = 64)
        val p2 = EmbeddingLshIndex.incrementalNearDupPairs(
          s, s"$dir/idx", b2, threshold = 0.4)
        p01.union(p2).orderBy("id_a", "id_b")
      },
      Some(s"""SELECT o.id_a, o.id_b, o.sim
             |FROM ($embLshOracle) o
             |WHERE o.id_a % 30 <> 7 AND o.id_b % 30 <> 7
             |ORDER BY o.id_a, o.id_b""".stripMargin)),

    // STREAMING takedown — q226's tombstone delete driven by the REAL
    // streaming engine (the q192 delivery protocol): the corpus folds
    // into the BM25 index over two ingest microbatches, then a THIRD
    // microbatch carries delete REQUESTS (the takedown queue is just
    // another stream at 100 TB) foreachBatch-folded via deleteDocs.
    // One checkpointed query, one source, the batch branches on a
    // column — op='add' buckets become addBatch, op='del' become
    // deleteDocs — which is how a CDC-shaped maintenance feed actually
    // arrives. Search after the stream drains must hash-match the
    // one-shot oracle over the SURVIVING corpus; n_versions = 3 pins
    // build → add → delete as three committed versions.
    "q228_stream_takedown" -> Q(
      (s, d) => {
        import graft.llm.Bm25Index
        val root = graft.queries.Scratch.dir("graft-q228-takedown")
        val all = docs(s, d)
        val feed = all.select(lit("add").as("op"), col("doc_id"),
          col("text"))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          feed.filter(col("doc_id") < 250),
          feed.filter(col("doc_id") >= 250),
          all.filter(col("doc_id") % 7 === 3)
            .select(lit("del").as("op"), col("doc_id"),
              lit(null).cast("string").as("text"))))
        val idx = s"$root/idx"
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // exactly-once: a replayed add must not double postings,
          // and a replayed delete must not burn an extra version —
          // every batch bumps the version once, so the foldOnce
          // invariant (version == batchId + 1) covers both branches
          graft.llm.IndexMaintenance.foldOnce(bid,
              Bm25Index.latestVersion(idx)) {
            val adds = b.filter(col("op") === "add")
              .select("doc_id", "text")
            val dels = b.filter(col("op") === "del").select("doc_id")
            if (!adds.isEmpty) {
              if (Bm25Index.latestVersion(idx).isEmpty)
                Bm25Index.build(adds, idx, "doc_id", "text")
              else Bm25Index.addBatch(s, idx, adds, "doc_id", "text")
            }
            if (!dels.isEmpty) Bm25Index.deleteDocs(s, idx, dels)
          }
        }
        require(Bm25Index.latestVersion(idx).contains(3),
          "expected add, add, delete as three committed versions")
        val queries = all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        Bm25Index.search(s, idx, queries, k = 5)
          .withColumn("n_versions",
            lit(Bm25Index.latestVersion(idx).get.toLong))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH ${bm25CtesWhere("doc_id % 7 <> 3")}
             |SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_x1000,
             |  CAST(3 AS BIGINT) AS n_versions
             |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Incremental duplicate FAMILIES (llm/FamilyIndex.scala): q42's
    // pairs → connected-components closure as a maintained index
    // instead of a per-batch global recompute. Batch 1's pairs seed the
    // assignment; batch 2's pairs (generated incrementally by the
    // MinHash band index — q87's protocol) fold in by CONTRACTION: old
    // endpoints collapse to their family representative, CC runs only
    // on the batch-bounded contracted graph, and a broadcast remap
    // reassigns merged families — the corpus's full edge set is never
    // revisited. Because min-closure is associative under contraction,
    // the folded assignment hash-matches the one-shot recursive-CTE
    // closure over ALL pairs (q42's oracle); n_versions = 2 pins that
    // real batch-by-batch delivery happened.
    "q229_family_index" -> Q(
      (s, d) => {
        import graft.llm.{FamilyIndex, MinHashIndex}
        val dd = docs(s, d)
        val b1 = dd.filter(col("doc_id") < 250)
        val b2 = dd.filter(col("doc_id") >= 250)
        val root = graft.queries.Scratch.dir("graft-q229-family")
        MinHashIndex.build(b1, s"$root/mh", "doc_id", "text")
        FamilyIndex.build(
          MinHashDedup.nearDupPairs(b1, "doc_id", "text", threshold = 0.5),
          s"$root/fam")
        val p2 = MinHashIndex.incrementalNearDupPairs(
          s, s"$root/mh", b2, dd, "doc_id", "text", threshold = 0.5)
        FamilyIndex.addBatch(s, s"$root/fam", p2)
        MinHashIndex.append(b2, s"$root/mh", "doc_id", "text")
        val fam = FamilyIndex.assignment(s, s"$root/fam")
          .select(col("id").as("doc_id"), col("family").as("group_id"))
        dd.select("doc_id").join(fam, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("group_id"), col("doc_id")).as("group_id"))
          .withColumn("n_versions",
            lit(FamilyIndex.latestVersion(s"$root/fam").get.toLong))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes
              |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id,
              |  CAST(2 AS BIGINT) AS n_versions
              |FROM documents d LEFT JOIN comp c USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // FAMILY-chain compaction lifecycle through the oracle — the
    // FamilyIndex member of what q238 pins for the span chain: three
    // pair batches fold as snapshot + TWO live deltas (new-id rows and
    // rep-remap rows, composed by in-order substitution at read), the
    // composed assignment is materialized, then compact folds the tail
    // into a snapshot at the same version, vacuum reclaims the v=1
    // base + both deltas (n_removed = 3), and the snapshot-only read is
    // REQUIRED to agree row-for-row with the pre-compact composed read
    // before emitting. The oracle stays the one-shot recursive-CTE
    // closure — compaction provably cannot change the assignment.
    "q240_family_delta_compaction" -> Q(
      (s, d) => {
        import graft.llm.{DeltaChain, FamilyIndex, MinHashIndex}
        val dd = docs(s, d)
        val b1 = dd.filter(col("doc_id") < 170)
        val b2 = dd.filter(col("doc_id") >= 170 && col("doc_id") < 340)
        val b3 = dd.filter(col("doc_id") >= 340)
        val root = graft.queries.Scratch.dir("graft-q240-famcompact")
        MinHashIndex.build(b1, s"$root/mh", "doc_id", "text")
        FamilyIndex.build(
          MinHashDedup.nearDupPairs(b1, "doc_id", "text", threshold = 0.5),
          s"$root/fam")
        Seq(b2, b3).foreach { b =>
          FamilyIndex.addBatch(s, s"$root/fam",
            MinHashIndex.incrementalNearDupPairs(
              s, s"$root/mh", b, dd, "doc_id", "text", threshold = 0.5))
          MinHashIndex.append(b, s"$root/mh", "doc_id", "text")
        }
        val nDeltas = DeltaChain.liveDeltaVersions(s"$root/fam").size
        val composed = FamilyIndex.assignment(s, s"$root/fam")
          .materialized // materialized before vacuum deletes its dirs
        val live = FamilyIndex.compact(s, s"$root/fam")
        val removed = FamilyIndex.vacuum(s, s"$root/fam")
        val snapshot = FamilyIndex.assignment(s, s"$root/fam")
        require(composed.join(snapshot,
            composed("id") === snapshot("id") &&
              composed("family") === snapshot("family")).count()
            == composed.count() && composed.count() == snapshot.count(),
          "compaction changed the family assignment")
        val fam = snapshot
          .select(col("id").as("doc_id"), col("family").as("group_id"))
        dd.select("doc_id").join(fam, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("group_id"), col("doc_id")).as("group_id"))
          .withColumn("n_delta_versions", lit(nDeltas.toLong))
          .withColumn("live_version", lit(live.toLong))
          .withColumn("n_removed", lit(removed.toLong))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes
              |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id,
              |  CAST(2 AS BIGINT) AS n_delta_versions,
              |  CAST(3 AS BIGINT) AS live_version,
              |  CAST(3 AS BIGINT) AS n_removed
              |FROM documents d LEFT JOIN comp c USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // STREAMING family maintenance — q229's fold driven by the REAL
    // streaming engine (the q192 delivery protocol): each microbatch
    // probes the MinHash band index for its near-dup pairs (new-vs-
    // history + batch-internal), folds them into the persisted family
    // assignment by contraction, then appends its band keys — the
    // full incremental-dedup ingest loop (candidate index AND family
    // closure both maintained) in one checkpointed foreachBatch. The
    // folded assignment still hash-matches the one-shot recursive-CTE
    // closure over all pairs; n_versions = 2 pins real batch-by-batch
    // delivery.
    "q230_stream_family_ingest" -> Q(
      (s, d) => {
        import graft.llm.{FamilyIndex, MinHashDedup, MinHashIndex}
        val root = graft.queries.Scratch.dir("graft-q230-famstream")
        val src = s"$root/src"
        val all = docs(s, d).select(col("doc_id"), col("text"))
        val stream = StreamOps.replayFiles(src, Seq(
          all.filter(col("doc_id") < 250),
          all.filter(col("doc_id") >= 250)))
        val (mh, fam) = (s"$root/mh", s"$root/fam")
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // foldOnce guards ONLY the version-bumping family fold; the
          // band-wing writes sit OUTSIDE it. A crash between the
          // family commit and the band append replays the batch with
          // the fold skipped — the append must still run, or the
          // batch's band keys are lost forever and every later
          // incremental probe silently misses pairs against it. A
          // replayed append only duplicates band keys (IndexLog's
          // retry contract); a replayed batch 0 whose build committed
          // finds its keys already there.
          if (bid == 0L) {
            if (graft.llm.IndexLog.read(mh).latestVersion.isEmpty)
              MinHashIndex.build(b, mh, "doc_id", "text")
            graft.llm.IndexMaintenance.foldOnce(bid,
                FamilyIndex.latestVersion(fam)) {
              FamilyIndex.build(MinHashDedup.nearDupPairs(
                b, "doc_id", "text", threshold = 0.5), fam)
            }
          } else {
            // history text is not re-read: verification joins the
            // batch ∪ already-delivered docs, which at ingest time is
            // exactly the corpus prefix the band keys cover. The
            // probe runs INSIDE the foldOnce thunk: it materializes
            // eagerly (banded join + Jaccard verify), and a replayed
            // already-committed batch must skip that whole cost, not
            // just the addBatch write.
            graft.llm.IndexMaintenance.foldOnce(bid,
                FamilyIndex.latestVersion(fam)) {
              val delivered = Parquet.read(s, s"$src/*.parquet")
              val pairs = MinHashIndex.incrementalNearDupPairs(s, mh, b,
                delivered, "doc_id", "text", threshold = 0.5)
              FamilyIndex.addBatch(s, fam, pairs)
            }
            MinHashIndex.append(b, mh, "doc_id", "text")
          }
        }
        require(FamilyIndex.latestVersion(fam).contains(2),
          "expected two delivered microbatches")
        val a = FamilyIndex.assignment(s, fam)
          .select(col("id").as("doc_id"), col("family").as("group_id"))
        docs(s, d).select("doc_id").join(a, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("group_id"), col("doc_id")).as("group_id"))
          .withColumn("n_versions",
            lit(FamilyIndex.latestVersion(fam).get.toLong))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes
              |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id,
              |  CAST(2 AS BIGINT) AS n_versions
              |FROM documents d LEFT JOIN comp c USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Duplication-mass telemetry — the report a curation run actually
    // logs before committing a dedup pass: the family-size histogram
    // with, per size, how many families exist, how many documents they
    // hold, and how many documents min-id survivor selection would
    // remove. Size 1 = documents untouched by any near-dup pair. The
    // sum of n_removed over all rows is the corpus's total duplicate
    // mass — the number that decides whether the pass is worth its
    // shuffle. One CC closure + two count aggregations; the oracle
    // replays the closure relationally.
    "q231_dup_mass_report" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val pairs = MinHashDedup
          .nearDupPairs(dd, "doc_id", "text", threshold = 0.5)
        val cc = graft.operators.ConnectedComponents
          .run(pairs, "id_a", "id_b")
        val hist = cc.groupBy("component").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_families"))
          .select(col("sz").as("fam_size"), col("n_families"),
            (col("sz") * col("n_families")).as("n_docs"),
            ((col("sz") - 1) * col("n_families")).as("n_removed"))
        val singles = dd.select("doc_id")
          .join(cc.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n"))
          .select(lit(1L).as("fam_size"), col("n").as("n_families"),
            col("n").as("n_docs"), lit(0L).as("n_removed"))
        hist.unionByName(singles).orderBy("fam_size")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes,
              |fs AS (SELECT group_id, count(*) AS sz FROM comp
              |       GROUP BY group_id),
              |hist AS (SELECT sz, count(*) AS n_families FROM fs
              |         GROUP BY sz)
              |SELECT CAST(sz AS BIGINT) AS fam_size,
              |  CAST(n_families AS BIGINT) AS n_families,
              |  CAST(sz * n_families AS BIGINT) AS n_docs,
              |  CAST((sz - 1) * n_families AS BIGINT) AS n_removed
              |FROM hist
              |UNION ALL
              |SELECT 1,
              |  (SELECT count(*) FROM documents)
              |    - (SELECT count(*) FROM comp),
              |  (SELECT count(*) FROM documents)
              |    - (SELECT count(*) FROM comp),
              |  0
              |ORDER BY fam_size""".stripMargin)),

    // Leakage-safe split FROM THE MAINTAINED FAMILY INDEX — q183's
    // split (every near-dup family lands wholly in train or wholly in
    // val, keyed by a hash of the family id) computed from q229's
    // incrementally-folded assignment instead of a global CC recompute.
    // The split is a pure function of the family table, so it needs no
    // re-derivation pass of its own — and when a later batch MERGES two
    // families, their members move TOGETHER to the merged family's
    // bucket (the only correct behavior: a split that pinned the old
    // buckets would put provable near-dups on both sides). Hash-matches
    // q183's one-shot oracle; n_versions = 2 pins batch delivery.
    "q236_incremental_split" -> Q(
      (s, d) => {
        import graft.llm.{FamilyIndex, MinHashIndex}
        val dd = docs(s, d)
        val b1 = dd.filter(col("doc_id") < 250)
        val b2 = dd.filter(col("doc_id") >= 250)
        val root = graft.queries.Scratch.dir("graft-q236-split")
        MinHashIndex.build(b1, s"$root/mh", "doc_id", "text")
        FamilyIndex.build(
          MinHashDedup.nearDupPairs(b1, "doc_id", "text", threshold = 0.5),
          s"$root/fam")
        FamilyIndex.addBatch(s, s"$root/fam",
          MinHashIndex.incrementalNearDupPairs(s, s"$root/mh", b2, dd,
            "doc_id", "text", threshold = 0.5))
        val fam = FamilyIndex.assignment(s, s"$root/fam")
          .select(col("id").as("doc_id"), col("family"))
        dd.select("doc_id").join(fam, Seq("doc_id"), "left")
          .withColumn("group_id", coalesce(col("family"), col("doc_id")))
          .withColumn("split",
            when(conv(substring(md5(col("group_id").cast("string")), 1, 8),
              16, 10).cast("long") % 10 < 8, lit("train"))
              .otherwise(lit("val")))
          .withColumn("n_versions",
            lit(FamilyIndex.latestVersion(s"$root/fam").get.toLong))
          .select("doc_id", "group_id", "split", "n_versions")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dupGroupsCtes,
              |grp AS (SELECT d.doc_id,
              |    coalesce(c.group_id, d.doc_id) AS group_id
              |  FROM documents d LEFT JOIN comp c USING (doc_id))
              |SELECT doc_id, group_id,
              |  CASE WHEN CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)),
              |    1, 8)) AS BIGINT) % 10 < 8 THEN 'train' ELSE 'val' END
              |    AS split,
              |  CAST(2 AS BIGINT) AS n_versions
              |FROM grp ORDER BY doc_id""".stripMargin)),

    // STREAMING classifier admission against a PERSISTED model — the
    // deployment shape of q233: the quality classifier trains OFFLINE
    // on the full corpus's gate pseudo-labels and ships as a saved
    // model artifact (NaiveBayes.save — two parquet tables, like a
    // codebook); at ingest, each REAL microbatch builds its feature
    // tokens, scores against the LOADED model, and only margin-positive
    // docs are admitted — the training corpus is never touched at
    // ingest time. Scoring is per-doc and batch-local (no cross-batch
    // state), so admission decisions are independent of batching and
    // the accumulated admissions hash-match the one-shot margin filter;
    // n_batches = 2 pins real delivery.
    "q237_stream_classifier_admission" -> Q(
      (s, d) => {
        import graft.llm.NaiveBayes
        val dd = docs(s, d)
        val root = graft.queries.Scratch.dir("graft-q237-admission")
        // offline: train on the full corpus's pseudo-labels, persist
        val (c0, t0) = NaiveBayes.train(
          qualityFeatures(dd).materialized, "doc_id", "label",
          col("ftext"))
        NaiveBayes.save(s"$root/model", c0, t0)
        // ingest: two microbatches scored against the loaded model
        val feed = dd.select("doc_id", "text", "lang")
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          feed.filter(col("doc_id") < 250),
          feed.filter(col("doc_id") >= 250)))
        val (cl, tb) = NaiveBayes.load(s, s"$root/model")
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // idempotent per batch: foreachBatch is at-least-once, and
          // a plain append would duplicate a replayed batch's rows.
          // Scoring is batch-local and deterministic, so OVERWRITING
          // the batch's own partition dir makes replay a no-op — and
          // the committed dirs, not a driver counter (which would
          // count replays), are what the n_batches pin reads.
          val sc = NaiveBayes.scores(qualityFeatures(b), "doc_id",
            col("ftext"), cl, tb)
          sc.filter(col("label") === "cut")
            .select(col("doc_id"), col("score_bits").as("cut_bits"))
            .join(sc.filter(col("label") === "keep")
              .select(col("doc_id"), col("score_bits").as("keep_bits")),
              Seq("doc_id"))
            .filter(col("cut_bits") > col("keep_bits"))
            .select(col("doc_id"),
              (col("cut_bits") - col("keep_bits")).as("margin_bits"))
            .write.mode("overwrite").parquet(s"$root/admitted/batch=$bid")
        }
        val committedBatches = Option(new java.io.File(s"$root/admitted")
            .listFiles()).map(_.count(f =>
          f.isDirectory && f.getName.startsWith("batch="))).getOrElse(0)
        require(committedBatches == 2, "expected two delivered microbatches")
        Parquet.read(s, s"$root/admitted").drop("batch")
          .withColumn("n_batches", lit(2L))
          .orderBy("doc_id")
      },
      Some(s"""WITH $gateCtes,
             |feat AS (SELECT s.doc_id,
             |    'f_len_' || length(bin(s.n_tokens)) || ' ' ||
             |    'f_alpha_' || CAST(floor(COALESCE(s.alpha_ratio, -1)
             |      * 20) AS BIGINT) || ' ' ||
             |    'f_dwr_' || CAST(floor(COALESCE(s.distinct_word_ratio,
             |      -1) * 20) AS BIGINT) || ' ' ||
             |    'f_rep_' || CAST(floor(COALESCE(s.top_bigram_frac, -1)
             |      * 50) AS BIGINT) || ' ' ||
             |    'f_lang_' || l.lang_id AS text
             |  FROM sig s JOIN lang l USING (doc_id)),
             |lab AS (SELECT f.doc_id,
             |    CASE WHEN k.doc_id IS NOT NULL THEN 'keep'
             |         ELSE 'cut' END AS label, f.text
             |  FROM feat f LEFT JOIN kept k USING (doc_id)),
             |tt AS (SELECT doc_id, label,
             |    unnest(string_split(text, ' ')) AS t FROM lab),
             |v AS (SELECT count(DISTINCT t) AS v FROM tt),
             |ct AS (SELECT label, t, count(*) AS n_ct FROM tt
             |       GROUP BY label, t),
             |ctot AS (SELECT label, sum(n_ct) AS n_tokens FROM ct
             |         GROUP BY label),
             |cdocs AS (SELECT label, count(*) AS n_docs FROM lab
             |          GROUP BY label),
             |dtot AS (SELECT count(*) AS d FROM lab),
             |cls AS (SELECT c.label,
             |    CAST(length(bin(d // n_docs)) - 1 AS BIGINT)
             |      AS prior_bits,
             |    CAST(length(bin(n_tokens + v)) - 1 AS BIGINT)
             |      AS oov_bits
             |  FROM cdocs c JOIN ctot USING (label)
             |  CROSS JOIN dtot CROSS JOIN v),
             |tb AS (SELECT ct.label, ct.t,
             |    CAST(length(bin((n_tokens + v) // (n_ct + 1))) - 1
             |      AS BIGINT) AS bits
             |  FROM ct JOIN ctot USING (label) CROSS JOIN v),
             |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |  FROM feat),
             |st AS (SELECT te.doc_id, cls.label,
             |    COALESCE(tb.bits, cls.oov_bits) AS bits
             |  FROM te CROSS JOIN cls
             |  LEFT JOIN tb ON tb.label = cls.label AND tb.t = te.t),
             |sc AS (SELECT st.doc_id, st.label,
             |    sum(st.bits) + any_value(cls.prior_bits) AS score_bits
             |  FROM st JOIN cls USING (label)
             |  GROUP BY st.doc_id, st.label)
             |SELECT c.doc_id,
             |  CAST(c.score_bits - k.score_bits AS BIGINT) AS margin_bits,
             |  CAST(2 AS BIGINT) AS n_batches
             |FROM (SELECT * FROM sc WHERE label = 'cut') c
             |JOIN (SELECT * FROM sc WHERE label = 'keep') k
             |  USING (doc_id)
             |WHERE c.score_bits > k.score_bits
             |ORDER BY c.doc_id""".stripMargin)),

    // CHAINED stateful operators — the production shape the q225
    // decade analysis names: a stream-stream interval join feeding an
    // event-time windowed aggregation INSIDE the same streaming query
    // (Spark's multiple-stateful-operator pipeline), so the driver-
    // side memory sink receives only the per-day aggregate, never the
    // joined rows. Append mode end to end; the carrier protocol
    // flushes both state stores (one data batch per stateful stage).
    // The join is the INNER form deliberately — a STATE-SIZE choice,
    // not a correctness necessity: inner matches emit the moment they
    // join, while an OUTER join's null rows sit in state until
    // watermark eviction, so under replay the outer form retains join
    // state ∝ backlog. (Round 7 attributed missing outer windows to
    // eviction-lag late-dropping; round 8's StreamOpsSpec measurement
    // corrects this — with the carrier protocol right, the engine's
    // per-operator watermark propagation delivers every outer window
    // even under compressed replay, and the portable sufficient
    // condition is StreamOps.outerChainReplayAllowanceSec. The
    // window-losing failures are protocol artifacts: in-stream
    // carrier filters and missing flush carriers.) Outer telemetry
    // can also always be aggregated AFTER the drain, q225's shape.
    // Per attribution day: joined rows, matched purchases, exact
    // decimal value.
    "q235_stream_join_agg" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import s.implicits._
        val root = graft.queries.Scratch.dir("graft-q235-oja")
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
        def carrier(ts: String) = Seq(
          (-1L, -1L, "click", java.sql.Timestamp.valueOf(ts), 0.0),
          (-2L, -1L, "purchase", java.sql.Timestamp.valueOf(ts), 0.0))
          .toDF("event_id", "user_id", "event_type", "ts", "value")
        // THREE carriers: #1 advances the watermark past every real
        // window, #2 is the data batch in which the JOIN evicts its
        // closed outer state (those null rows reach the aggregation
        // one operator later, under the join-delayed propagated
        // watermark), #3 is the data batch in which the AGGREGATION
        // emits its closed windows — each stateful stage needs one
        // data batch after its input is complete, and the final
        // no-data flush batch races processAllAvailable
        val raw = StreamOps.replayFiles(s"$root/src", Seq(ev,
          carrier("2030-01-01 00:00:00"),
          carrier("2030-02-01 00:00:00"),
          carrier("2030-03-01 00:00:00")))
        val clicks = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val purchases = raw.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        // NO in-stream carrier filter: filter(user_id >= 0) between
        // the join and the agg gets pushed through the join and the
        // watermark nodes into both scans (constraint propagation
        // infers p_user >= 0 from the equi-join), killing the carrier
        // rows before EventTimeWatermark ever sees their timestamps —
        // the watermark freezes and the last day never emits (measured:
        // 20/21 windows). Carriers aggregate into their own 2030
        // windows instead and are dropped AFTER the drain by day.
        val agg = graft.streaming.StreamOps.intervalJoin(
            clicks, purchases, "user_id", "p_user", "click_ts", "p_ts",
            "1 hour")
          // group by the WINDOW struct itself — projecting .start
          // before the agg would strip the event-time attribute append
          // mode needs
          .groupBy(window(col("click_ts"), "1 day"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("p_user")).as("n_purchases"),
            Stats.decimalSum(col("p_value")).as("attributed_value"))
        // availableNow: the deterministic drain — the engine terminates
        // itself after the 4th carrier batch instead of racing
        // processAllAvailable with a trailing no-data flush (the race
        // made this query's wall BIMODAL: 12.5 s vs 21.8 s modes)
        graft.streaming.StreamOps.runToBatch(s, agg, "append",
            statePartitions =
              graft.streaming.StreamOps.confStatePartitions(s),
            availableNow = true)
          .select(col("window").getField("start").cast("long").as("day"),
            col("n_rows"), col("n_purchases"),
            coalesce(col("attributed_value"), lit(0.0))
              .as("attributed_value"))
          .filter(col("day") < 1800000000L) // drop the carriers' 2030 windows
          .orderBy("day")
      },
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |           FROM events
             |           WHERE event_type = 'click' AND user_id >= 0),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
             |      FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT c.click_id, c.click_ts, p.p_user, p.p_value
             |      FROM c JOIN p ON p_user = user_id
             |        AND p_ts >= click_ts
             |        AND p_ts <= click_ts + INTERVAL 1 HOUR)
             |SELECT CAST(epoch(date_trunc('day', click_ts)) AS BIGINT)
             |    AS day,
             |  count(*) AS n_rows,
             |  count(p_user) AS n_purchases,
             |  CAST(COALESCE(SUM(CAST(p_value AS DECIMAL(38,4))), 0)
             |    AS DOUBLE) AS attributed_value
             |FROM j GROUP BY 1 ORDER BY day""".stripMargin)),

    // Exact-integer Naive Bayes classifier (llm/NaiveBayes.scala) —
    // the supervised-scoring capability class (GPT-3's curated-vs-
    // crawl filter, CCNet's fastText gate are this shape): train on
    // 80% of the corpus, predict the held-out 20%. The corpus's lang
    // labels are deliberately uncorrelated with its word-soup text
    // (majority class 43.6% — nothing can learn that), so the fixture
    // makes the channel NOISY but learnable, q160-style: ~71% of docs
    // (doc_id % 7 < 5 — deliberately coprime with the 1-in-5 test
    // split so the test set is genuinely mixed) carry an explicit
    // marker for their lang — the classifier must learn the markers
    // from counts and fall back to prior-plus-noise on unmarked docs
    // (expected accuracy ≈ 5/7 + 2/7·chance). Per-(class, token)
    // surprisal is whole-bit floor-log2 Laplace ((N_c + V) div
    // (n_ct + 1), the q161 bitlength trick), OOV tokens fall back to
    // the class's add-one default, prediction = min total bits with
    // label-asc ties — every score an integer, so the oracle replays
    // training AND inference bit for bit: counts, vocabulary, priors,
    // the per-token left join, the argmin. Scale: two count shuffles
    // to train; inference crosses tokens with the broadcast CLASS LIST
    // only and left-joins the (class, token) table — linear in
    // tokens × |classes|.
    "q232_nb_classifier" -> Q(
      (s, d) => {
        import graft.llm.NaiveBayes
        // marker repeated 3x: one marker's ~6-bit margin is within the
        // whole-bit quantization noise of ~60 soup tokens; three put
        // the margin (~20 bits) decisively past it
        val dd = docs(s, d).withColumn("mtext",
          when(col("doc_id") % 7 < 5,
            concat(col("text"),
              lit(" m_"), col("lang"), lit(" m_"), col("lang"),
              lit(" m_"), col("lang")))
            .otherwise(col("text")))
        val (classes, tokenBits) = NaiveBayes.train(
          dd.filter(col("doc_id") % 5 =!= 0), "doc_id", "lang",
          col("mtext"))
        NaiveBayes.classify(dd.filter(col("doc_id") % 5 === 0),
            "doc_id", col("mtext"), classes, tokenBits)
          .join(dd.select(col("doc_id"), col("lang").as("actual")),
            Seq("doc_id"))
          .select(col("doc_id"), col("actual"), col("predicted"),
            col("score_bits"),
            (col("predicted") === col("actual")).cast("long").as("correct"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id, lang,
             |    CASE WHEN doc_id % 7 < 5 THEN text
             |      || ' m_' || lang || ' m_' || lang || ' m_' || lang
             |         ELSE text END AS text
             |  FROM documents),
             |tt AS (SELECT doc_id, lang AS label,
             |    unnest(string_split(text, ' ')) AS t
             |  FROM m WHERE doc_id % 5 <> 0),
             |v AS (SELECT count(DISTINCT t) AS v FROM tt),
             |ct AS (SELECT label, t, count(*) AS n_ct FROM tt
             |       GROUP BY label, t),
             |ctot AS (SELECT label, sum(n_ct) AS n_tokens FROM ct
             |         GROUP BY label),
             |cdocs AS (SELECT lang AS label, count(*) AS n_docs
             |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang),
             |dtot AS (SELECT count(*) AS d FROM documents
             |         WHERE doc_id % 5 <> 0),
             |cls AS (SELECT c.label,
             |    CAST(length(bin(d // n_docs)) - 1 AS BIGINT)
             |      AS prior_bits,
             |    CAST(length(bin(n_tokens + v)) - 1 AS BIGINT)
             |      AS oov_bits
             |  FROM cdocs c JOIN ctot USING (label)
             |  CROSS JOIN dtot CROSS JOIN v),
             |tb AS (SELECT ct.label, ct.t,
             |    CAST(length(bin((n_tokens + v) // (n_ct + 1))) - 1
             |      AS BIGINT) AS bits
             |  FROM ct JOIN ctot USING (label) CROSS JOIN v),
             |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |  FROM m WHERE doc_id % 5 = 0),
             |st AS (SELECT te.doc_id, cls.label,
             |    COALESCE(tb.bits, cls.oov_bits) AS bits
             |  FROM te CROSS JOIN cls
             |  LEFT JOIN tb ON tb.label = cls.label AND tb.t = te.t),
             |pc AS (SELECT doc_id, label, sum(bits) AS tok_bits
             |  FROM st GROUP BY doc_id, label),
             |sc AS (SELECT pc.doc_id, pc.label,
             |    tok_bits + prior_bits AS score_bits
             |  FROM pc JOIN cls USING (label)),
             |pred AS (SELECT doc_id, label AS predicted, score_bits,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY score_bits, label) AS rn
             |  FROM sc)
             |SELECT p.doc_id, d.lang AS actual, p.predicted,
             |  CAST(p.score_bits AS BIGINT) AS score_bits,
             |  CAST(p.predicted = d.lang AS BIGINT) AS correct
             |FROM pred p JOIN documents d USING (doc_id)
             |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin)),

    // Classifier-based quality scoring on PSEUDO-LABELS — the exact
    // pipeline shape GPT-3/CCNet used (train a cheap linear classifier
    // on "curated vs crawl", score everything, keep by margin), with
    // the q48 heuristic gate standing in as the curation signal: its
    // kept/cut verdicts label the corpus, Naive Bayes learns the
    // FEATURE-TOKEN distributions behind them, and every doc gets an
    // integer quality MARGIN (bits(cut) − bits(keep): positive ⇒
    // keep-like). Features are the fastText-style engineered tokens a
    // production filter hashes — here the five gate signals bucketed
    // to strings (log2 length, 1/20-quantized ratios, lang), because a
    // raw bag-of-words over this corpus's shared word-soup vocabulary
    // is provably uninformative (first attempt measured: margin never
    // positive, classifier degenerates to the 80% prior). The oracle
    // replays the gate (gateCtes), the feature construction, the
    // labeling join, training, scoring, and the margin arithmetic in
    // one SQL chain.
    "q233_quality_classifier" -> Q(
      (s, d) => {
        import graft.llm.NaiveBayes
        val dd = docs(s, d)
        val labeled = qualityFeatures(dd)
          .materialized // two consumers (train, score) — one pass
        val (classes, tokenBits) = NaiveBayes.train(
          labeled, "doc_id", "label", col("ftext"))
        val sc = NaiveBayes.scores(labeled, "doc_id", col("ftext"),
          classes, tokenBits)
        sc.filter(col("label") === "cut")
          .select(col("doc_id"), col("score_bits").as("cut_bits"))
          .join(sc.filter(col("label") === "keep")
            .select(col("doc_id"), col("score_bits").as("keep_bits")),
            Seq("doc_id"))
          .join(labeled.select(col("doc_id"),
            col("label").as("pseudo_label")), Seq("doc_id"))
          .select(col("doc_id"), col("pseudo_label"),
            (col("cut_bits") - col("keep_bits")).as("margin_bits"),
            (col("cut_bits") > col("keep_bits")).cast("long")
              .as("classifier_keeps"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $gateCtes,
             |feat AS (SELECT s.doc_id,
             |    'f_len_' || length(bin(s.n_tokens)) || ' ' ||
             |    'f_alpha_' || CAST(floor(COALESCE(s.alpha_ratio, -1)
             |      * 20) AS BIGINT) || ' ' ||
             |    'f_dwr_' || CAST(floor(COALESCE(s.distinct_word_ratio,
             |      -1) * 20) AS BIGINT) || ' ' ||
             |    'f_rep_' || CAST(floor(COALESCE(s.top_bigram_frac, -1)
             |      * 50) AS BIGINT) || ' ' ||
             |    'f_lang_' || l.lang_id AS text
             |  FROM sig s JOIN lang l USING (doc_id)),
             |lab AS (SELECT f.doc_id,
             |    CASE WHEN k.doc_id IS NOT NULL THEN 'keep'
             |         ELSE 'cut' END AS label, f.text
             |  FROM feat f LEFT JOIN kept k USING (doc_id)),
             |tt AS (SELECT doc_id, label,
             |    unnest(string_split(text, ' ')) AS t FROM lab),
             |v AS (SELECT count(DISTINCT t) AS v FROM tt),
             |ct AS (SELECT label, t, count(*) AS n_ct FROM tt
             |       GROUP BY label, t),
             |ctot AS (SELECT label, sum(n_ct) AS n_tokens FROM ct
             |         GROUP BY label),
             |cdocs AS (SELECT label, count(*) AS n_docs FROM lab
             |          GROUP BY label),
             |dtot AS (SELECT count(*) AS d FROM lab),
             |cls AS (SELECT c.label,
             |    CAST(length(bin(d // n_docs)) - 1 AS BIGINT)
             |      AS prior_bits,
             |    CAST(length(bin(n_tokens + v)) - 1 AS BIGINT)
             |      AS oov_bits
             |  FROM cdocs c JOIN ctot USING (label)
             |  CROSS JOIN dtot CROSS JOIN v),
             |tb AS (SELECT ct.label, ct.t,
             |    CAST(length(bin((n_tokens + v) // (n_ct + 1))) - 1
             |      AS BIGINT) AS bits
             |  FROM ct JOIN ctot USING (label) CROSS JOIN v),
             |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |  FROM feat),
             |st AS (SELECT te.doc_id, cls.label,
             |    COALESCE(tb.bits, cls.oov_bits) AS bits
             |  FROM te CROSS JOIN cls
             |  LEFT JOIN tb ON tb.label = cls.label AND tb.t = te.t),
             |sc AS (SELECT st.doc_id, st.label,
             |    sum(st.bits) + any_value(cls.prior_bits) AS score_bits
             |  FROM st JOIN cls USING (label)
             |  GROUP BY st.doc_id, st.label)
             |SELECT c.doc_id, lab.label AS pseudo_label,
             |  CAST(c.score_bits - k.score_bits AS BIGINT) AS margin_bits,
             |  CAST(c.score_bits > k.score_bits AS BIGINT)
             |    AS classifier_keeps
             |FROM (SELECT * FROM sc WHERE label = 'cut') c
             |JOIN (SELECT * FROM sc WHERE label = 'keep') k
             |  USING (doc_id)
             |JOIN lab USING (doc_id)
             |ORDER BY c.doc_id""".stripMargin)))

  /** Semantic-decontamination SQL (q31 geometry, eval = vec_id%10=8,
    * t=0.35) — the shared oracle for q213 (one-shot cleanse) and q214
    * (index-backed streaming admission, which must match it exactly).
    */
  private lazy val embCleanseOracle: String =
    s"""WITH ${radDotsSql(64)},
       |sigs AS (SELECT vec_id, p // 8 AS t,
       |    SUM(CASE WHEN dot >= 0.0 THEN 1 << (p % 8) ELSE 0 END) AS sig
       |  FROM dots GROUP BY vec_id, p // 8),
       |ev AS (SELECT * FROM sigs WHERE vec_id % 10 = 8),
       |tr AS (SELECT * FROM sigs WHERE vec_id % 10 != 8),
       |bad AS (SELECT DISTINCT tr.vec_id AS vec_id
       |  FROM tr JOIN ev ON tr.t = ev.t AND tr.sig = ev.sig
       |  JOIN embeddings ea ON ea.vec_id = tr.vec_id
       |  JOIN embeddings eb ON eb.vec_id = ev.vec_id
       |  WHERE round(list_cosine_similarity(
       |      CAST(ea.embedding AS DOUBLE[]),
       |      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35)
       |SELECT e.vec_id, e.label FROM embeddings e
       |WHERE e.vec_id % 10 != 8
       |  AND e.vec_id NOT IN (SELECT vec_id FROM bad)
       |ORDER BY e.vec_id""".stripMargin

  /** One-shot ExactSubstr SQL — the shared oracle for q200 (one-shot)
    * and q201 (index-backed incremental, which must match it exactly).
    */
  private lazy val spanDedupOracle: String =
    s"""WITH nrm AS (SELECT doc_id, $normSql AS nm FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |gr0 AS (SELECT doc_id, CASE WHEN len(t) < 8 THEN [nm]
              |    ELSE list_transform(range(1, len(t) - 6),
              |           i -> array_to_string(t[i:i+7], ' ')) END AS gr
              |  FROM tok),
              |g0 AS (SELECT doc_id, unnest(range(len(gr))) AS pos,
              |    unnest(gr) AS sh FROM gr0),
              |g AS (SELECT doc_id, pos, md5(sh) AS f FROM g0),
              |occ AS (SELECT f, count(*) AS n_occ FROM g GROUP BY f),
              |dp AS (SELECT doc_id, pos FROM g JOIN occ USING (f)
              |  WHERE n_occ >= 2),
              |rn AS (SELECT doc_id, pos, pos - row_number()
              |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
              |runs AS (SELECT doc_id, min(pos) AS s0, count(*) AS ng
              |  FROM rn GROUP BY doc_id, grp),
              |nt AS (SELECT doc_id,
              |    CASE WHEN nm = '' THEN 0 ELSE len(t) END AS ntok FROM tok),
              |q AS (SELECT r.doc_id, s0,
              |    least(s0 + ng + 7, ntok) - s0 AS sl
              |  FROM runs r JOIN nt USING (doc_id)
              |  WHERE least(s0 + ng + 7, ntok) - s0 >= 20),
              |tp AS (SELECT doc_id, unnest(range(len(t))) AS j,
              |    unnest(t) AS w FROM tok WHERE nm <> ''),
              |kept AS (SELECT tp.doc_id, j, w FROM tp
              |  WHERE NOT EXISTS (SELECT 1 FROM q
              |    WHERE q.doc_id = tp.doc_id
              |      AND tp.j >= q.s0 AND tp.j < q.s0 + q.sl)),
              |ks AS (SELECT doc_id, count(*) AS kc,
              |    string_agg(w, ' ' ORDER BY j) AS kt
              |  FROM kept GROUP BY doc_id),
              |nq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
              |  FROM q GROUP BY doc_id)
              |SELECT d.doc_id, CAST(nt.ntok AS BIGINT) AS ntok,
              |  coalesce(nq.n_spans, 0) AS n_spans,
              |  CAST(nt.ntok - coalesce(ks.kc, 0) AS BIGINT) AS dup_tokens,
              |  md5(coalesce(ks.kt, '')) AS kept_md5
              |FROM documents d JOIN nt USING (doc_id)
              |LEFT JOIN nq ON nq.doc_id = d.doc_id
              |LEFT JOIN ks ON ks.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin

  /** One-shot banded-hyperplane-LSH embedding near-dup SQL — the
    * shared oracle for q31 (one-shot) and q210 (index-backed
    * incremental, which must reproduce it exactly): DuckDB rebuilds
    * all 64 Rademacher planes, bands identically (8 tables × 8 bits),
    * and applies the same exact-cosine verification.
    */
  private lazy val embLshOracle: String =
    s"""WITH ${radDotsSql(64)},
       |sigs AS (SELECT vec_id, p // 8 AS t,
       |    SUM(CASE WHEN dot >= 0.0 THEN 1 << (p % 8) ELSE 0 END) AS sig
       |  FROM dots GROUP BY vec_id, p // 8),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
       |                         AND a.vec_id < b.vec_id),
       |sc AS (SELECT id_a, id_b,
       |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                 CAST(eb.embedding AS DOUBLE[])), 6) AS sim
       |  FROM cand JOIN embeddings ea ON ea.vec_id = id_a
       |            JOIN embeddings eb ON eb.vec_id = id_b)
       |SELECT id_a, id_b, sim FROM sc WHERE sim >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** Full perceptual-hash pair-set SQL — shared oracle for q204
    * (one-shot) and q207 (index-backed incremental, which must
    * reproduce it exactly).
    */
  private lazy val phashOracle: String =
    """WITH cell AS (SELECT d.doc_id, x.x, y.y,
             |    (x.x * 16) // 9 AS sx, (y.y * 12) // 8 AS sy
             |  FROM documents d, range(0, 9) x(x), range(0, 8) y(y)),
             |u AS (SELECT doc_id, x, y, sx, sy,
             |    (doc_id // 2) * 40503 + sx * 65521 + sy * 97531 AS base
             |  FROM cell),
             |v AS (SELECT doc_id, x, y, sx, sy,
             |    (base + 24284) % 2147483648 AS v1,
             |    (base + 36223) % 2147483648 AS v2,
             |    (base + 48162) % 2147483648 AS v3
             |  FROM u),
             |bt AS (SELECT doc_id, x, y, sx, sy,
             |    ((v1 * v1) // 65536) % 256 AS b1,
             |    ((v2 * v2) // 65536) % 256 AS b2,
             |    ((v3 * v3) // 65536) % 256 AS b3
             |  FROM v),
             |g AS (SELECT doc_id, x, y,
             |    ((CASE WHEN doc_id % 2 = 1 AND sx = 0 AND sy = 0
             |           THEN (b1 + 8) % 256 ELSE b1 END) + b2 + b3) // 3 AS gv
             |  FROM bt),
             |bits AS (SELECT a.doc_id, a.x, a.y,
             |    CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
             |  FROM g a JOIN g b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 8),
             |h AS (SELECT doc_id,
             |    sum(CASE WHEN y < 4
             |        THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS h1,
             |    sum(CASE WHEN y >= 4
             |        THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS h2
             |  FROM bits GROUP BY doc_id),
             |blk AS (SELECT doc_id, h1, h2,
             |    unnest([h1 & 65535, h1 >> 16, h2 & 65535, h2 >> 16]) AS key,
             |    unnest([0, 1, 2, 3]) AS band
             |  FROM h),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.h1 AS h1a, a.h2 AS h2a, b.h1 AS h1b, b.h2 AS h2b
             |  FROM blk a JOIN blk b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b,
             |  CAST(bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b))
             |    AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b)) <= 8
             |ORDER BY id_a, id_b""".stripMargin
}
