package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Iterate.MaterializeOps

/** Streaming-throughput micro-benchmark — measures sustained events/sec
  * through the REAL Structured Streaming engine on a representative
  * pipeline, closing the one reference claim the functional suite never
  * rate-tests (the reference's design doc proposes a streaming variant
  * sized at 10k events/sec; see reference `design.pdf` p.2 — proposal
  * only, never built or measured there).
  *
  * Shape: the sf corpus's `events` table is replicated (id-offset, ts
  * preserved) to `SPARK_GRAFT_STREAM_EVENTS` rows across many parquet
  * files, then streamed with a bounded files-per-trigger so the run
  * exercises real microbatch scheduling (state handoff between batches,
  * source admission control) rather than one giant batch. The pipeline
  * is the canonical ingest chain: watermark → keyed dedup →
  * broadcast-dim enrich → tumbling-window aggregate → noop sink, on the
  * RocksDB state store (the provider that bounds executor memory at
  * production state sizes).
  *
  * Timing starts BEFORE `start()` (planning + source listing are part
  * of delivering the first event) and ends when AvailableNow drains.
  * Reported value = input events / wall seconds, with per-batch
  * `processedRowsPerSecond` stats from the engine's own progress
  * telemetry alongside. Output contract matches [[Bench]]: one full
  * JSON line, then a short summary line LAST.
  */
object StreamBench {

  private def num(d: Double, prec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val targetRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "2000000").toLong
    val batches = math.max(2, sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt)
    // mode "events" (default): the dedup→enrich→window ingest chain.
    // mode "bm25": persisted-index maintenance throughput — the q192
    // path at scale: replicated documents stream through foreachBatch
    // into Bm25Index (build, then addBatch per microbatch), measuring
    // docs/sec of INDEX UPKEEP rather than stateless transform rate.
    // mode "span": same protocol over SpanDedupIndex (the q202 path) —
    // gram-count upkeep docs/sec, proven by a post-drain cleanse.
    // mode "phash": perceptual-ingest throughput (the q208 path) —
    // encode→decode→dHash→probe→append per microbatch; docs/sec of the
    // full image-dedup ingest loop including the real decode.
    // mode "embed": embedding-dedup ingest throughput (the q211 path) —
    // per microbatch: synthesize vectors, LSH-sign, probe the persisted
    // band index, append; vectors/sec of the full vector-dedup loop.
    // mode "quota": stateful-admission throughput (the q221 path) —
    // per-source (consumed, closed) state via flatMapGroupsWithState;
    // docs/sec through the arrival-order token-quota gate.
    // mode "family": dedup-family maintenance throughput — the q230
    // loop (band probe → FamilyIndex contraction fold → band append)
    // per microbatch; docs/sec of the FULL incremental-dedup path, the
    // most state-coupled member of the ingest tier.
    val mode = sys.env.getOrElse("SPARK_GRAFT_STREAM_MODE", "events")
    if (mode == "family") { familyMain(sfDir, cores, batches); return }
    if (mode == "bm25") { bm25Main(sfDir, cores, batches); return }
    if (mode == "span") { spanMain(sfDir, cores, batches); return }
    if (mode == "phash") { phashMain(sfDir, cores, batches); return }
    if (mode == "embed") { embedMain(sfDir, cores, batches); return }
    if (mode == "quota") { quotaMain(sfDir, cores, batches); return }

    val spark = GraftSession.local("graft-streambench", cores)

    val work = graft.queries.Scratch.dir("graft-streambench")
    val events = Tables.events(spark, sfDir)
    val baseCount = events.count()
    val copies = math.max(1, (targetRows / math.max(1L, baseCount)).toInt)
    // id-offset replication: dedup state stays honest (every event_id
    // unique), ts distribution identical per copy so window/watermark
    // state size matches a real re-delivery-free feed
    val replicated = spark.range(copies).crossJoin(events)
      .select((col("event_id") + col("id") * 10000000L).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"))
    val nFiles = batches * 2
    replicated.repartition(nFiles).write.mode("overwrite")
      .parquet(s"$work/in")
    val total = copies * baseCount

    val dim = spark.createDataFrame(
      Seq(("click", "engage"), ("view", "engage"), ("purchase", "convert"),
        ("signup", "convert"), ("error", "ops"))).toDF("event_type", "kind")

    streaming.StreamOps.withRocksDbStateStore(spark) {
      val t0 = System.nanoTime()
      val src = spark.readStream
        .schema(Parquet.schema(spark, s"$work/in"))
        .option("maxFilesPerTrigger", math.max(1, nFiles / batches))
        .parquet(s"$work/in")
        .withWatermark("ts", "10 minutes")
      val piped = src
        .dropDuplicates("event_id")
        .join(broadcast(dim), Seq("event_type"), "left")
        .groupBy(window(col("ts"), "1 minute"), col("kind"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      val q = piped.writeStream
        .outputMode("update")
        .format("noop")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      val inputRows = progress.map(_.numInputRows).sum
      val perBatch = progress.filter(_.numInputRows > 0)
        .map(_.processedRowsPerSecond)
      val throughput = inputRows / wall

      val detail = perBatch.map(r => num(r, 0)).mkString("[", ",", "]")
      println(s"""{"metric":"stream_throughput","value":${num(throughput, 0)},""" +
        s""""unit":"events_per_sec","events":$inputRows,"expected":$total,""" +
        s""""wall_sec":${num(wall, 2)},"batches":${progress.count(_.numInputRows > 0)},""" +
        s""""batch_rows_per_sec":$detail,"sf":"$sfDir"}""")
      println(s"""{"metric":"stream_throughput","value":${num(throughput, 0)},"unit":"events_per_sec","sf":"$sfDir"}""")
    }
    spark.stop()
  }

  /** Dedup-family maintenance throughput (the q230 loop at scale):
    * each microbatch probes the MinHash band index for its near-dup
    * pairs (verbatim cross-copy duplicates make every batch pair-heavy
    * — the last batch probes ~200k pairs against 7 batches of
    * history), folds them into the persisted family assignment by
    * contraction, then appends its band keys. The post-drain proof
    * counts non-representative members — every replicated doc must
    * have joined its copy family.
    */
  private def familyMain(sfDir: String, cores: Int, batches: Int): Unit =
    indexIngest("family_ingest_throughput", "graft-streambench-family",
      sfDir, cores, batches)(
      (b, idx) =>
        graft.llm.FamilyIndex.build(
          graft.llm.MinHashDedup.nearDupPairs(b, "doc_id", "text",
            threshold = 0.5), s"$idx/fam"),
      (s, b, idx) => {
        // verification needs candidate text; the staged corpus is a
        // superset of delivered history, which is all the verify joins
        val allDocs = Parquet.read(s,
          new java.io.File(idx).getParent + "/in")
        val t0 = System.nanoTime()
        val pairs = graft.llm.MinHashIndex.incrementalNearDupPairs(s,
            s"$idx/mh", b, allDocs, "doc_id", "text", threshold = 0.5)
          .materialized
        val np = pairs.count() // checkpointed — the count is a scan
        val t1 = System.nanoTime()
        graft.llm.FamilyIndex.addBatch(s, s"$idx/fam", pairs)
        val t2 = System.nanoTime()
        System.err.println(f"[family] probe=${(t1 - t0) / 1e9}%.1fs " +
          f"fold=${(t2 - t1) / 1e9}%.1fs pairs=$np")
      },
      (s, idx, _) => graft.llm.FamilyIndex.assignment(s, s"$idx/fam")
        .filter(col("id") =!= col("family")).count(),
      idx => graft.llm.FamilyIndex.latestVersion(s"$idx/fam").getOrElse(0),
      // band writes OUTSIDE the foldOnce guard (see indexIngest): the
      // probe inside the fold reads the pre-batch index state, and a
      // replay after a committed fold must still land the batch's keys
      cacheBatch = true,
      after = (s, b, idx) => {
        val t0 = System.nanoTime()
        // the log, NOT File.exists: a crashed first build leaves an
        // unnamed directory behind but commits no entry, so the replayed
        // batch builds again
        if (graft.llm.IndexLog.read(s"$idx/mh").latestVersion.isEmpty)
          graft.llm.MinHashIndex.build(b, s"$idx/mh", "doc_id", "text")
        else graft.llm.MinHashIndex.append(b, s"$idx/mh", "doc_id", "text")
        System.err.println(f"[family] append=${(System.nanoTime() - t0) / 1e9}%.1fs")
        // LSM cadence via the DeltaChain policy seam: the fold reads
        // the composed view every batch, so an unbounded delta tail
        // grows read-time composition linearly — the repeated-read
        // regime where compaction amortizes. The policy triggers
        // ITSELF (live deltas ≥ 4, or tail bytes rivaling the
        // snapshot) instead of a hand-placed counter; idempotent on
        // replay (a compact with no live delta commits nothing; vacuum
        // of already-gone dirs is 0).
        val t1 = System.nanoTime()
        graft.llm.DeltaChain.maybeCompact(s, s"$idx/fam",
            graft.llm.DeltaChain.CompactionPolicy(maxLiveDeltas = 4))(
            graft.llm.FamilyIndex.compact(s, s"$idx/fam"),
            graft.llm.FamilyIndex.vacuum(s, s"$idx/fam"))
          .foreach(v => System.err.println(
            f"[family] compact(v=$v)=${(System.nanoTime() - t1) / 1e9}%.1fs"))
      })

  /** BM25 index-maintenance throughput: stream a replicated documents
    * corpus (doc-id offsets keep batches doc-disjoint, the index's
    * exactness contract) through admission-bounded microbatches, each
    * foreachBatch-folded into the persisted inverted index. Wall clock
    * covers planning + every append + df/stats merge; a post-drain
    * search proves the built index answers queries. Docs default to
    * SPARK_GRAFT_STREAM_DOCS (100k ≈ 20x the sf0.1 corpus).
    */
  private def bm25Main(sfDir: String, cores: Int, batches: Int): Unit =
    indexIngest("bm25_ingest_throughput", "graft-streambench-bm25",
      sfDir, cores, batches)(
      (b, idx) => graft.llm.Bm25Index.build(b, idx, "doc_id", "text"),
      (s, b, idx) => graft.llm.Bm25Index.addBatch(s, idx, b, "doc_id", "text"),
      (s, idx, docs) => {
        // prove the index answers: 3 queries drawn from the corpus itself
        val queries = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
        graft.llm.Bm25Index.search(s, idx, queries, k = 5).count()
      },
      idx => graft.llm.Bm25Index.latestVersion(idx).getOrElse(0))

  /** Span-dedup index-maintenance throughput (the q202 path): gram
    * occurrence counts folded per microbatch; the post-drain proof
    * cleanses the base corpus slice against the index — replicated
    * copies are VERBATIM duplicates, so every base doc ≥ minSpan tokens
    * must come back fully cut (dup_tokens > 0 rows is the assert).
    */
  private def spanMain(sfDir: String, cores: Int, batches: Int): Unit =
    indexIngest("span_ingest_throughput", "graft-streambench-span",
      sfDir, cores, batches)(
      (b, idx) => graft.llm.SpanDedupIndex.build(b, idx, "doc_id", "text"),
      (s, b, idx) =>
        graft.llm.SpanDedupIndex.addBatch(s, idx, b, "doc_id", "text"),
      (s, idx, docs) =>
        graft.llm.SpanDedupIndex
          .cleanseWith(s, idx, docs.filter(col("doc_id") < 100),
            "doc_id", "text")
          .filter(col("dup_tokens") > 0).count(),
      idx => graft.llm.SpanDedupIndex.latestVersion(idx).getOrElse(0))

  /** Perceptual-ingest throughput (the q208 fold at scale): replicated
    * doc ids stream through admission-bounded microbatches; each batch
    * synthesizes its BMP payloads (fixture stand-in for arriving
    * files), DECODES them (the real container parse), dHashes, probes
    * the persisted band index for ingest-time dedup decisions, then
    * appends its band rows. Twins (2g, 2g+1) land in the stream
    * interleaved, so cross-batch probing does real work; the decision
    * count is the proof the loop found them.
    */
  private def phashMain(sfDir: String, cores: Int, batches: Int): Unit = {
    val targetDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "100000").toLong
    val spark = GraftSession.local("graft-streambench", cores)
    import spark.implicits._

    val work = graft.queries.Scratch.dir("graft-streambench-phash")
    val nFiles = batches * 2
    spark.range(targetDocs).select(col("id").as("doc_id"))
      .repartition(nFiles).write.mode("overwrite").parquet(s"$work/in")
    val idx = s"$work/idx"
    var decisions = 0L

    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema("doc_id LONG")
      .option("maxFilesPerTrigger", math.max(1, nFiles / batches))
      .parquet(s"$work/in")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        import graft.multimodal.{MediaContainers, MultimodalOps, PerceptualHash, PHashIndex}
        val encoded = b.select(col("doc_id")).as[Long].map { id =>
          MultimodalOps.MediaRecord(id, MediaContainers.bmpBytesRgb(16, 12,
            MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
              perturbR00 = if (id % 2 == 1) 8 else 0)), "image")
        }
        val h = PerceptualHash.dHash(MultimodalOps.decodeImages(encoded))
          .toDF().materialized
        // radius 2: the fixture's twins sit within 1 bit, and at 500k
        // docs the synthetic hash space has enough birthday pressure
        // that radius 8 admits ~4x collision pairs (production stacks
        // pixel-verify after the hash cut; the tight radius keeps this
        // throughput loop's proof count ≈ the twin count)
        val fresh = graft.llm.IndexLog.read(idx).latestVersion.isEmpty
        decisions +=
          (if (fresh) PerceptualHash.nearDupPairs(h, "id", radius = 2).count()
          else PHashIndex.incrementalNearDupPairs(spark, idx, h, "id",
            radius = 2).count())
        if (fresh) PHashIndex.build(h, idx)
        else PHashIndex.append(h, idx)
      }
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val inputRows = progress.map(_.numInputRows).sum
    require(decisions > 0, "ingest-time dedup found no pairs")
    val perBatch = progress.filter(_.numInputRows > 0)
      .map(_.processedRowsPerSecond)
    val throughput = inputRows / wall
    val detail = perBatch.map(r => num(r, 0)).mkString("[", ",", "]")
    println(s"""{"metric":"phash_ingest_throughput","value":${num(throughput, 0)},""" +
      s""""unit":"docs_per_sec","docs":$inputRows,"expected":$targetDocs,""" +
      s""""wall_sec":${num(wall, 2)},"batches":${progress.count(_.numInputRows > 0)},""" +
      s""""pairs_found":$decisions,""" +
      s""""batch_rows_per_sec":$detail,"sf":"$sfDir"}""")
    println(s"""{"metric":"phash_ingest_throughput","value":${num(throughput, 0)},"unit":"docs_per_sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Embedding-dedup ingest throughput (the q211 fold at scale):
    * replicated vector ids stream through admission-bounded
    * microbatches; each batch synthesizes its vectors (fixture
    * stand-in for an arriving embedding feed), probes the persisted
    * LSH band index for ingest-time dedup decisions, then appends its
    * band rows + vectors. Twins (2g, 2g+1 — the odd one scaled ×2, so
    * cosine is exactly 1 and every signature bit matches) land in the
    * stream interleaved, so cross-batch probing does real work.
    * Geometry follows the decade law (planesPerTable ∝ log₂ n):
    * 16-bit signatures keep expected bucket occupancy ≈ n/2¹⁶ (≈1.5
    * at the 100k default, ≈8 at the 500k headline run) — bounded
    * verify joins and flat per-batch rates. This mode is what caught
    * the correlated-plane bug (decaying batch rates at tiny data =
    * collapsed signature entropy; see rademacherPlanes).
    */
  private def embedMain(sfDir: String, cores: Int, batches: Int): Unit = {
    val targetDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "100000").toLong
    val planes = sys.env.getOrElse("SPARK_GRAFT_STREAM_EMBED_PLANES", "16").toInt
    val spark = GraftSession.local("graft-streambench", cores)

    val work = graft.queries.Scratch.dir("graft-streambench-embed")
    val nFiles = batches * 2
    spark.range(targetDocs).select(col("id").as("vec_id"))
      .repartition(nFiles).write.mode("overwrite").parquet(s"$work/in")
    val idx = s"$work/idx"
    var decisions = 0L

    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema("vec_id LONG")
      .option("maxFilesPerTrigger", math.max(1, nFiles / batches))
      .parquet(s"$work/in")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        import graft.llm.{EmbeddingKnn, EmbeddingLshIndex}
        // deterministic per-group uniform[-1,1] components; the odd
        // twin is the even vector scaled ×2 (sign bits unchanged)
        val vecs = b.select(col("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (((pmod(xxhash64(shiftright(col("vec_id"), 1), j), lit(2001))
              - 1000L) / 1000.0) *
              when(col("vec_id") % 2 === 1, 2.0).otherwise(1.0))
              .cast("float")).as("embedding")).materialized
        val tp0 = System.nanoTime()
        val fresh = graft.llm.IndexLog.read(idx).latestVersion.isEmpty
        decisions +=
          (if (fresh)
            EmbeddingKnn.nearDupPairsLsh(vecs, threshold = 0.9,
              planesPerTable = planes).count()
          else EmbeddingLshIndex.incrementalNearDupPairs(spark, idx, vecs,
            threshold = 0.9, planesPerTable = planes).count())
        val tp1 = System.nanoTime()
        if (fresh)
          EmbeddingLshIndex.build(vecs, idx, planesPerTable = planes)
        else EmbeddingLshIndex.append(vecs, idx, planesPerTable = planes)
        val tp2 = System.nanoTime()
        System.err.println(f"[embed] probe=${(tp1 - tp0) / 1e9}%.1fs " +
          f"append=${(tp2 - tp1) / 1e9}%.1fs")
      }
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val inputRows = progress.map(_.numInputRows).sum
    require(decisions > 0, "ingest-time dedup found no pairs")
    val perBatch = progress.filter(_.numInputRows > 0)
      .map(_.processedRowsPerSecond)
    val throughput = inputRows / wall
    val detail = perBatch.map(r => num(r, 0)).mkString("[", ",", "]")
    println(s"""{"metric":"embed_ingest_throughput","value":${num(throughput, 0)},""" +
      s""""unit":"docs_per_sec","docs":$inputRows,"expected":$targetDocs,""" +
      s""""wall_sec":${num(wall, 2)},"batches":${progress.count(_.numInputRows > 0)},""" +
      s""""pairs_found":$decisions,"planes_per_table":$planes,""" +
      s""""batch_rows_per_sec":$detail,"sf":"$sfDir"}""")
    println(s"""{"metric":"embed_ingest_throughput","value":${num(throughput, 0)},"unit":"docs_per_sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Stateful-admission throughput (the q221 state machine at scale):
    * synthesized (source, doc_id, w) rows stream through
    * admission-bounded microbatches into
    * [[graft.streaming.StreamOps.tokenQuotaAdmission]] — per-source
    * (consumed, closed) state via flatMapGroupsWithState, 1,000
    * sources wide so the state shuffle is real, quota sized so
    * sources close mid-run (both the admit and the closed fast-path
    * do work). Weights are deterministic (xxhash64 mod 100 + 1), so
    * the admitted count is a fixed object run-to-run.
    */
  private def quotaMain(sfDir: String, cores: Int, batches: Int): Unit = {
    val targetDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "500000").toLong
    val nSources = sys.env.getOrElse("SPARK_GRAFT_STREAM_SOURCES", "1000").toInt
    val quota = sys.env.getOrElse("SPARK_GRAFT_STREAM_QUOTA", "12500").toLong
    // ZIPF=1: log-uniform rank draw (the synthesizeZipf inverse-CDF) so
    // src0 receives ~1/ln(N) of the WHOLE feed — the hot-source shape a
    // real crawl has and the uniform default can't produce. Runs the
    // telemetry variant of the gate; each batch's foreachBatch side
    // channel reports the top-K state-key mass, and the run REQUIRES
    // the hot source to top the report every batch — a closed source
    // is invisible in the admission stream, which is exactly why the
    // telemetry must come from inside the state machine.
    val zipf = sys.env.get("SPARK_GRAFT_STREAM_ZIPF").contains("1")
    val spark = GraftSession.local("graft-streambench", cores)

    val work = graft.queries.Scratch.dir("graft-streambench-quota")
    val nFiles = batches * 2
    val sourceCol =
      if (zipf) concat(lit("src"), least(
        (floor(exp((pmod(xxhash64(col("id")), lit(1000000000L)) / 1e9)
          * log(lit(nSources + 1.0)))) - 1).cast("long"),
        lit(nSources - 1L)))
      else concat(lit("src"), pmod(col("id"), lit(nSources.toLong)))
    spark.range(targetDocs).select(
        sourceCol.as("source"),
        col("id").as("doc_id"),
        (pmod(xxhash64(col("id")), lit(100)) + 1L).as("w"))
      .repartition(nFiles).write.mode("overwrite").parquet(s"$work/in")

    val src = spark.readStream
      .schema("source STRING, doc_id LONG, w LONG")
      .option("maxFilesPerTrigger", math.max(1, nFiles / batches))
      .parquet(s"$work/in")
    var hotTopped = 0
    var reports = 0
    val t0 = System.nanoTime()
    val writer =
      if (!zipf)
        graft.streaming.StreamOps.tokenQuotaAdmission(src, quota = quota)
          .writeStream
          .option("path", s"$work/admitted")
          .outputMode("append")
          .format("parquet")
      else
        graft.streaming.StreamOps
          .tokenQuotaAdmissionWithTelemetry(src, quota = quota)
          .writeStream
          .outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
            val cached = b.persist()
            try {
              cached.filter(col("kind") === "admit")
                .select("source", "doc_id", "n_tokens", "cum_tokens")
                .write.mode("overwrite").parquet(s"$work/admitted/batch=$bid")
              // the side channel: top-K state-key mass for THIS batch
              val top = graft.streaming.StreamOps.topKeyMass(
                  cached.filter(col("kind") === "state"),
                  Seq("source"), k = 5, massCol = Some("n_input"))
                .collect()
              if (top.nonEmpty) {
                reports += 1
                if (top.head.getString(0) == "src0") hotTopped += 1
                System.err.println(s"[quota] batch=$bid top=" +
                  top.map(r => s"${r.getString(0)}:${r.getLong(2)}")
                    .mkString("[", ",", "]"))
              }
            } finally { cached.unpersist(); () }
          }
    val q = writer
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val inputRows = progress.map(_.numInputRows).sum
    val admitted = Parquet.read(spark, s"$work/admitted")
      .drop("batch").count()
    require(admitted > 0 && admitted < inputRows,
      s"quota gate did no work: admitted=$admitted of $inputRows")
    if (zipf) require(reports > 0 && hotTopped == reports,
      s"telemetry missed the hot source: topped $hotTopped of $reports batches")
    val throughput = inputRows / wall
    val perBatch = progress.filter(_.numInputRows > 0)
      .map(r => num(r.processedRowsPerSecond, 0)).mkString("[", ",", "]")
    val extra = if (zipf)
      s""""zipf":true,"hot_topped_batches":$hotTopped,"reports":$reports,"""
    else ""
    println(s"""{"metric":"quota_ingest_throughput","value":${num(throughput, 0)},""" +
      s""""unit":"docs_per_sec","docs":$inputRows,"admitted":$admitted,""" +
      s""""wall_sec":${num(wall, 2)},"batches":${progress.count(_.numInputRows > 0)},""" +
      s""""sources":$nSources,"quota":$quota,$extra""" +
      s""""batch_rows_per_sec":$perBatch,"sf":"$sfDir"}""")
    println(s"""{"metric":"quota_ingest_throughput","value":${num(throughput, 0)},"unit":"docs_per_sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Shared persisted-index ingest harness: replicate the documents
    * corpus doc-disjointly (id offsets — the exact indexes' batch
    * precondition), stream it through admission-bounded microbatches,
    * fold each into the index, and prove the result answers. Wall
    * covers planning + every fold; output contract matches [[Bench]].
    */
  private def indexIngest(metric: String, scratch: String, sfDir: String,
      cores: Int, batches: Int)(
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      add: (SparkSession, org.apache.spark.sql.DataFrame, String) => Unit,
      prove: (SparkSession, String, org.apache.spark.sql.DataFrame) => Long,
      versionsOf: String => Int,
      // band-wing writes that must run OUTSIDE the foldOnce guard: a
      // crash between the versioned fold's commit and this hook replays
      // the batch with the fold skipped, and the hook must still run
      // (re-appending band keys is recall-harmless per IndexLog's retry
      // contract; skipping them loses the batch's keys forever)
      after: (SparkSession, org.apache.spark.sql.DataFrame, String) => Unit =
        (_, _, _) => (),
      // persist the microbatch across fold + after — ONLY for modes
      // with multiple harness-level consumers (family); single-consumer
      // folds (span) and folds that cache internally (bm25) would pay
      // a measured ~30% materialization tax for nothing
      cacheBatch: Boolean = false): Unit = {
    val targetDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "100000").toLong
    val spark = GraftSession.local("graft-streambench", cores)

    val work = graft.queries.Scratch.dir(scratch)
    val nFiles = batches * 2
    // SPARK_GRAFT_STREAM_CORPUS=zipf stages the realistic-density
    // corpus (ScaleProof.synthesizeZipfDocs: 50k-word Zipf vocabulary,
    // planted 1-in-10 near-dups at J≈0.75) instead of the verbatim
    // 10×-replica STRESS corpus where every doc carries 7-9 cross-
    // batch twins. The replica numbers measure saturated-dup
    // throughput (the probe's verify volume is the workload); the
    // zipf numbers measure the loop at a real crawl's dup density.
    val corpusMode = sys.env.getOrElse("SPARK_GRAFT_STREAM_CORPUS", "replica")
    val baseDocs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val total = if (corpusMode == "zipf") {
      graft.tools.ScaleProof.synthesizeZipfDocs(
        spark, s"$work/zipfsrc", targetDocs)
      Parquet.read(spark, s"$work/zipfsrc/documents.parquet")
        .select("doc_id", "text")
        .repartition(nFiles).write.mode("overwrite").parquet(s"$work/in")
      targetDocs
    } else {
      val baseCount = baseDocs.count()
      val copies = math.max(1, (targetDocs / math.max(1L, baseCount)).toInt)
      spark.range(copies).crossJoin(baseDocs)
        .select((col("doc_id") + col("id") * 10000000L).as("doc_id"),
          col("text"))
        .repartition(nFiles).write.mode("overwrite").parquet(s"$work/in")
      copies * baseCount
    }
    // the prove step's doc frame: the zipf corpus IS the delivered
    // corpus (family mode's prove only reads the assignment anyway);
    // replica mode keeps the base table (span's cleanse contract)
    val proveDocs = if (corpusMode == "zipf")
      Parquet.read(spark, s"$work/zipfsrc/documents.parquet")
        .select("doc_id", "text")
    else baseDocs
    val idx = s"$work/idx"

    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", math.max(1, nFiles / batches))
      .parquet(s"$work/in")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        // one persist for ALL consumers (fold + after hook) when the
        // mode asks for it: without it each consumer re-executes the
        // microbatch source scan — the q181 lesson, measured here as
        // numInputRows = 2x admitted rows in family mode
        val cached = if (cacheBatch) b.persist() else b
        try {
          // exactly-once: a replayed batch must not double-fold (see
          // IndexMaintenance.foldOnce — version == batchId + 1 invariant)
          graft.llm.IndexMaintenance.foldOnce(bid,
              Some(versionsOf(idx)).filter(_ > 0)) {
            if (versionsOf(idx) == 0) build(cached, idx)
            else add(spark, cached, idx)
          }
          after(spark, cached, idx)
        } finally { if (cacheBatch) { cached.unpersist(); () } }
      }
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val inputRows = progress.map(_.numInputRows).sum
    val perBatch = progress.filter(_.numInputRows > 0)
      .map(_.processedRowsPerSecond)
    val versions = versionsOf(idx)
    val hits = prove(spark, idx, proveDocs)
    require(hits > 0, "post-ingest proof query returned no rows")
    val throughput = inputRows / wall
    val detail = perBatch.map(r => num(r, 0)).mkString("[", ",", "]")
    println(s"""{"metric":"$metric","value":${num(throughput, 0)},""" +
      s""""unit":"docs_per_sec","docs":$inputRows,"expected":$total,""" +
      s""""wall_sec":${num(wall, 2)},"batches":${progress.count(_.numInputRows > 0)},""" +
      s""""index_versions":$versions,"proof_rows":$hits,""" +
      s""""batch_rows_per_sec":$detail,"sf":"$sfDir"}""")
    println(s"""{"metric":"$metric","value":${num(throughput, 0)},"unit":"docs_per_sec","sf":"$sfDir"}""")
    spark.stop()
  }
}
