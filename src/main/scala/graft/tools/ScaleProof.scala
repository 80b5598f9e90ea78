package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Two-decade scaling measurement — runs flagship compositions at
  * sf0.1 and at synthesized 10x ("sf1.0") and 100x ("sf10") corpora,
  * recording wall time and shuffle volume, so the engine's 100 TB
  * posture rests on a measured curve rather than plan-shape argument
  * alone.
  *
  * Each scaled corpus replicates the sf0.1 `documents` table with per-copy
  * doc_id offsets and text MUTATION (~1 in 5 words prefixed with a copy
  * marker, at positions drawn from xxhash64(copy, position) so every
  * copy mutates a DIFFERENT position set): near-dup structure within a
  * copy is preserved — a pair whose shingle sets overlapped still
  * overlaps after identical positional edits — while cross-copy
  * similarity collapses in BOTH candidate metric spaces: shingle
  * Jaccard (~60% of 3-shingles touch a mutated word) AND simhash
  * Hamming (~36% of tokens differ between two copies, pushing pairs
  * far outside banding radius). The earlier same-positions scheme kept
  * cross-copy signatures correlated, which made banded simhash
  * candidates grow quadratically per 100-copy family at the second
  * decade (a measured disk-filling shuffle) — correlated template
  * families are the documented worst case for signature banding, and
  * the synthesis must not manufacture 5,000 of them if the claim under
  * test is "10x data => ~10x near-dup work".
  *
  * Shuffle bytes come from a task-metrics listener (local remote-read
  * metrics are zero in local mode, so WRITE bytes are the honest
  * cross-stage volume figure). Usage:
  * `runMain graft.tools.ScaleProof [sf0.1Dir] [workDir]`.
  */
object ScaleProof {

  private def num(d: Double, prec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))

  /** Sum of shuffle write + local/remote read bytes across all tasks run
    * while `body` executes.
    */
  final class ShuffleMeter(spark: SparkSession) {
    private val written = new java.util.concurrent.atomic.AtomicLong()
    private val read = new java.util.concurrent.atomic.AtomicLong()
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    def measure[T](body: => T): (T, Long, Long) = {
      spark.sparkContext.addSparkListener(listener)
      written.set(0); read.set(0)
      try {
        val r = body
        // listener events post asynchronously and the bus exposes no
        // public drain; the counters here feed a human-scale MB figure,
        // so a settle pause is accurate enough
        Thread.sleep(1000)
        (r, written.get, read.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** 10x documents corpus with copy-marked text (see class doc). */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String, copies: Int = 10): Long = {
    val docs = graft.Tables.documents(spark, srcDir)
    val replicated = spark.range(copies).crossJoin(docs)
      .select(
        (col("doc_id") + col("id") * 10000000L).as("doc_id"),
        when(col("id") === 0, col("text")).otherwise(
          array_join(zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (w, i) => when(pmod(xxhash64(col("id"), i), lit(5)) === 0,
              concat(lit("c"), col("id"), lit("_"), w))
              .otherwise(w)), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    replicated.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    Parquet.read(spark, s"$outDir/documents.parquet").count()
  }

  /** Zipf-vocabulary corpus for the TF-IDF cosine join (q191): term
    * rank drawn log-uniformly (inverse-CDF of Zipf s≈1 — u uniform
    * from xxhash64(doc, pos), rank = floor(exp(u·ln(V+1))) - 1), so the
    * df distribution has a hot head (df ≈ n_docs) AND genuine rare-term
    * mass — the shape on which `maxDocFreq` is the operative scale
    * valve. The sf0.1-replica corpus can't exercise that cap: its
    * 31-word vocabulary puts EVERY term in nearly every doc, making
    * tf-idf cosine inherently all-pairs (the round-6 finding that
    * forced q191's bench slice).
    */
  def synthesizeZipf(spark: SparkSession, outDir: String, nDocs: Long,
      vocab: Int = 50000, wordsPerDoc: Int = 80): Long = {
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(0), lit(wordsPerDoc - 1)),
        p => concat(lit("w"), least(
          (floor(exp((pmod(xxhash64(col("id"), p), lit(1000000000L)) / 1e9)
            * log(lit(vocab + 1.0)))) - 1).cast("long"),
          lit(vocab - 1L)))), " ").as("text"))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    Parquet.read(spark, s"$outDir/documents.parquet").count()
  }

  /** Zipf-vocabulary corpus WITH planted near-duplicates, full
    * `documents` schema — the realistic fixture for the SHINGLE dedup
    * tier (q27/q53/q200 decades). The replica corpus those decades ran
    * on has a ~31-word vocabulary and verbatim copies, which overstates
    * BOTH dup density and df concentration; here word ranks draw
    * log-uniformly from a 50k vocabulary (hot head + genuine rare-term
    * mass) and the only near-dups are PLANTED: every 10th doc
    * (id % 10 == 9) re-draws doc id-1's word sequence with ~1-in-20
    * positions rewritten at per-copy positions. 3-shingle survival
    * (19/20)³ ≈ 0.86 puts the planted pair's expected Jaccard ≈ 0.75 —
    * comfortably above the 0.5 threshold — while unplanted pairs share
    * only Zipf-head tokens, far below it. The planted set doubles as
    * ground truth for [[RecallCurves]].
    */
  def synthesizeZipfDocs(spark: SparkSession, outDir: String, nDocs: Long,
      vocab: Int = 50000, wordsPerDoc: Int = 80,
      gatePassable: Boolean = false,
      rewriteDenom: Int = 20): Long = {
    val isCopy = pmod(col("id"), lit(10)) === 9
    val wid = col("id") - when(isCopy, 1L).otherwise(0L)
    // gatePassable: words encode their rank in LETTERS (digit-heavy
    // tokens fail the quality gate's alpha-ratio) and every 10th
    // position carries an English marker word so lang_id resolves
    // "en" instead of "und" — the shape a REAL gate-fronted pipeline
    // sees; markers sit at fixed positions, identical in base and
    // copy, so the planted-pair Jaccard structure is preserved
    def letters(rank: org.apache.spark.sql.Column) =
      concat(char(lit(97) + pmod(rank, lit(26))),
        char(lit(97) + pmod(rank / 26, lit(26))),
        char(lit(97) + pmod(rank / 676, lit(26))),
        char(lit(97) + pmod(rank / 17576, lit(26))))
    def enc(prefix: String, rank: org.apache.spark.sql.Column) =
      if (gatePassable) concat(lit(prefix), letters(rank))
      else concat(lit(prefix), rank)
    def zipfWord(seed: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column) =
      enc("w", least(
        (floor(exp((pmod(xxhash64(seed, p), lit(1000000000L)) / 1e9)
          * log(lit(vocab + 1.0)))) - 1).cast("long"),
        lit(vocab - 1L)))
    val markers = array(lit("the"), lit("and"), lit("of"), lit("is"))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(0), lit(wordsPerDoc - 1)),
        p => {
          val body = when(isCopy && pmod(xxhash64(col("id"), p, lit(13L)),
              lit(rewriteDenom)) === 0,
            enc("m", pmod(xxhash64(col("id"), p, lit(7L)),
              lit(vocab.toLong))))
            .otherwise(zipfWord(wid, p))
          if (gatePassable)
            when(pmod(p, lit(10)) === 5,
              element_at(markers, (pmod(p / 10, lit(4)) + 1).cast("int")))
              .otherwise(body)
          else body
        }), " ").as("text"),
      concat(lit("l"), pmod(col("id"), lit(3))).as("lang"),
      concat(lit("s"), pmod(col("id"), lit(7))).as("source"))
    docs.withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    Parquet.read(spark, s"$outDir/documents.parquet").count()
  }

  /** Replicated embeddings with per-copy sign-flip mutation: copy 0 is
    * verbatim; copy k>0 flips the sign of ~1/5 of the dimensions
    * (xxhash64-selected per copy), which decorrelates every LSH
    * signature bit while preserving vector norms — so cross-copy rows
    * land in fresh buckets and per-bucket occupancy tracks corpus
    * density, exactly like the mutated-text replicas for the shingle
    * operators (an unmutated copy would put all `copies` replicas of a
    * vector in ONE bucket in every table and measure a pair blowup the
    * mutation-free corpus invented, not the operator).
    */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
      outDir: String, copies: Int = 10): Long = {
    val e = graft.Tables.embeddings(spark, srcDir)
    val replicated = spark.range(copies).crossJoin(e)
      .select(
        (col("vec_id") + col("id") * 10000000L).as("vec_id"),
        when(col("id") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, j) => when(pmod(xxhash64(col("id"), j), lit(5)) === 0, -v)
              .otherwise(v))).as("embedding"),
        col("label"))
    replicated.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    Parquet.read(spark, s"$outDir/embeddings.parquet").count()
  }

  /** 10x orders + lineitem with per-copy key offsets — disjoint copies
    * of the customer→supplier bipartite graph, so q170's HITS workload
    * (join+agg per half-round over the distinct edge set) scales 10x in
    * edges while per-family structure is preserved. Offsets keep key
    * spaces collision-free: orderkey stride 1e10, cust/supp stride 1e8
    * (1e5 copies would collide; the decade protocol stops at 100).
    */
  def synthesizeGraph(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int = 10): Unit = {
    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      offsets.foldLeft(spark.range(copies).crossJoin(df)) {
        case (acc, (c, stride)) =>
          acc.withColumn(c, col(c) + col("id") * stride)
      }.drop("id")
    replicate(graft.Tables.orders(spark, srcDir),
      Map("o_orderkey" -> 10000000000L, "o_custkey" -> 100000000L))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    replicate(graft.Tables.lineitem(spark, srcDir),
      Map("l_orderkey" -> 10000000000L, "l_suppkey" -> 100000000L))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
  }

  /** 10x/100x events corpus for the streaming legs: event_id offsets
    * keep ids unique; ts/user_id identical per copy, so watermark span
    * stays fixed while join-state volume scales with the data — the
    * honest shape for a state-bounded-by-watermark claim.
    */
  def synthesizeEvents(spark: SparkSession, srcDir: String,
      outDir: String, copies: Int): Long = {
    val ev = graft.Tables.events(spark, srcDir)
    spark.range(copies).crossJoin(ev)
      .select((col("event_id") + col("id") * 100000000L).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    Parquet.read(spark, s"$outDir/events.parquet").count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse(
      graft.queries.Scratch.dir("graft-scaleproof"))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local("graft-scaleproof", cores)
    // SPARK_GRAFT_CHECKPOINT_DIR flips every Iterate.materialize in the
    // run to RELIABLE checkpoints (operators/Iterate.scala: dir set ⇒
    // reliable) — the knob for measuring reliable-mode overhead on an
    // iterative decade leg
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)

    // two measured decades: 10x and 100x the sf0.1 corpus (the second
    // decade is what separates "fixed overhead still dominates" from a
    // genuine scaling trend)
    val copyCapEarly = sys.env.get("SPARK_GRAFT_SCALEPROOF_MAXCOPIES")
      .map(_.toInt).getOrElse(100)
    // a zipf-only run (ONLY=q191...) reads no replica corpus — skip
    // synthesizing decades nothing will read (same waste class as the
    // graph-table gating below)
    val onlyPre = sys.env.get("SPARK_GRAFT_SCALEPROOF_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val replicaNeeded = onlyPre.forall(_.exists(n =>
      !n.startsWith("q191") && !n.startsWith("q210") &&
        !n.startsWith("q213") && !n.startsWith("q214") &&
        !n.startsWith("q215") && !n.startsWith("q225") &&
        !n.startsWith("q227") && !n.startsWith("zipfdedup") &&
        !n.startsWith("giantfam"))) // giantfam synthesizes its own ids
    val decades = Seq("sf1.0" -> 10, "sf10" -> 100)
      .filter(_ => replicaNeeded)
      .filter(_._2 <= copyCapEarly)
      .map { case (tag, copies) =>
        val dir = s"$work/$tag"
        val rows = synthesize(spark, sfDir, dir, copies)
        System.err.println(s"[scaleproof] synthesized $rows docs at $dir")
        (tag, dir, copies)
      }
    // graph tables (orders+lineitem) are synthesized only for the
    // decades this run will read AND only when a graph query is
    // selected, so a docs-only or sf0.1-only run doesn't pay a
    // synthesis nothing reads
    val only = sys.env.get("SPARK_GRAFT_SCALEPROOF_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val copyCap = copyCapEarly
    val graphQueries = Set("q170_hits", "q184_personalized_pagerank")
    if (only.forall(sel => graphQueries.exists(sel.contains))) {
      decades.foreach { case (tag, dir, copies) =>
        synthesizeGraph(spark, sfDir, dir, copies)
        System.err.println(
          s"[scaleproof] synthesized ${copies}x orders+lineitem at $dir")
      }
    }

    // (query, max copies): every flagship with pinned minimum > 2.5 s
    // runs BOTH decades (the round-6 "first decade only" stubs are
    // gone; q103's minimum is streaming-engine startup, not data, so it
    // has no decade row).
    // SPARK_GRAFT_SCALEPROOF_ONLY=q164_...,q170_... scopes a run to a
    // subset (same knob shape as Bench/Verify); _MAXCOPIES caps the
    // decade globally (e.g. 10 to skip the 100x leg)
    val queries = Seq(
      "q27_minhash_neardup" -> 100, "q28_simhash_neardup" -> 100,
      "q42_neardup_groups" -> 100, "q53_corpus_pipeline" -> 100,
      "q126_assembly_pipeline" -> 100,
      "q164_containment" -> 100, "q173_bm25_retrieval" -> 100,
      "q170_hits" -> 100, "q181_bm25_incremental" -> 100,
      "q184_personalized_pagerank" -> 100,
      "q192_stream_bm25_ingest" -> 100,
      "q195_proximity_multiterm" -> 100,
      "q201_span_dedup_incremental" -> 100,
      "q202_stream_span_dedup" -> 100,
      "q238_span_delta_chain" -> 100,
      "q240_family_delta_compaction" -> 100,
      "q207_phash_incremental" -> 100,
      "q208_stream_phash_ingest" -> 100,
      "q209_multimodal_dup_families" -> 100,
      "q219_curation_pipeline" -> 100,
      "q221_stream_quota_admission" -> 100,
      // the index-lifecycle tier: compaction rewrites the whole
      // postings chain (linear in corpus), vacuum + cleanWith walks
      // the full line-df history, tombstone delete subtracts df from
      // the index's own postings — each must track the corpus ~linearly
      "q223_bm25_index_compaction" -> 100,
      "q224_index_vacuum" -> 100,
      "q226_bm25_tombstone_delete" -> 100,
      // streaming takedown + the family closure (one-shot and streamed)
      // and the classifier tier — all documents-replica compositions
      "q228_stream_takedown" -> 100,
      "q229_family_index" -> 100,
      "q230_stream_family_ingest" -> 100,
      "q232_nb_classifier" -> 100,
      "q233_quality_classifier" -> 100,
      "q236_incremental_split" -> 100)
    val meter = new ShuffleMeter(spark)
    val out = for {
      (name, maxCopies) <- queries
      if only.forall(_.contains(name))
      (tag, dir, copies) <- ("sf0.1", sfDir, 1) +: decades
      if copies <= maxCopies && copies <= copyCap
    } yield {
      val fn = graft.SparkEntry.queries(name)
      // min of 2 passes, same discipline as Bench (build inside the timer)
      val passes = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val (_, w, r) = meter.measure {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
        ((System.nanoTime() - t0) / 1e9, w, r)
      }
      val (sec, w, r) = passes.minBy(_._1)
      System.err.println(f"[scaleproof] $name $tag ${sec}%.2fs write=${w >> 20}MiB read=${r >> 20}MiB")
      (name, tag, sec, w, r)
    }
    // q191 TF-IDF cosine: the replica corpus can't exercise the
    // maxDocFreq cap (31-word vocab — every term is hot, all-pairs by
    // construction), so its decade runs on the Zipf-vocab corpus where
    // the cap is the operative valve. Evidence recorded per decade:
    // Σ df² with and without the cap (the join's cost functional) and
    // the hotTerms dropped-term count (non-empty ⇒ the cap did work).
    // cap=500: capped join cost ≈ (wordsPerDoc/ln V)·n_docs·cap partial
    // products — LINEAR in the corpus (1.9e8 at 50k docs, 1.9e9 at
    // 500k), vs the uncapped Σ df² ≈ (head terms with df≈n)·n² —
    // QUADRATIC (~1.7e12 at 500k docs, a ~1000x reduction at the
    // second decade). That n-vs-n² gap is exactly the cap's job.
    val zipf = if (!only.forall(_.exists(_.startsWith("q191")))) Seq.empty
    else {
      val cap = 500L
      for ((tag, nDocs) <- Seq("zipf-sf1.0" -> 50000L, "zipf-sf10" -> 500000L)
          if nDocs / 50000 <= copyCap) yield {
        val dir = s"$work/$tag"
        val rows = synthesizeZipf(spark, dir, nDocs)
        val docs = Parquet.read(spark, s"$dir/documents.parquet")
        val dfT = docs.select(col("doc_id").as("did"),
            explode(split(col("text"), " ")).as("t"))
          .groupBy("did", "t").agg(count(lit(1)).as("tf"))
          .groupBy("t").agg(count(lit(1)).as("df"))
        val Array(sumAll, sumCapped, nHot) = dfT.agg(
          sum(col("df") * col("df")),
          sum(when(col("df") <= cap, col("df") * col("df")).otherwise(0L)),
          sum(when(col("df") > cap, 1L).otherwise(0L)))
          .collect().head.toSeq.map(v => v.asInstanceOf[Long]).toArray
        val hot = graft.llm.TfIdfCosine.hotTerms(docs, "doc_id", "text", cap)
        require(hot.count() == nHot, "hotTerms disagrees with the df scan")
        System.err.println(
          s"[scaleproof] $tag ($rows docs): sum(df^2) uncapped=$sumAll " +
            s"capped=$sumCapped hot_terms=$nHot")
        val passes = (1 to 2).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          val (_, w, r) = meter.measure {
            graft.llm.TfIdfCosine
              .similarPairs(docs, "doc_id", "text",
                thresholdPct = 60, maxDocFreq = cap)
              .write.format("noop").mode("overwrite").save()
          }
          ((System.nanoTime() - t0) / 1e9, w, r)
        }
        val (sec, w, r) = passes.minBy(_._1)
        System.err.println(f"[scaleproof] q191_tfidf_cosine_pairs $tag ${sec}%.2fs write=${w >> 20}MiB read=${r >> 20}MiB")
        ("q191_tfidf_cosine_pairs", tag, sec, w, r, sumAll, sumCapped, nHot)
      }
    }
    // q210 embedding-LSH index fold: the replica corpus is usable, but
    // the contract-pinned 8-bit geometry is NOT — sig space is 256
    // buckets/table, so 100x vectors would pack ~2k per bucket and the
    // candidate join would go quadratic in occupancy (the q28 lesson,
    // measured before it crashes this time). TWO valves are mandatory
    // at scale, and this protocol exercises both:
    //   1. planesPerTable ∝ log2(n) (8 bits at 2k, 12 at 20k, 16 at
    //      200k) keeps EXPECTED occupancy ~n/2^planes constant — but
    //      only for dispersed mass;
    //   2. maxBucketSize (500 here) bounds SEMANTICALLY hot buckets
    //      that geometry cannot disperse: a tight cluster's vectors
    //      share sign bits at any resolution, so its bucket depth
    //      grows WITH the corpus and its pair set quadratically.
    //      Capped-away clusters are exactly the dense mass the
    //      clustering path (q90's k-means cell pruning) owns; the
    //      hot_buckets count records the handoff (0 on this corpus —
    //      its label clusters are loose enough that geometry alone
    //      disperses them once the planes are independent).
    // This protocol is also what CAUGHT the correlated-plane bug: the
    // pre-fmix32 Weyl planes collapsed 16-bit signatures to ~6
    // effective bits, and this leg measured the resulting blowup as a
    // >77 GB band-join spill + max_bucket=979 at sf10. With fmix32
    // planes the same leg runs cap-idle with max_bucket~131.
    // Bucket occupancy of the final index is recorded as evidence.
    // q225 stream-stream OUTER interval join at event decades: the
    // watermark span is fixed per copy while join-state volume scales
    // with the data, so the claim under test is "state bounded by
    // watermark, wall ~linear in events" — the property outer joins
    // must hold at a real feed's volume (null emission waits on the
    // watermark, so state IS the cost).
    val outerDec = if (!only.forall(_.exists(_.startsWith("q225"))))
      Seq.empty
    else {
      for ((tag, copies) <- Seq("ev-sf1.0" -> 10, "ev-sf10" -> 100)
          if copies <= copyCap) yield {
        val dir = s"$work/$tag"
        val n = synthesizeEvents(spark, sfDir, dir, copies)
        System.err.println(s"[scaleproof] synthesized $n events at $dir")
        // decade law for STATE: partitions spread with volume (the
        // q210 planes story), and multi-million-row join state runs on
        // RocksDB — the in-memory store's per-batch snapshot cost was
        // the measured superlinearity (303 s at 10M events on 8
        // in-memory partitions vs the fix below)
        spark.conf.set("graft.statePartitions",
          if (copies >= 100) "32" else "16")
        val passes = (1 to 2).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          val (_, w, r) = meter.measure {
            graft.streaming.StreamOps.withRocksDbStateStore(spark) {
              graft.SparkEntry
                .queries("q225_stream_outer_interval_join")(spark, dir)
                .write.format("noop").mode("overwrite").save()
            }
          }
          ((System.nanoTime() - t0) / 1e9, w, r)
        }
        spark.conf.unset("graft.statePartitions")
        val (sec, w, r) = passes.minBy(_._1)
        System.err.println(
          f"[scaleproof] q225_stream_outer_interval_join $tag ${sec}%.2fs " +
            f"write=${w >> 20}MiB read=${r >> 20}MiB")
        (tag, sec, w, r)
      }
    }
    // replica corpora shared by every embedding fold below; memoized so
    // an unscoped run synthesizes each decade once
    val embDirCache = scala.collection.mutable.Map[String, String]()
    def embReplica(tag: String, copies: Int): String =
      if (copies == 1) sfDir
      else embDirCache.getOrElseUpdate(tag, {
        val d = s"$work/$tag"
        val n = synthesizeEmbeddings(spark, sfDir, d, copies)
        System.err.println(s"[scaleproof] synthesized $n vectors at $d")
        d
      })
    val embDecades = Seq(("sf0.1", 1, 8), ("emb-sf1.0", 10, 12),
      ("emb-sf10", 100, 16))
    val embDec = if (!only.forall(_.exists(n =>
        n.startsWith("q210") || n.startsWith("q227")))) Seq.empty
    else {
      val embCap = 500L
      for ((tag, copies, planes) <- embDecades
          if copies <= copyCap) yield {
        val dir = embReplica(tag, copies)
        val e = graft.Tables.embeddings(spark, dir)
        var lastIdx = ""
        val passes = (1 to 2).map { p =>
          System.gc()
          val idx = s"$work/$tag-idx-p$p"
          lastIdx = idx
          val t0 = System.nanoTime()
          val (_, w, r) = meter.measure {
            val b1 = e.filter(col("vec_id") % 2 === 0)
            val b2 = e.filter(col("vec_id") % 2 === 1)
            graft.llm.EmbeddingLshIndex.build(b1, idx,
              planesPerTable = planes, maxBucketSize = embCap)
            graft.llm.EmbeddingLshIndex.incrementalNearDupPairs(spark,
                idx, b2, threshold = 0.4, planesPerTable = planes,
                maxBucketSize = embCap)
              .write.format("noop").mode("overwrite").save()
            graft.llm.EmbeddingLshIndex.append(b2, idx,
              planesPerTable = planes, maxBucketSize = embCap)
          }
          ((System.nanoTime() - t0) / 1e9, w, r)
        }
        val (sec, w, r) = passes.minBy(_._1)
        val occ = graft.llm.IndexMaintenance
          .scan(spark, graft.llm.IndexLog.read(lastIdx), "bands")
          .groupBy("table", "sig").count()
          .agg(avg(col("count")), max(col("count"))).collect().head
        val (avgOcc, maxOcc) = (occ.getDouble(0), occ.getLong(1))
        // pre-flight report on the FULL corpus: the dense-cluster
        // buckets the cap dropped at write (cappedBucketReport sees
        // only what was written; this names what was not)
        val hotBuckets = graft.llm.EmbeddingLshIndex
          .hotInputBuckets(e, planesPerTable = planes,
            maxBucketSize = embCap)
          .count()
        System.err.println(
          f"[scaleproof] q210_embed_lsh_incremental $tag ${sec}%.2fs " +
            f"write=${w >> 20}MiB read=${r >> 20}MiB planes=$planes " +
            f"avg_bucket=$avgOcc%.1f max_bucket=$maxOcc " +
            f"hot_buckets=$hotBuckets")
        // q222's maintenance leg: compact the final index in place and
        // re-probe it — compaction cost is a linear coalesce rewrite,
        // and the probe against the compacted index is the parity the
        // q222 oracle pins at gate scale
        val tC0 = System.nanoTime()
        val (_, wc, rc) = meter.measure {
          graft.llm.EmbeddingLshIndex.compact(spark, lastIdx, targetFiles = 8)
          graft.llm.EmbeddingLshIndex.incrementalNearDupPairs(spark,
              lastIdx, e.filter(col("vec_id") % 2 === 1),
              threshold = 0.4, planesPerTable = planes,
              maxBucketSize = embCap)
            .write.format("noop").mode("overwrite").save()
        }
        val secC = (System.nanoTime() - tC0) / 1e9
        System.err.println(
          f"[scaleproof] q222_embed_index_compaction $tag ${secC}%.2fs " +
            f"write=${wc >> 20}MiB read=${rc >> 20}MiB")
        // q227's maintenance leg: tombstone-forget a 1/30 slice of the
        // compacted index and re-probe — forget itself is a constant
        // tombstone append; the probe pays one broadcast anti-join on
        // its history side, so the wall must stay ~the probe's
        val tF0 = System.nanoTime()
        val (_, wf, rf) = meter.measure {
          graft.llm.EmbeddingLshIndex.forget(spark, lastIdx,
            e.filter(col("vec_id") % 30 === 7).select("vec_id"))
          graft.llm.EmbeddingLshIndex.incrementalNearDupPairs(spark,
              lastIdx,
              e.filter(col("vec_id") % 2 === 1 && col("vec_id") % 30 =!= 7),
              threshold = 0.4, planesPerTable = planes,
              maxBucketSize = embCap)
            .write.format("noop").mode("overwrite").save()
        }
        val secF = (System.nanoTime() - tF0) / 1e9
        System.err.println(
          f"[scaleproof] q227_embed_index_forget $tag ${secF}%.2fs " +
            f"write=${wf >> 20}MiB read=${rf >> 20}MiB")
        (tag, sec, w, r, planes, avgOcc, maxOcc, hotBuckets, secC, wc, rc)
      }
    }
    // q213 (one-shot cleanse), q214 (index-backed admission probe) and
    // q215 (pairs → CC → min-id survivor) at the same decades. The
    // cleanse REFERENCE stays fixed (the base corpus's eval slice)
    // while training grows 100× — decontamination's real shape: the
    // eval suite rides as a broadcast at every scale, the corpus is
    // never shuffled, and the wall must track the corpus ~linearly.
    // q215 adds the closure on top of the decade-law banding.
    val clnDec = if (!only.forall(_.exists(n => n.startsWith("q213") ||
        n.startsWith("q214") || n.startsWith("q215")))) Seq.empty
    else {
      val evalRef = graft.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 10 === 8).materialized
      def timed(f: => Unit): (Double, Long, Long) =
        (1 to 2).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          val (_, w, r) = meter.measure(f)
          ((System.nanoTime() - t0) / 1e9, w, r)
        }.minBy(_._1)
      embDecades.filter(_._2 <= copyCap).flatMap { case (tag, copies, planes) =>
        val e = graft.Tables.embeddings(spark, embReplica(tag, copies))
        val idx = s"$work/$tag-cleanse-idx"
        graft.llm.EmbeddingLshIndex.build(evalRef, idx,
          planesPerTable = planes)
        val a = timed {
          graft.llm.EmbeddingKnn.cleanseAgainst(e, evalRef,
              threshold = 0.35, tables = 8, planesPerTable = planes)
            .write.format("noop").mode("overwrite").save()
        }
        val b = timed {
          graft.llm.EmbeddingLshIndex.cleanseWith(spark, idx, e,
              threshold = 0.35, planesPerTable = planes)
            .write.format("noop").mode("overwrite").save()
        }
        val c = timed {
          val pairs = graft.llm.EmbeddingKnn
            .nearDupPairsLsh(e, threshold = 0.35,
              tables = 8, planesPerTable = planes)
            .select("id_a", "id_b")
          val cc = graft.operators.ConnectedComponents
            .run(pairs, "id_a", "id_b")
            .withColumnRenamed("id", "vec_id")
          e.select("vec_id").join(cc, Seq("vec_id"), "left")
            .select(col("vec_id"),
              coalesce(col("component"), col("vec_id")).as("family_id"))
            .write.format("noop").mode("overwrite").save()
        }
        val rows = Seq(("q213_embed_decontaminate", a),
          ("q214_stream_embed_decontaminate", b),
          ("q215_embed_dedup_survivors", c))
        rows.foreach { case (n, (sec, w, r)) =>
          System.err.println(f"[scaleproof] $n $tag ${sec}%.2fs " +
            f"write=${w >> 20}MiB read=${r >> 20}MiB planes=$planes")
        }
        rows.map { case (n, (sec, w, r)) => (n, tag, sec, w, r, planes) }
      }
    }
    // Zipf-realistic decades for the SHINGLE dedup tier: the replica
    // corpus's 31-word vocabulary and verbatim copies overstate both
    // dup density and df concentration, so flagship dedup queries get
    // a second curve on synthesizeZipfDocs (50k-vocab Zipf draw,
    // planted 1-in-10 near-dup copies at Jaccard ≈ 0.75) — "replica
    // stress" and "Zipf-realistic" rows land side by side in
    // BASELINE.md. Enabled via SPARK_GRAFT_SCALEPROOF_ZIPFDEDUP=
    // q27_...,q53_...,q200_... (a corpus-shape axis orthogonal to the
    // ONLY knob's query axis).
    val zipfDedup = sys.env.get("SPARK_GRAFT_SCALEPROOF_ZIPFDEDUP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty) match {
      case Seq() => Seq.empty
      case names =>
        // gate-fronted pipelines (q53) run on the gate-passable
        // variant — letter words + lang markers — because the quality
        // gate correctly rejects bare synthetic word-soup (lang_id =
        // "und"), and a zipf row that only times the gate scan would
        // be hollow; the pure dedup queries keep the plain corpus
        val needsGate = names.exists(_.startsWith("q53"))
        for {
          (tag, nDocs) <- Seq("zipfdedup-sf1.0" -> 50000L,
            "zipfdedup-sf10" -> 500000L)
          if nDocs / 50000 <= copyCap
          dirs = {
            val d = s"$work/$tag"
            val rows = synthesizeZipfDocs(spark, d, nDocs)
            System.err.println(
              s"[scaleproof] synthesized $rows zipf-dedup docs at $d")
            val g = if (!needsGate) None else {
              val gd = s"$work/$tag-gate"
              val r2 = synthesizeZipfDocs(spark, gd, nDocs,
                gatePassable = true)
              System.err.println(s"[scaleproof] synthesized $r2 " +
                s"gate-passable zipf docs at $gd")
              Some(gd)
            }
            (d, g)
          }
          name <- names
        } yield {
          val dir = if (name.startsWith("q53")) dirs._2.get else dirs._1
          val fn = graft.SparkEntry.queries(name)
          val passes = (1 to 2).map { _ =>
            System.gc()
            val t0 = System.nanoTime()
            val (_, w, r) = meter.measure {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
            }
            ((System.nanoTime() - t0) / 1e9, w, r)
          }
          val (sec, w, r) = passes.minBy(_._1)
          System.err.println(f"[scaleproof] $name $tag ${sec}%.2fs " +
            f"write=${w >> 20}MiB read=${r >> 20}MiB")
          (name, tag, sec, w, r)
        }
    }
    // ---------------------------------------------------------------
    // span8: the q202 decade RE-PROTOCOLED (round-8 verdict #6). The
    // query's own 2-batch protocol is the delta layout's amortization
    // floor (batch = corpus/2 ⇒ per-batch-write ∝ batch ≡ ∝ corpus by
    // construction), so this leg folds each decade's corpus through a
    // FIXED EIGHT batches and measures what the 2-batch curve cannot
    // show: the per-fold delta WRITE is flat in the fold index (∝ that
    // batch's grams, never ∝ accumulated history — the copy-on-write
    // form it replaced wrote the CUMULATIVE table every fold, Σ ≈ 4.5×
    // corpus at 8 batches vs the chain's 1×). Enabled via
    // SPARK_GRAFT_SCALEPROOF_SPAN8=1 (pair with ONLY=span8 to skip the
    // main query loop; the replica decades are still synthesized).
    if (sys.env.get("SPARK_GRAFT_SCALEPROOF_SPAN8").contains("1")) {
      def localBytes(dir: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        walk(new java.io.File(dir))
      }
      val legs = ("sf0.1", sfDir) +: decades.map(d => (d._1, d._2))
      legs.foreach { case (tag, dir) =>
        import graft.llm.SpanDedupIndex
        val idx = s"$work/span8-$tag-idx"
        val all = graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val batches = (0 until 8).map(b =>
          all.filter(pmod(col("doc_id"), lit(8)) === b).materialized)
        val t0 = System.nanoTime()
        val foldSecs = batches.zipWithIndex.map { case (b, i) =>
          val tf = System.nanoTime()
          if (i == 0) SpanDedupIndex.build(b, idx, "doc_id", "text")
          else SpanDedupIndex.addBatch(spark, idx, b, "doc_id", "text")
          (System.nanoTime() - tf) / 1e9
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val log = graft.llm.IndexLog.read(idx).entries
        val baseBytes = log.flatMap(_.adds.get("base")).map(localBytes).sum
        val deltaBytes = log.flatMap(_.adds.get("delta")).map(localBytes)
        // one composed read (the q202 post-drain shape) for the read
        // side of the trade at this tail length
        val tr = System.nanoTime()
        val grams = graft.llm.DeltaChain
          .composedSum(spark, idx, Seq("f"), "n_occ").count()
        val readSec = (System.nanoTime() - tr) / 1e9
        System.err.println(f"[scaleproof] span8 $tag wall=${wall}%.1fs " +
          s"folds=[${foldSecs.map(s => num(s, 1)).mkString(",")}] " +
          s"base_mb=${baseBytes >> 20} " +
          s"delta_mb=[${deltaBytes.map(_ >> 20).mkString(",")}] " +
          f"composed_read=${readSec}%.1fs grams=$grams")
        println(s"""{"metric":"span8_decade","scale":"$tag",""" +
          s""""wall_sec":${num(wall, 1)},""" +
          s""""fold_secs":[${foldSecs.map(num(_, 1)).mkString(",")}],""" +
          s""""base_mb":${baseBytes >> 20},""" +
          s""""delta_mb":[${deltaBytes.map(_ >> 20).mkString(",")}],""" +
          s""""composed_read_sec":${num(readSec, 1)}}""")
      }
    }

    // ---------------------------------------------------------------
    // giantfam: Zipf duplication means one family can span a large
    // corpus fraction (round-8 verdict #7). 30% of all ids form ONE
    // family, grown across all 8 folds (each batch links its giant
    // members to the previous batch's — after contraction every such
    // edge is a star on the family rep, the hot-key shape); the other
    // 70% form 2-member families (the baseline load). Measures the
    // fold and the composed probe at two decades; the fold's CC runs
    // on the contracted batch graph where the rep's degree = the
    // batch's giant mass. SPARK_GRAFT_SCALEPROOF_GIANTFAM=1.
    if (sys.env.get("SPARK_GRAFT_SCALEPROOF_GIANTFAM").contains("1")) {
      Seq(("gf-1x", 100000L), ("gf-10x", 1000000L)).foreach { case (tag, n) =>
        import graft.llm.FamilyIndex
        val idx = s"$work/giantfam-$tag"
        val slice = n / 8
        // pairs of batch b: ids in [b·slice, (b+1)·slice). Giant ids
        // (id % 10 < 3) link to the previous giant id (same family
        // rep 0 after closure); ids %10 ∈ {3,4},{5,6},{7,8} pair up;
        // %10 == 9 never appears (absent-id contract).
        def pairsOf(b: Int): DataFrame =
          spark.range(b * slice, (b + 1) * slice)
            .select(col("id").as("id_b"),
              when(pmod(col("id"), lit(10)) < 3,
                when(pmod(col("id"), lit(10)) === 0, col("id") - 8)
                  .otherwise(col("id") - 1))
                .when(pmod(col("id"), lit(10)).isin(4, 6, 8), col("id") - 1)
                .as("id_a"))
            .filter(col("id_a").isNotNull && col("id_a") >= 0 &&
              col("id_a") =!= col("id_b"))
            .select("id_a", "id_b")
        val t0 = System.nanoTime()
        val foldSecs = (0 until 8).map { b =>
          val tf = System.nanoTime()
          if (b == 0) FamilyIndex.build(pairsOf(0), idx)
          else FamilyIndex.addBatch(spark, idx, pairsOf(b))
          (System.nanoTime() - tf) / 1e9
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val tp = System.nanoTime()
        val asg = FamilyIndex.assignment(spark, idx).materialized
        val giant = asg.filter(col("family") === 0).count()
        val nonRep = asg.filter(col("id") =!= col("family")).count()
        val probeSec = (System.nanoTime() - tp) / 1e9
        // the giant family must be exactly the 30% slice (ids ≡ 0,1,2
        // mod 10), fully merged across all 8 folds
        require(giant == 3 * (n / 10),
          s"giant family incomplete: $giant of ${3 * (n / 10)}")
        System.err.println(f"[scaleproof] giantfam $tag wall=${wall}%.1fs " +
          s"folds=[${foldSecs.map(num(_, 1)).mkString(",")}] " +
          f"probe=${probeSec}%.1fs giant=$giant non_rep=$nonRep")
        println(s"""{"metric":"giantfam_decade","scale":"$tag",""" +
          s""""wall_sec":${num(wall, 1)},""" +
          s""""fold_secs":[${foldSecs.map(num(_, 1)).mkString(",")}],""" +
          s""""probe_sec":${num(probeSec, 1)},"giant_members":$giant}""")
      }
    }

    val json = ((out ++ zipfDedup).map { case (n, t, s, w, r) =>
      s"""{"query":"$n","scale":"$t","sec":${num(s, 2)},""" +
        s""""shuffle_write_mb":${w >> 20},"shuffle_read_mb":${r >> 20}}"""
    } ++ outerDec.map { case (t, s, w, r) =>
      s"""{"query":"q225_stream_outer_interval_join","scale":"$t",""" +
        s""""sec":${num(s, 2)},"shuffle_write_mb":${w >> 20},""" +
        s""""shuffle_read_mb":${r >> 20}}"""
    } ++ zipf.map { case (n, t, s, w, r, sa, sc, nh) =>
      s"""{"query":"$n","scale":"$t","sec":${num(s, 2)},""" +
        s""""shuffle_write_mb":${w >> 20},"shuffle_read_mb":${r >> 20},""" +
        s""""sum_df2_uncapped":$sa,"sum_df2_capped":$sc,"hot_terms":$nh}"""
    } ++ embDec.flatMap { case (t, s, w, r, pl, ao, mo, hb, sc, wc, rc) =>
      Seq(
        s"""{"query":"q210_embed_lsh_incremental","scale":"$t","sec":${num(s, 2)},""" +
          s""""shuffle_write_mb":${w >> 20},"shuffle_read_mb":${r >> 20},""" +
          s""""planes_per_table":$pl,"avg_bucket":${num(ao, 1)},"max_bucket":$mo,""" +
          s""""hot_buckets":$hb}""",
        s"""{"query":"q222_embed_index_compaction","scale":"$t","sec":${num(sc, 2)},""" +
          s""""shuffle_write_mb":${wc >> 20},"shuffle_read_mb":${rc >> 20}}""")
    } ++ clnDec.map { case (n, t, s, w, r, pl) =>
      s"""{"query":"$n","scale":"$t","sec":${num(s, 2)},""" +
        s""""shuffle_write_mb":${w >> 20},"shuffle_read_mb":${r >> 20},""" +
        s""""planes_per_table":$pl}"""
    }).mkString("[", ",", "]")
    println(s"""{"metric":"scale_proof","decades":"sf0.1->sf1.0->sf10","runs":$json}""")
    spark.stop()
  }
}
