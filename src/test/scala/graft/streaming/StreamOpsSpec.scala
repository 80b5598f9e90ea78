package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

/** Stream/batch parity over the real events table: the same windowed
  * aggregation and dedup must produce identical results through the
  * Structured Streaming path (file source -> memory sink) and the batch
  * path (VERDICT r1 item 9).
  */
class StreamOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("dedup state survives a query RESTART from its checkpoint (exactly-once resume)") {
    // batch 1 establishes dedup state, the query STOPS, batch 2 arrives
    // containing re-sends of batch-1 keys, and a NEW query instance
    // resumes from the same checkpointLocation: the re-sent keys must be
    // dropped by RESTORED state, not re-emitted. This is the property a
    // 100 TB ingest pipeline leans on across every deploy/crash — a
    // memory-sink processAllAvailable run never exercises it.
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("k LONG, v STRING")
        .parquet(src)
        .dropDuplicates("k")
      val q = stream.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    Seq((2L, "b-again"), (3L, "c-again"), (4L, "d")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out).select("k", "v")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L),
      s"each key exactly once across the restart, got ${got.mkString(",")}")
    // the duplicates dropped were the RE-SENT payloads: 2/3 keep batch-1 values
    assert(got.toMap == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("tokenQuotaAdmission: cross-batch state, strict-prefix close, arrival order") {
    val root = java.nio.file.Files.createTempDirectory("graft-quota").toString
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    def runOnce(): Unit = {
      val q = StreamOps.tokenQuotaAdmission(
          spark.readStream.schema("source STRING, doc_id LONG, w LONG")
            .parquet(src),
          quota = 100L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // batch 1: source a consumes 90 of 100; source b consumes 100 exactly
    Seq(("a", 1L, 50L), ("a", 2L, 40L), ("b", 3L, 100L))
      .toDF("source", "doc_id", "w")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    // batch 2: a's doc 4 (20) overflows -> a CLOSES; doc 5 (5) would
    // fit the residue but the strict prefix rejects it; b already full
    Seq(("a", 4L, 20L), ("a", 5L, 5L), ("b", 6L, 1L))
      .toDF("source", "doc_id", "w")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out)
      .select("source", "doc_id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 50L), ("a", 2L, 90L), ("b", 3L, 100L)))
    // parity with the batch window cut over the same arrival order
    val all = Seq(("a", 1L, 50L), ("a", 2L, 40L), ("b", 3L, 100L),
      ("a", 4L, 20L), ("a", 5L, 5L), ("b", 6L, 1L))
    val windowCut = all.groupBy(_._1).flatMap { case (s0, grp) =>
      val cums = grp.scanLeft(0L)(_ + _._3).tail
      grp.zip(cums).collect { case ((_, id, _), c) if c <= 100L => (s0, id, c) }
    }.toSet
    assert(got == windowCut)
  }

  test("tokenQuotaAdmissionWithTelemetry: same admissions, state rows expose closed-key pressure") {
    val root = java.nio.file.Files.createTempDirectory("graft-quota-tel").toString
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    def runOnce(): Unit = {
      val q = StreamOps.tokenQuotaAdmissionWithTelemetry(
          spark.readStream.schema("source STRING, doc_id LONG, w LONG")
            .parquet(src),
          quota = 100L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    Seq(("a", 1L, 50L), ("a", 2L, 40L), ("b", 3L, 100L))
      .toDF("source", "doc_id", "w")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    Seq(("a", 4L, 20L), ("a", 5L, 5L), ("b", 6L, 1L), ("b", 7L, 1L))
      .toDF("source", "doc_id", "w")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val all = spark.read.parquet(out)
    // admissions are IDENTICAL to the plain gate's (same state machine)
    assert(all.filter(col("kind") === "admit")
      .select("source", "doc_id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet ==
      Set(("a", 1L, 50L), ("a", 2L, 90L), ("b", 3L, 100L)))
    // state rows: one per (source, batch); batch 2's rows expose the
    // pressure the admission stream cannot show — b admitted NOTHING
    // in batch 2 yet received 2 rows, and both keys report closed
    val st = all.filter(col("kind") === "state")
      .select("source", "n_input", "consumed", "closed")
      .as[(String, Long, Long, Boolean)].collect()
    assert(st.length == 4) // 2 sources x 2 batches
    assert(st.toSet.contains(("a", 2L, 90L, true)))  // batch 2: closed by doc 4
    assert(st.toSet.contains(("b", 2L, 100L, true))) // batch 2: full, 2 rows seen
    // and the top-key-mass side channel ranks by the telemetry mass
    val top = StreamOps.topKeyMass(
      all.filter(col("kind") === "state"), Seq("source"), k = 1,
      massCol = Some("n_input")).collect()
    assert(top.head.getString(0) == "b" || top.head.getString(0) == "a")
    assert(top.head.getLong(2) >= 3L) // summed over batches
  }

  test("windowedEventStats: streaming result equals batch result") {
    val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      .transform(Tables.normalizeTs(_))
    val streamed = StreamOps.runToBatch(spark,
      StreamOps.windowedEventStats(stream, "1 hour"), "complete")
    val batch = StreamOps.windowedEventStats(Tables.events(spark, sfDir), "1 hour")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("statePartitions narrows stateful width without changing results, and restores the conf") {
    // state partition count is pinned by shuffle.partitions at the
    // query's FIRST batch; the knob must be semantically invisible
    // (same rows) and must not leak into the session afterwards
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(sp: Option[Int]) = {
      val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
        .transform(Tables.normalizeTs(_))
      StreamOps.runToBatch(spark,
        StreamOps.windowedEventStats(stream, "1 hour"), "complete",
        statePartitions = sp)
    }
    val narrow = run(Some(2))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    val default = run(None)
    assert(narrow.count() > 0)
    assert(narrow.except(default).count() == 0)
    assert(default.except(narrow).count() == 0)
  }

  test("dedupByKeyWithTtl: duplicate keys within the watermark are dropped") {
    val events = Seq(
      (1L, "2024-01-01 00:00:01", "a"),
      (1L, "2024-01-01 00:00:05", "b"), // dup key inside ttl
      (2L, "2024-01-01 00:01:00", "c"),
      (3L, "2024-01-01 00:02:00", "d"))
      .toDF("k", "ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-spec").toString
    events.write.mode("overwrite").parquet(s"$dir/ev.parquet")
    val stream = StreamOps.readStream(spark, s"$dir/ev.parquet")
    val out = StreamOps.runToBatch(spark,
      StreamOps.dedupByKeyWithTtl(stream, Seq("k"), "ts", "10 minutes"), "append")
    assert(out.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static broadcast enrich: Unknown default inside a streaming query") {
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-join").toString
    Seq((1L, "a"), (2L, "b"), (9L, "c")).toDF("loc", "payload")
      .write.mode("overwrite").parquet(s"$dir/facts.parquet")
    val dim = Seq((1L, "Loc1"), (2L, "Loc2")).toDF("loc_d", "name")
    val out = StreamOps.runToBatch(spark,
      StreamOps.enrichWithStaticDim(
        StreamOps.readStream(spark, s"$dir/facts.parquet"), dim,
        "loc", "loc_d", Map("name" -> "Unknown")),
      "append")
    val m = out.select("loc", "name").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "Loc1", 2L -> "Loc2", 9L -> "Unknown"))
  }

  test("foreachBatch top-items: per-batch ranking equals the batch aggregation") {
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-topk").toString
    val dataA = Seq(
      (1L, 10L, 100L, "apple", 1000L), (1L, 10L, 101L, "apple", 1001L),
      (1L, 11L, 102L, "pear", 1002L), (2L, 20L, 200L, "fig", 2000L))
      .toDF("geographical_location_oid", "video_camera_oid", "detection_oid",
        "item_name", "timestamp_detected")
    dataA.write.mode("overwrite").parquet(s"$dir/a.parquet")
    val dataB = Seq((1L, "Loc1"), (2L, "Loc2"))
      .toDF("geographical_location_oid", "geographical_location")
    val results = scala.collection.mutable.ArrayBuffer.empty[Array[(String, String, String)]]
    val q = StreamOps.topItemsForEachBatch(
      StreamOps.readStream(spark, s"$dir/a.parquet"), dataB, topX = 2) { (df, _) =>
        results += df.orderBy("geographical_location", "item_rank")
          .as[(String, String, String)].collect()
      }
    try q.processAllAvailable() finally q.stop()
    val batch = graft.operators.ReferenceAggregations
      .topItems(dataA, dataB, Map[String, Any]("topX" -> 2))
      .orderBy("geographical_location", "item_rank")
      .as[(String, String, String)].collect()
    assert(results.size == 1) // single file -> single microbatch
    assert(results.head.toSeq == batch.toSeq)
  }

  test("session windows: streaming equals batch (complete mode)") {
    // complete mode sidesteps append-mode's emission timing (the final
    // no-data microbatch that flushes watermark-expired sessions races
    // processAllAvailable) and lets us assert exact parity
    val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      .transform(Tables.normalizeTs(_))
      .withWatermark("ts", "1 hour")
    val streamed = StreamOps.runToBatch(spark,
      StreamOps.sessionStats(stream, "user_id", "6 hours"), "complete")
    val batch = StreamOps.sessionStats(Tables.events(spark, sfDir), "user_id", "6 hours")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("stream-stream interval join leftOuter: unmatched rows emit null-padded once the watermark closes their window") {
    // user 1's click matches; user 2's purchase is outside the 1h
    // window; user 3 never purchases — both must emit exactly one
    // null-padded row, which the engine may do only after the
    // watermark passes click_ts + 1h. Two far-future carrier files
    // make that deterministic: the first advances the watermark, the
    // second is a data batch in whose execution the closed outer
    // state is evicted and emitted (the final no-data flush batch
    // races processAllAvailable; a data batch does not).
    val dir = java.nio.file.Files.createTempDirectory("graft-outer-ij").toString + "/src"
    def ev(rows: Seq[(Long, Long, String, String, Double)]) =
      rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val raw = StreamOps.replayFiles(dir, Seq(ev(Seq(
      (1L, 1L, "click", "2024-01-01 00:00:00", 0.0),
      (2L, 1L, "purchase", "2024-01-01 00:30:00", 5.0),
      (3L, 2L, "click", "2024-01-01 00:00:00", 0.0),
      (4L, 2L, "purchase", "2024-01-01 02:00:00", 7.0),
      (5L, 3L, "click", "2024-01-01 00:00:00", 0.0),
      // the TAIL click: at the max real event time, so the real data's
      // own watermark can never close its window — its null row emits
      // only if the carrier rows genuinely reach the watermark
      // operators (an in-stream post-join filter would silently kill
      // them at the scan via pushdown; see q225's comment)
      (6L, 4L, "click", "2024-01-01 02:00:00", 0.0))),
      ev(Seq((-1L, -1L, "click", "2030-01-01 00:00:00", 0.0),
        (-2L, -1L, "purchase", "2030-01-01 00:00:00", 0.0))),
      ev(Seq((-1L, -1L, "click", "2030-02-01 00:00:00", 0.0),
        (-2L, -1L, "purchase", "2030-02-01 00:00:00", 0.0)))))
    def split(raw: org.apache.spark.sql.DataFrame) = (
      raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts")),
      raw.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts")))
    val (c, p) = split(raw)
    val streamed = StreamOps.runToBatch(spark,
      StreamOps.intervalJoin(
        c.withWatermark("click_ts", "30 minutes"),
        p.withWatermark("p_ts", "30 minutes"),
        "user_id", "p_user", "click_ts", "p_ts", "1 hour", "leftOuter"),
      "append")
      .filter(col("user_id") >= 0)
      .select("click_id", "p_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(streamed ==
      Set((1L, Some(2L)), (3L, None), (5L, None), (6L, None)))
    // and the same operator call over batch inputs is the plain SQL
    // left join (parity with the relational semantics the oracle runs)
    val rawB = spark.read.parquet(s"$dir/*.parquet")
    val (cb, pb) = split(rawB)
    val batch = StreamOps.intervalJoin(cb, pb,
        "user_id", "p_user", "click_ts", "p_ts", "1 hour", "leftOuter")
      .filter(col("user_id") >= 0)
      .select("click_id", "p_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(batch == streamed)
  }

  test("outer join → agg chain survives compressed replay: allowance is sufficient, and the engine's propagation holds even below it") {
    // 11 clicks at 10-minute marks across a 100-minute backlog, NO real
    // purchases — every click must reach the downstream windowed count
    // as an outer null row, emitted only at watermark EVICTION. The
    // backlog replays COMPRESSED (two data files), so the watermark
    // advances by ~the whole span between triggers — the scenario the
    // round-7 q235 analysis blamed for dropping 20/21 outer windows.
    // Round-8 measurement CORRECTS that finding: with the carrier
    // protocol right (three carriers, no in-stream carrier filter —
    // the two artifacts that DO lose windows, each pinned elsewhere in
    // this suite), Spark's per-operator watermark propagation delivers
    // every outer window even at an ordinary 30-minute delay, in every
    // protocol probed (1-file and 2-file compression, a carrier
    // between backlog halves). outerChainReplayAllowanceSec stays the
    // PORTABLE sufficient condition — join window + replay span — that
    // holds on any engine whose late filter lags eviction by one
    // trigger; this test pins both: the allowance run and the
    // below-allowance run must BOTH land all 11 windows here.
    val dir = java.nio.file.Files.createTempDirectory("graft-outer-chain").toString + "/src"
    def ev(rows: Seq[(Long, Long, String, String, Double)]) =
      rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val clicks = (0 until 11).map { i =>
      val m = i * 10
      (i.toLong, 100L + i, "click",
        f"2024-01-01 0${m / 60}:${m % 60}%02d:00", 0.0)
    }
    // 2-batch compressed replay + three carriers (join eviction batch,
    // agg eviction batch, final flush race cover — the q235 protocol)
    def carrier(ts: String) = Seq(
      (-1L, -1L, "click", ts, 0.0), (-2L, -1L, "purchase", ts, 0.0))
    val raw = StreamOps.replayFiles(dir, Seq(clicks.take(6), clicks.drop(6),
      carrier("2030-01-01 00:00:00"), carrier("2030-02-01 00:00:00"),
      carrier("2030-03-01 00:00:00")).map(ev))

    val joinWithinSec = 20L * 60 // 20-minute attribution window
    val replaySpanSec = 100L * 60 // the backlog's event-time span
    def run(delaySec: Long): Set[(String, Long)] = {
      val ck = java.nio.file.Files
        .createTempDirectory("graft-outer-chain-ck").toString
      val c = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", s"$delaySec seconds")
      val p = raw.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", s"$delaySec seconds")
      val joined = StreamOps.intervalJoin(c, p, "user_id", "p_user",
        "click_ts", "p_ts", s"$joinWithinSec seconds", "leftOuter")
      val agg = joined
        .groupBy(window(col("click_ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
      StreamOps.runToBatch(spark, agg, "append")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .filter(year(col("window.start")) < 2029) // drop carrier windows
        .as[(String, Long)].collect().toSet
    }

    val safe = run(StreamOps.outerChainReplayAllowanceSec(
      joinWithinSec, replaySpanSec))
    val expected = (0 until 11)
      .map(i => (f"0${i / 6}:${i % 6}0:00".take(5), 1L)).toSet
    assert(safe == expected,
      s"under the allowance every outer window must land; got $safe")

    // below the allowance — an ordinary live-stream delay (30 min, the
    // q225/q235 shape): rows evicted in trigger N are those the
    // watermark passed between N-2 and N-1, and the aggregation's late
    // threshold lags one more trigger, so the threshold can never
    // overtake an evicted row's own window — the engine is drop-free
    // here BY CONSTRUCTION, not luck. (The failure modes that DO lose
    // outer windows are protocol artifacts: an in-stream carrier
    // filter pushed into the scans freezes the watermark — pinned in
    // the carrier-pushdown test — and fewer than one carrier per
    // stateful stage races processAllAvailable.)
    val ordinary = run(30L * 60)
    assert(ordinary == expected,
      s"the engine's propagation must hold below the allowance too; got $ordinary")
  }

  test("stream-stream interval join: streaming equals batch (inner)") {
    def clicks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    def purchases(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    def joined(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      StreamOps.intervalJoin(l, r, "user_id", "p_user", "click_ts", "p_ts", "1 hour")
        .select("click_id", "p_id")
    val raw = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      .transform(Tables.normalizeTs(_))
    // stream-stream self-join: two watermarked derivations of one source
    val streamed = StreamOps.runToBatch(spark,
      joined(
        clicks(raw).withWatermark("click_ts", "1 hour"),
        purchases(raw).withWatermark("p_ts", "1 hour")),
      "append")
    val ev = Tables.events(spark, sfDir)
    val batch = joined(clicks(ev), purchases(ev))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("userRunningStats (mapGroupsWithState): final streaming state equals batch") {
    val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
    // single input file -> one microbatch, so update-mode emission is the
    // final per-key state
    val streamed = StreamOps.runToBatch(spark,
      StreamOps.userRunningStats(stream), "update")
    val batch = StreamOps.userRunningStats(Tables.events(spark, sfDir))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("withRocksDbStateStore leaves the session conf exactly as it found it") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getAll.toSet
    val inside = StreamOps.withRocksDbStateStore(spark)(spark.conf.get(key))
    assert(inside.endsWith("RocksDBStateStoreProvider"))
    val after = spark.conf.getAll.toSet
    assert(after -- before == Set.empty[(String, String)])
    assert(before -- after == Set.empty[(String, String)])
  }

  test("userRunningStatsTws (transformWithState): equals the mapGroupsWithState operator and batch") {
    StreamOps.withRocksDbStateStore(spark) {
      val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      val streamed = StreamOps.runToBatch(spark,
        StreamOps.userRunningStatsTws(stream), "update")
      val old = StreamOps.userRunningStats(Tables.events(spark, sfDir))
      assert(streamed.count() > 0)
      assert(streamed.except(old).count() == 0)
      assert(old.except(streamed).count() == 0)
    }
  }

  test("recentEventsTws (ListState): last-k per user equals the batch window computation") {
    StreamOps.withRocksDbStateStore(spark) {
      val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      val got = StreamOps.runToBatch(spark,
        StreamOps.recentEventsTws(stream, 3), "update")
        .as[(Long, Seq[Long])].collect().toMap
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val want = Tables.events(spark, sfDir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(transform(
          sort_array(collect_list(struct(
            unix_micros(col("ts")).as("t"), col("event_id").as("e")))),
          x => x.getField("e")).as("event_ids"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got.nonEmpty && got == want)
    }
  }

  test("eventTypeCountsTws (MapState): running per-type counts equal the batch aggregation") {
    StreamOps.withRocksDbStateStore(spark) {
      val stream = StreamOps.readStream(spark, Tables.path(sfDir, "events"))
      val got = StreamOps.runToBatch(spark,
        StreamOps.eventTypeCountsTws(stream), "update")
        .as[(Long, Seq[String])].collect().toMap
      val want = Tables.events(spark, sfDir)
        .groupBy("user_id", "event_type").count()
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          concat(col("event_type"), lit("="), col("count")))).as("counts"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got.nonEmpty && got == want)
    }
  }

  test("sessionFold handles cross-batch late events on the early side of the open session") {
    val open = Some(OpenSession(100L, 200L, 2))
    // 50us before start, gap 60 => merges and LOWERS the start
    val (c1, o1) = StreamOps.sessionFold(open, Array(50L), 60L)
    assert(c1.isEmpty && o1.contains(OpenSession(50L, 200L, 3)))
    // beyond the gap before start => its own session, closed immediately
    val (c2, o2) = StreamOps.sessionFold(open, Array(10L), 60L)
    assert(c2 == Seq(OpenSession(10L, 10L, 1)) && o2.contains(OpenSession(100L, 200L, 2)))
    // plain in-order batch: split on the gap, last stays open
    val (c3, o3) = StreamOps.sessionFold(None, Array(0L, 30L, 200L), 60L)
    assert(c3 == Seq(OpenSession(0L, 30L, 2)) && o3.contains(OpenSession(200L, 200L, 1)))
  }

  test("dedupByContentWithTtl drops re-ingested identical content") {
    val docs = Seq(
      (1L, "2024-01-01 00:00:01", "same text"),
      (2L, "2024-01-01 00:00:05", "same text"), // re-crawl inside ttl
      (3L, "2024-01-01 00:01:00", "other text"))
      .toDF("id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cdedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val out = StreamOps.runToBatch(spark,
      StreamOps.dedupByContentWithTtl(
        StreamOps.readStream(spark, s"$dir/docs.parquet"),
        Seq("text"), "ts", "10 minutes"),
      "append")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("sessionizeWithTimeout: event-time timeout emits sessions when the watermark closes them") {
    // file a: two users' events; file b: a far-future watermark pusher.
    // With maxFilesPerTrigger=1 the files arrive as separate microbatches,
    // so file-a sessions can ONLY emit via the event-time timeout firing
    // on the no-data batch after b advances the watermark.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-fmgws").toString
    def ev(rows: Seq[(Long, String)], f: String): Unit =
      rows.toDF("user_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
        .drop("ts_s").repartition(1).write.mode("overwrite").parquet(s"$dir/$f")
    ev(Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"), // one session
      (1L, "2024-01-01 02:00:00"),                              // > 30 min gap: new session
      (2L, "2024-01-01 00:05:00")), "a.parquet")
    ev(Seq((99L, "2024-01-01 12:00:00")), "b.parquet")

    val schema = spark.read.parquet(s"$dir/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*.parquet")
      .withWatermark("ts", "1 minute")
    val out = StreamOps.runToBatch(spark,
      StreamOps.sessionizeWithTimeout(stream, "user_id", "ts", "30 minutes").toDF(),
      "append")
      .as[(Long, Long, Long, Long)].collect().toSet
    def us(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    // user 99's session is still open (nothing advanced the watermark past
    // it), so exactly the three file-a sessions emit
    assert(out == Set(
      (1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2L),
      (1L, us("2024-01-01 02:00:00"), us("2024-01-01 02:00:00"), 1L),
      (2L, us("2024-01-01 00:05:00"), us("2024-01-01 00:05:00"), 1L)))
  }

  test("sessionizeWithTimeoutTws (transformWithState timers): same sessions as the fmgws operator") {
    // same fixture shape as the fmgws test: file-a sessions can only
    // emit via an event-time TIMER firing after file b moves the watermark
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-tws").toString
    def ev(rows: Seq[(Long, String)], f: String): Unit =
      rows.toDF("user_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
        .drop("ts_s").repartition(1).write.mode("overwrite").parquet(s"$dir/$f")
    ev(Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"),
      (2L, "2024-01-01 00:05:00")), "a.parquet")
    ev(Seq((99L, "2024-01-01 12:00:00")), "b.parquet")

    StreamOps.withRocksDbStateStore(spark) {
      val schema = spark.read.parquet(s"$dir/a.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/*.parquet")
        .withWatermark("ts", "1 minute")
      val out = StreamOps.runToBatch(spark,
        StreamOps.sessionizeWithTimeoutTws(stream, "user_id", "ts", "30 minutes").toDF(),
        "append")
        .as[(Long, Long, Long, Long)].collect().toSet
      def us(s: String): Long =
        java.sql.Timestamp.valueOf(s).getTime * 1000L
      assert(out == Set(
        (1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2L),
        (1L, us("2024-01-01 02:00:00"), us("2024-01-01 02:00:00"), 1L),
        (2L, us("2024-01-01 00:05:00"), us("2024-01-01 00:05:00"), 1L)))
    }
  }

  test("sessionizeWithTimeout batch run equals session_window on the events table") {
    // batch mode runs the same state machine as one "microbatch" with no
    // timeouts: every session closes in-batch or stays open (unemitted
    // open sessions = exactly one per user, the last one)
    val ev = Tables.events(spark, sfDir)
    val fmgws = StreamOps.sessionizeWithTimeout(ev, "user_id", "ts", "6 hours")
      .toDF().select("user_id", "start_us", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    val builtin = StreamOps.sessionStats(ev, "user_id", "6 hours")
      .select(col("user_id"), unix_micros(col("sw.start")), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    // drop each user's LAST session from the builtin set (still open in
    // the state machine, so never emitted in append semantics)
    val lastPerUser = builtin.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
    assert(fmgws == builtin -- lastPerUser)
    assert(fmgws.nonEmpty)
  }

  test("dedupByKey (unbounded state) keeps one row per key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-spec2").toString
    Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/ev.parquet")
    val out = StreamOps.runToBatch(spark,
      StreamOps.dedupByKey(StreamOps.readStream(spark, s"$dir/ev.parquet"), Seq("k")),
      "append")
    assert(out.count() == 2)
  }

  test("runToBatch checkpoints into a graft scratch dir and deletes it once the stream stops") {
    val before = StreamOpsSpec.checkpointDirs()
    // inside the stream's tasks: how many runToBatch checkpoints hold offsets
    val live = udf(() => StreamOpsSpec.checkpointDirs()
      .count(d => new java.io.File(d, "offsets").isDirectory)).asNondeterministic()
    graft.queries.Scratch.using("runtobatch-src") { src =>
      spark.range(0, 40).selectExpr("id % 7 AS k", "id").write.parquet(s"$src/t")
      val out = StreamOps.runToBatch(spark,
        StreamOps.readStream(spark, s"$src/t").withColumn("live", live())
          .groupBy("k").agg(count(lit(1)).as("n"), min("live").as("live")), "complete")
      val batch = spark.read.parquet(s"$src/t").groupBy("k").agg(count(lit(1)).as("n"))
      assert(out.select("k", "n").as[(Long, Long)].collect().sorted
        sameElements batch.as[(Long, Long)].collect().sorted)
      assert(out.as[(Long, Long, Int)].collect().forall(_._3 >= 1))
    }
    assert(StreamOpsSpec.checkpointDirs() == before)
  }

  test("runToBatch drops its memory-sink view; the returned frame still reads") {
    def views() = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")).toSet
    graft.queries.Scratch.using("runtobatch-view") { src =>
      spark.range(0, 40).selectExpr("id % 7 AS k", "id").write.parquet(s"$src/t")
      val out = StreamOps.runToBatch(spark,
        StreamOps.readStream(spark, s"$src/t").groupBy("k").agg(count(lit(1)).as("n")),
        "complete")
      assert(views().isEmpty)
      val batch = spark.read.parquet(s"$src/t").groupBy("k").agg(count(lit(1)).as("n"))
      assert(out.as[(Long, Long)].collect().sorted sameElements
        batch.as[(Long, Long)].collect().sorted)
      assert(out.filter(col("n") > 5L).count() == 5L)
    }
  }

  private val replayFrames = Seq(
    Seq((3L, "c")),
    Seq((1L, "a"), (2L, "b")),
    Seq((9L, "z"), (8L, "y"), (7L, "x")))

  test("replayFiles + drain: three frames arrive as three micro-batches in landing order") {
    graft.queries.Scratch.using("replay-order") { root =>
      val frames = replayFrames.map(_.toDF("id", "tag"))
      val stream = StreamOps.replayFiles(s"$root/src", frames)
      // catalogString leaves nullability out: file streams force nullable
      assert(stream.schema.catalogString == frames.head.schema.catalogString)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String)])]
      val n = StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
        seen.add((bid, b.as[(Long, String)].collect().toSet))
      }
      assert(n == 3)
      assert(seen.toArray.toSeq ==
        replayFrames.map(_.toSet).zipWithIndex.map { case (rows, i) => (i.toLong, rows) })
    }
  }

  test("replayFiles runs no job beyond writing its frames") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add)
    }
    def described(d: String)(body: => Unit): Unit = {
      sc.setJobDescription(d)
      try body finally sc.setJobDescription(null)
    }
    graft.queries.Scratch.using("replay-jobs") { root =>
      val frames = replayFrames.map(_.toDF("id", "tag"))
      sc.addSparkListener(listener)
      try {
        described("replay-direct")(frames.zipWithIndex.foreach { case (f, i) =>
          f.coalesce(1).write.parquet(s"$root/direct/$i")
        })
        described("replay-stream")(StreamOps.replayFiles(s"$root/src", frames))
        // the listener queue delivers in post order: once the marker job
        // is seen, every job before it has been counted
        described("replay-marker")(spark.range(1).count())
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!jobs.contains("replay-marker") && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.contains("replay-marker"))
      } finally sc.removeSparkListener(listener)
      def count(d: String) = jobs.toArray.count(_ == d)
      assert(count("replay-direct") == frames.size)
      assert(count("replay-stream") == count("replay-direct"))
    }
  }

  test("replayFiles rejects an empty batch list and an existing directory") {
    graft.queries.Scratch.using("replay-reject") { root =>
      intercept[IllegalArgumentException](StreamOps.replayFiles(s"$root/src", Seq.empty))
      intercept[IllegalArgumentException](
        StreamOps.replayFiles(root, Seq(Seq(1L).toDF("id"))))
    }
  }
}

object StreamOpsSpec {
  def checkpointDirs(): Set[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles).toSet.flatten
      .filter(_.getName.startsWith("graft-runtobatch-"))
}
