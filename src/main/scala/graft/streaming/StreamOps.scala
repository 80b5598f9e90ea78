package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType
import graft.Parquet

/** Structured Streaming variants of the engine's operators — the
  * capability surface the reference only designed (`design.pdf` pp.1-2:
  * stream ingestion, dedup with TTL, windowed aggregation, dim join).
  *
  * File-source streams over the test corpus let a bounded parquet table
  * drive a real streaming query synchronously (memory sink +
  * `processAllAvailable`), so streaming semantics are oracle-testable
  * against batch SQL.
  */
/** Mutable per-key state for [[StreamOps.userRunningStats]]; BigDecimal
  * keeps the running sum exact and order-independent.
  */
case class UserState(n: Long, total: BigDecimal)

/** Open-session state for [[StreamOps.sessionizeWithTimeout]] (event
  * times as epoch micros).
  */
case class OpenSession(startUs: Long, endUs: Long, n: Long)

/** Emitted closed session of [[StreamOps.sessionizeWithTimeout]]. */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Emitted row of [[StreamOps.userRunningStats]]. */
case class UserRunningStats(user_id: Long, n_events: Long, total_value: Double)

/** Per-source admission state for [[StreamOps.tokenQuotaAdmission]]:
  * tokens consumed so far, and whether the source's strict prefix has
  * closed (first overflow shuts the source for good — matching
  * [[graft.llm.TokenBudget]]'s strict-prefix contract, so the
  * streaming admission equals the batch window cut on the same order).
  */
case class QuotaState(consumed: Long, closed: Boolean)

case class AdmittedDoc(source: String, doc_id: Long, n_tokens: Long,
  cum_tokens: Long)

/** One output row of [[StreamOps.tokenQuotaAdmissionWithTelemetry]]:
  * either an admission (`kind="admit"`, doc fields set) or a per-key
  * per-batch STATE report (`kind="state"`, `n_input` = rows the key
  * received this batch — pressure the admissions can't show once the
  * key closes — plus the post-batch state itself).
  */
case class QuotaOut(kind: String, source: String, doc_id: Long,
  n_tokens: Long, cum_tokens: Long, n_input: Long, consumed: Long,
  closed: Boolean)

/** `StatefulProcessor` behind [[StreamOps.userRunningStatsTws]]: the
  * Spark 4 `transformWithState` form of the running-stats state machine.
  * State lives in a named, typed `ValueState` slot obtained from the
  * handle at init (one of any number of per-key variables, each with its
  * own TTL — the capability axis `mapGroupsWithState`'s single state
  * object lacks). Semantics are pinned equal to the old-API operator by
  * StreamOpsSpec.
  */
class RunningStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserRunningStats] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[UserState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserState](
      "running", Encoders.product[UserState], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[UserRunningStats] = {
    val prev = if (state.exists()) state.get() else UserState(0L, BigDecimal(0))
    var n = prev.n
    var total = prev.total
    rows.foreach { case (_, v) =>
      n += 1
      total += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
    }
    state.update(UserState(n, total))
    Iterator.single(UserRunningStats(key, n, total.toDouble))
  }
}

/** `StatefulProcessor` behind [[StreamOps.sessionizeWithTimeoutTws]]:
  * gap sessionization with explicit event-time timers. Each batch ends by
  * registering a timer at `session end + gap`; the timer firing on a
  * later (possibly no-data) microbatch proves the watermark passed the
  * session's expiry, so it closes and emits. A timer registered before
  * the session was extended fires early — it's detected as stale
  * (fired expiry < current expiry) and ignored; the re-registered later
  * timer is still pending.
  */
class SessionizeProcessor(gapMicros: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Long), ClosedSession] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[OpenSession](
      "session", Encoders.product[OpenSession], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Long)],
      timerValues: TimerValues): Iterator[ClosedSession] = {
    val sorted = rows.map(_._3).toArray.sorted
    val prev = if (state.exists()) Some(state.get()) else None
    val (closedSessions, open) = StreamOps.sessionFold(prev, sorted, gapMicros)
    open.foreach { s =>
      val newExpiry = (s.endUs + gapMicros) / 1000L
      // one pending timer per key, not one per batch: delete the
      // superseded timer before registering the moved one
      prev.foreach { p =>
        val oldExpiry = (p.endUs + gapMicros) / 1000L
        if (oldExpiry != newExpiry) getHandle.deleteTimer(oldExpiry)
      }
      state.update(s)
      getHandle.registerTimer(newExpiry)
    }
    closedSessions.map(s => ClosedSession(key, s.startUs, s.endUs, s.n)).iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
    if (!state.exists()) Iterator.empty
    else {
      val s = state.get()
      if (expiredTimerInfo.getExpiryTimeInMs() >= (s.endUs + gapMicros) / 1000L) {
        state.clear()
        Iterator.single(ClosedSession(key, s.startUs, s.endUs, s.n))
      } else Iterator.empty // stale timer from a since-extended session
    }
  }
}

/** One buffered event of [[RecentEventsProcessor]]. */
case class RecentEvent(ts_us: Long, event_id: Long)

/** Emitted row of [[StreamOps.recentEventsTws]]: the key's last-k event
  * ids, ascending by (ts, event_id).
  */
case class UserRecentEvents(user_id: Long, event_ids: Seq[Long])

/** `transformWithState` processor keeping each key's LAST-K events in a
  * `ListState` — the bounded-buffer state shape (sessionless "recent
  * activity" features, rate-limit windows) that a single `ValueState`
  * value expresses awkwardly and the old API couldn't TTL separately.
  * Merge is read-trim-put per batch: O(k + batch) per key, state bounded
  * at k rows regardless of stream length.
  */
class RecentEventsProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), UserRecentEvents] {
  require(k > 0,
    s"k must be positive, got $k (k=0 would put an empty list, which the state store rejects)")
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var recent: ListState[RecentEvent] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState[RecentEvent](
      "recent", Encoders.product[RecentEvent], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[UserRecentEvents] = {
    val merged =
      (recent.get().toSeq ++ rows.map { case (_, ts, id) => RecentEvent(ts, id) })
        .sortBy(e => (e.ts_us, e.event_id))
        .takeRight(k)
    recent.put(merged.toArray)
    Iterator.single(UserRecentEvents(key, merged.map(_.event_id)))
  }
}

/** Emitted row of [[StreamOps.eventTypeCountsTws]]: the key's running
  * per-event-type counts as sorted "type=n" strings (a stable, encoder-
  * friendly rendering of the map).
  */
case class UserTypeCounts(user_id: Long, counts: Seq[String])

/** `transformWithState` processor on a `MapState[String, Long]` — the
  * keyed-submap state primitive (per-user per-category accumulators)
  * that completes the TWS state trio next to `ValueState`
  * ([[RunningStatsProcessor]]) and `ListState`
  * ([[RecentEventsProcessor]]). Point updates touch only the changed
  * map entries in RocksDB, not the whole per-key blob — the property
  * that matters when a key accumulates many categories.
  */
class EventTypeCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), UserTypeCounts] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[UserTypeCounts] = {
    // pre-aggregate the batch locally: one state read-modify-write per
    // DISTINCT type, not 2-3 RocksDB point operations per input row
    val batch = scala.collection.mutable.Map.empty[String, Long]
    rows.foreach { case (_, tpe) => batch(tpe) = batch.getOrElse(tpe, 0L) + 1L }
    batch.foreach { case (tpe, n) =>
      val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
      counts.updateValue(tpe, cur + n)
    }
    // sort in UTF8String binary order (UTF-8 bytes), matching Spark's
    // sort_array — Scala's String ordering compares UTF-16 code units
    // and disagrees for supplementary-plane characters
    val rendered = counts.iterator()
      .map { case (tpe, n) => s"$tpe=$n" }.toSeq
      .sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
    Iterator.single(UserTypeCounts(key, rendered))
  }
}

object StreamOps {

  private val nameCounter = new AtomicInteger()

  /** Run a bounded streaming DataFrame to completion through a memory
    * sink; returns the sink's rows as a batch DataFrame and drops the
    * sink's temp view, so a long-lived session keeps no view per call.
    *
    * `statePartitions` temporarily narrows `spark.sql.shuffle.partitions`
    * for the stream's lifetime: a stateful query materializes one state
    * store instance PER stateful operator PER shuffle partition, each
    * with its own per-batch open/commit/delta-file overhead, and that
    * count is fixed at the query's first batch. Stateful width should
    * track the query's KEY CARDINALITY, not the session's corpus-wide
    * shuffle width — at production scale the same sizing (state
    * partitions are pinned by shuffle.partitions at the FIRST batch and
    * kept by the checkpoint thereafter) keeps a thin-keyed stream from
    * paying a 1000-partition state tax forever. Restored afterwards;
    * the returned batch DataFrame plans under the session's normal
    * width.
    *
    * The checkpoint goes to a graft scratch dir that is deleted
    * in-process once the query stops (the memory sink's rows are on the
    * driver by then), so Spark makes no `temporary-<uuid>` checkpoint
    * and starts no `rm -rf` to remove it.
    */
  def runToBatch(spark: SparkSession, stream: DataFrame, outputMode: String,
      statePartitions: Option[Int] = None,
      availableNow: Boolean = false): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    statePartitions.foreach(n => spark.conf.set(key, n.toString))
    try graft.queries.Scratch.using("graft-runtobatch-") { checkpoint =>
      val writer = stream.writeStream.outputMode(outputMode)
        .format("memory").queryName(name).option("checkpointLocation", checkpoint)
      if (availableNow) {
        // Deterministic drain: Trigger.AvailableNow processes every
        // available offset (read limits like maxFilesPerTrigger still
        // honored per batch) and then terminates ITSELF — no
        // `processAllAvailable` race with a trailing no-data flush
        // batch, which on chained stateful queries (outer join → agg)
        // sometimes cost one whole extra drain cycle and made wall
        // time bimodal (measured 12.5 s vs 21.8 s on q235's protocol).
        val q = writer.trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination()
        finally q.stop()
      } else {
        val q = writer.start()
        try q.processAllAvailable()
        finally q.stop()
      }
    } finally spark.conf.set(key, prev)
    // the frame's plan holds the sink itself, not its name
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }

  /** Streaming state width for the stateful `runToBatch` sites: the
    * session conf `graft.statePartitions` when set (the deployment
    * knob — a 100 TB/day stream with a wide key space raises it before
    * the FIRST batch, because state width pins at the first checkpoint
    * and cannot be widened later without a state rebuild), else
    * `default`, the per-query key-cardinality sizing measured in
    * round 12 (stream-stream joins pay 4 store lifecycles per
    * partition per batch; 8 partitions measured 2-3x faster than the
    * corpus-wide 32 at gate scale). Partition count cannot change any
    * declared result — it is layout, not semantics.
    */
  def confStatePartitions(spark: SparkSession, default: Int = 8): Option[Int] =
    Some(spark.conf.get("graft.statePartitions", default.toString).toInt)

  /** File-source stream over one parquet table (schema from one footer, [[Parquet.schema]],
    * as file streams require an explicit schema). Works for both directory
    * tables and single-file tables: for a non-glob path FileStreamSource
    * force-sets `basePath` to the path itself and then requires it to be a
    * directory, so a plain file is rewritten to the `{name}` glob form
    * (same match, but basePath inference falls back to the parent dir).
    */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    val schema = Parquet.schema(spark, path)
    // getAbsoluteFile: a bare relative filename has a null getParent,
    // which would produce a "null/{name}" glob. (Known limitation: Hadoop
    // {} alternation cannot escape commas, so a FILE name containing ','
    // is not streamable this way — directory tables are unaffected.)
    val f = new java.io.File(path.stripPrefix("file:")).getAbsoluteFile
    val streamPath =
      if (f.isFile) s"${f.getParent}/{${f.getName}}" else path
    spark.readStream.schema(schema).parquet(streamPath)
  }

  /** Replays `batches` as a file stream that delivers frame `i` as
    * micro-batch `i`: the feed of every file-fed streaming query.
    *
    * Each frame lands as one parquet file in its own `dir/b<i>.parquet`,
    * and that directory and every file in it get the modification time
    * `1000000 * (i + 1)` ms. FileStreamSource admits files in
    * modification-time order, and `maxFilesPerTrigger = 1` admits one
    * file per trigger, so the frames arrive one per micro-batch in the
    * order given. The times lie in January 1970, yet `maxFileAge` (7 days
    * by default) drops none of them: the source ages a file against the
    * newest file it has seen, not against the clock, and these lie
    * seconds apart.
    *
    * The stream's schema is the first frame's, taken from its plan, so
    * building the stream runs no job beyond the writes (file streams make
    * every field nullable).
    */
  def replayFiles(dir: String, batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "replayFiles needs at least one batch")
    require(!new java.io.File(dir).exists(), s"replay dir $dir already exists")
    batches.zipWithIndex.foreach { case (df, i) =>
      val p = new java.io.File(s"$dir/b$i.parquet")
      df.coalesce(1).write.parquet(p.getPath)
      val mtime = 1000000L * (i + 1)
      p.listFiles().foreach(_.setLastModified(mtime))
      p.setLastModified(mtime)
    }
    batches.head.sparkSession.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*.parquet")
  }

  /** Runs `stream` to the end of its available input with
    * `Trigger.AvailableNow`, calling `fold` on each micro-batch and its
    * batch id, with the stream's offsets checkpointed at `checkpoint`.
    * Returns how many micro-batches `fold` was called on.
    */
  def drain(stream: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): Int = {
    val calls = new AtomicInteger()
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        calls.incrementAndGet()
        fold(b, bid)
      }
      .start()
    try q.awaitTermination()
    finally q.stop()
    calls.get
  }

  /** Tumbling-window counts + exact decimal sums per event type. */
  def windowedEventStats(events: DataFrame, windowDuration: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))

  /** Streaming dedup by key (state-backed `dropDuplicates`) — the
    * streaming analog of the reference's dedup-by-detection_oid with the
    * conditional-write design from design.pdf. For TTL-bounded state use
    * `withWatermark` + `dropDuplicatesWithinWatermark`.
    */
  def dedupByKey(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** Watermarked streaming dedup: state for a key is dropped once the
    * watermark passes `ttl` — bounded state at 100 TB/day event volumes.
    */
  def dedupByKeyWithTtl(events: DataFrame, keys: Seq[String], tsCol: String, ttl: String): DataFrame =
    events.withWatermark(tsCol, ttl).dropDuplicatesWithinWatermark(keys)

  /** Streaming exact-content dedup — the ingestion-time half of corpus
    * dedup (drop resubmitted/crawled-again documents before they ever
    * land). State is keyed on the 32-byte md5 fingerprint of the content
    * columns, NOT the document body, so per-key state stays constant-size
    * at any document length; the watermark TTL bounds state count.
    */
  def dedupByContentWithTtl(
      docs: DataFrame,
      contentCols: Seq[String],
      tsCol: String,
      ttl: String): DataFrame =
    docs
      .withColumn("__fp", graft.operators.Dedup.contentFingerprint(contentCols))
      .withWatermark(tsCol, ttl)
      .dropDuplicatesWithinWatermark(Seq("__fp"))
      .drop("__fp")

  /** Gap-based session windows per key (`session_window` — state merges
    * adjacent events closer than `gap`). Works identically over batch and
    * streaming frames; streaming use needs a watermark on `ts` first.
    */
  def sessionStats(events: DataFrame, keyCol: String, gap: String): DataFrame =
    events
      .groupBy(col(keyCol), session_window(col("ts"), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))

  /** Stream-static broadcast enrich — the design.pdf "cached Dataset B
    * join": each microbatch joins the broadcast static dim map-side, with
    * a default for missing keys; no streaming state involved. Delegates
    * to the batch operator (stream-static left join is directly supported
    * by Structured Streaming).
    */
  def enrichWithStaticDim(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String,
      defaults: Map[String, String] = Map.empty): DataFrame =
    graft.operators.Joins.enrichLeftBroadcast(stream, dim, streamKey, dimKey, defaults)

  /** Interval join: right rows match left rows with equal key and
    * `rightTs` within `[leftTs, leftTs + within]` — the ad-attribution /
    * event-correlation shape (click → purchases in the next hour).
    *
    * Works over batch AND stream-stream: in streaming, callers watermark
    * both sides first (`withWatermark`) — the time-range predicate then
    * lets Spark expire join state once the watermark passes
    * `leftTs + within`, so state stays bounded at any volume. In batch
    * the same plan is an ordinary range-predicated equi-join.
    *
    * The two inputs must have disjoint column names (rename before the
    * call — required anyway for stream-stream self-joins, where Spark
    * cannot disambiguate same-name columns).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      within: String,
      joinType: String = "inner"): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      joinType)

  /** Watermark-delay allowance for chaining a stream-stream OUTER
    * interval join into an event-time aggregation IN THE SAME query
    * under COMPRESSED REPLAY — the replay-safety contract a backlog
    * drain can rely on, made executable.
    *
    * The hazard class: an outer join's null-padded rows emit only at
    * watermark EVICTION, and replaying a backlog of event-time span
    * `replaySpanSec` in a couple of batches advances the watermark by
    * ~the whole span between triggers — on an engine whose downstream
    * late filter does not lag eviction, those rows arrive older than
    * the aggregation's threshold and vanish. Declaring at least this
    * allowance as the SOURCE watermark delay on both join inputs makes
    * the chain safe UNCONDITIONALLY: eviction then cannot begin until
    * the threshold trails the whole backlog. A live stream advances
    * the watermark by seconds per trigger and never needs this; a
    * replay job KNOWS its span (the checkpoint lag it is draining).
    *
    * Round-8 measurement (StreamOpsSpec, three replay protocols): on
    * THIS engine the allowance is conservative — Spark's per-operator
    * watermark propagation lags the late threshold one trigger behind
    * eviction, so the chain is drop-free even at ordinary delays. The
    * round-7 q235 claim that compressed replay drops 20/21 outer
    * windows did not reproduce; the window-losing failure modes are
    * protocol artifacts (in-stream carrier filters pushed into the
    * scans freezing the watermark; fewer than one carrier batch per
    * stateful stage racing the final flush), each pinned separately.
    * Cost of the allowance: join state is retained for the whole
    * replay (state ∝ backlog) — if that is unacceptable, chain the
    * INNER join and aggregate outer telemetry AFTER the drain (q225's
    * shape).
    */
  def outerChainReplayAllowanceSec(
      joinWithinSec: Long,
      replaySpanSec: Long,
      slackSec: Long = 60L): Long =
    joinWithinSec + replaySpanSec + slackSec

  /** Arbitrary stateful processing (`mapGroupsWithState`): per-user
    * running count and exact decimal sum of `value`. The state machine
    * the built-in aggregations can't express is the point here — state is
    * an explicit typed object the caller owns, updated once per key per
    * microbatch (update output mode; batch runs it as one "microbatch",
    * so batch output == final streaming state, which is what the parity
    * spec pins).
    *
    * Accumulation is BigDecimal at scale 6 — order-independent, so
    * stream/batch/partitioning differences can't drift the sum the way
    * naive double accumulation would.
    */
  def userRunningStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserRunningStats](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(0L, BigDecimal(0)))
          var n = prev.n
          var total = prev.total
          rows.foreach { case (_, v) =>
            n += 1
            total += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
          }
          state.update(UserState(n, total))
          UserRunningStats(uid, n, total.toDouble)
      }
      .toDF()
  }

  /** Streaming token-quota ADMISSION (`flatMapGroupsWithState`): each
    * source admits documents in arrival order until its token quota
    * closes — the selection-tier state machine an ingest gate runs,
    * where (unlike [[graft.llm.TokenBudget]]'s batch form) the future
    * cannot be re-ranked: admission order IS arrival order. Strict
    * prefix per source: the first document that would overflow the
    * quota closes the source permanently (state = consumed + closed),
    * so the accumulated admissions across all microbatches equal the
    * batch window cut `cum ≤ quota` over (arrival order) per source —
    * the parity the oracle pins. Within one microbatch a group's
    * iterator order is engine-chosen, so rows are ranked by `doc_id`
    * inside the group before admission (per-source-per-batch volumes
    * are admission-bounded; the sort is in-memory by design).
    *
    * Input: `(source STRING, doc_id LONG, w LONG)`. Output: admitted
    * `(source, doc_id, n_tokens, cum_tokens)`.
    */
  def tokenQuotaAdmission(docs: DataFrame, quota: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(quota >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source").cast("string"), col("doc_id").cast("long"),
        col("w").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[QuotaState, AdmittedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src, rows, state) =>
          val prev = state.getOption.getOrElse(QuotaState(0L, closed = false))
          var consumed = prev.consumed
          var closed = prev.closed
          val out = Seq.newBuilder[AdmittedDoc]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, w) =>
            if (!closed) {
              if (consumed + w <= quota) {
                consumed += w
                out += AdmittedDoc(src, id, w, consumed)
              } else closed = true
            }
          }
          state.update(QuotaState(consumed, closed))
          out.result().iterator
      }
      .toDF()
  }

  /** [[tokenQuotaAdmission]] with per-key STATE TELEMETRY emitted from
    * inside the state machine: alongside each admission (`kind="admit"`)
    * every (source, batch) group invocation emits one `kind="state"`
    * row carrying the rows the key received this batch (`n_input`) and
    * the post-batch state (consumed, closed). This is the streaming
    * gates' skew observability — the batch world has q89's profiler,
    * but a state store is opaque, and a hot key's pressure VANISHES
    * from the admission stream the moment its quota closes (it still
    * hammers the state lookup on every row). A foreachBatch sink
    * splits the kinds and feeds the state rows to [[topKeyMass]];
    * StreamBench's quota mode runs it on a Zipf source distribution
    * and the report names the hot source every batch. Admission rows
    * are IDENTICAL to [[tokenQuotaAdmission]]'s (same state machine,
    * pinned in StreamOpsSpec).
    */
  def tokenQuotaAdmissionWithTelemetry(docs: DataFrame,
      quota: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(quota >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source").cast("string"), col("doc_id").cast("long"),
        col("w").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[QuotaState, QuotaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src, rows, state) =>
          val prev = state.getOption.getOrElse(QuotaState(0L, closed = false))
          var consumed = prev.consumed
          var closed = prev.closed
          var nIn = 0L
          val out = Seq.newBuilder[QuotaOut]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, w) =>
            nIn += 1
            if (!closed) {
              if (consumed + w <= quota) {
                consumed += w
                out += QuotaOut("admit", src, id, w, consumed, 0L, 0L,
                  closed = false)
              } else closed = true
            }
          }
          state.update(QuotaState(consumed, closed))
          out += QuotaOut("state", src, -1L, 0L, 0L, nIn, consumed, closed)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-batch top-K key mass — call from a foreachBatch side channel
    * on any keyed batch frame (a gate's telemetry rows, a dedup input)
    * to make state-key skew observable. Returns the K heaviest keys by
    * `massCol` (row count when None) with their row counts.
    */
  def topKeyMass(batch: DataFrame, keyCols: Seq[String], k: Int,
      massCol: Option[String] = None): DataFrame = {
    val mass = massCol.map(m => sum(col(m))).getOrElse(count(lit(1)))
    batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), mass.cast("long").as("mass"))
      .orderBy(col("mass").desc +: keyCols.map(col): _*)
      .limit(k)
  }

  /** The same running-stats state machine on Spark 4's
    * `transformWithState` API: a [[RunningStatsProcessor]] owning a typed
    * `ValueState` slot instead of the single opaque `GroupState` object.
    * The processor model is what the older API can't express — multiple
    * independently-TTL'd state variables per key, timers decoupled from
    * state, schema evolution of state values — and it requires the
    * RocksDB state store provider (wrap the run in
    * [[withRocksDbStateStore]]), which is also the provider that bounds
    * executor memory at 100 TB state: RocksDB spills keyed state to local
    * disk instead of pinning it on-heap.
    */
  def userRunningStatsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Last-k recent events per user on `transformWithState` `ListState`
    * (see [[RecentEventsProcessor]]); update-mode emission, latest row
    * per key = current buffer. Requires [[withRocksDbStateStore]].
    */
  def recentEventsTws(events: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    // a raw file stream of the corpus delivers ts as BIGINT nanos
    // (nanosAsLong); shared floor-division conversion with Tables.events
    val tsUs = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        graft.Tables.nanosToMicrosExpr("ts")
      // native-NTZ readers deliver TIMESTAMP_NTZ, which unix_micros
      // refuses — reinterpret in the (UTC) session zone first
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    events.select(col("user_id").cast("long"),
        tsUs, col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentEventsProcessor(k),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Per-user running event-type counts on `transformWithState`
    * `MapState` (see [[EventTypeCountsProcessor]]). Requires
    * [[withRocksDbStateStore]].
    */
  def eventTypeCountsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new EventTypeCountsProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Scope the RocksDB state store provider (required by
    * `transformWithState`) to `body`, restoring the previous provider
    * after — streaming confs are read at query START, so the conf only
    * needs to hold while the query inside `body` starts and runs. A key
    * that was unset before is unset again (`getOption` would return
    * Spark's default and pin it as an explicit setting).
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Gap-merge of one key's open session (if any) with one batch of event
    * times: returns (sessions this batch closes, the still-open last
    * session). Pure, and shared by BOTH sessionizers (the fmgws operator
    * and [[SessionizeProcessor]]) so the two state machines cannot drift.
    *
    * Treating the inputs as intervals and merging by gap-adjacency also
    * handles cross-batch out-of-order arrivals that a simple
    * ascending-time fold gets wrong: a late event within `gap` BEFORE the
    * open session's start merges in and LOWERS the start; one further out
    * becomes its own session and closes immediately (best-effort — with
    * bounded state nothing later can reopen it, and events below the
    * watermark were already dropped upstream).
    */
  private[streaming] def sessionFold(
      prev: Option[OpenSession],
      tsSorted: Array[Long],
      gapMicros: Long): (Seq[OpenSession], Option[OpenSession]) = {
    val items = (prev.toSeq ++ tsSorted.map(t => OpenSession(t, t, 1)))
      .sortBy(s => (s.startUs, s.endUs))
    if (items.isEmpty) (Nil, None)
    else {
      val closed = Seq.newBuilder[OpenSession]
      var cur = items.head
      items.tail.foreach { s =>
        if (s.startUs <= cur.endUs + gapMicros)
          cur = OpenSession(cur.startUs, math.max(cur.endUs, s.endUs), cur.n + s.n)
        else {
          closed += cur
          cur = s
        }
      }
      (closed.result(), Some(cur))
    }
  }

  /** Gap sessionization with EXPLICIT state + event-time timeout
    * (`flatMapGroupsWithState` + `GroupStateTimeout.EventTimeTimeout`):
    * a session closes either inside a batch (next event further than
    * `gap` away) or when the WATERMARK passes `session end + gap` — the
    * timeout fires on the no-data microbatch Spark schedules for exactly
    * this, so closed sessions emit without waiting for the key's next
    * event. This is the state machine `session_window` can't express
    * variants of (per-session side effects, custom merge/expiry rules);
    * here it reproduces session_window semantics so the spec can pin it
    * against the built-in.
    *
    * Input needs a watermark on `tsCol` before calling. Event times
    * handled as epoch micros end-to-end (no timestamp-encoder lossiness).
    */
  def sessionizeWithTimeout(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      gap: String): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapUs.months == 0 && gapUs.days == 0, "gap must be sub-day")
    val gapMicros = gapUs.microseconds
    val spark = events.sparkSession
    import spark.implicits._
    events
      // the watermark-carrying timestamp attribute must survive UNALIASED
      // into the grouped Dataset: event-time timeout is rejected without
      // it, and even a same-type cast mints a new attribute without the
      // watermark tag. The lambda only reads the micros column.
      .select(col(keyCol).cast("long"), col(tsCol), unix_micros(col(tsCol)))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.startUs, s.endUs, s.n))
          } else {
            val sorted = rows.map(_._3).toArray.sorted
            val (closedSessions, open) =
              sessionFold(state.getOption, sorted, gapMicros)
            open.foreach { s =>
              state.update(s)
              // fire once the watermark proves no event can extend it
              state.setTimeoutTimestamp((s.endUs + gapMicros) / 1000L)
            }
            closedSessions
              .map(s => ClosedSession(uid, s.startUs, s.endUs, s.n)).iterator
          }
      }
  }

  /** The sessionization state machine on `transformWithState` with
    * EVENT-TIME TIMERS: where [[sessionizeWithTimeout]] rides
    * `GroupStateTimeout.EventTimeTimeout` (one implicit timeout per key),
    * the processor registers explicit timers decoupled from the state
    * value — the TWS model allows many timers per key, so stale ones
    * (session extended after registration) are ignored by comparing the
    * fired expiry against the session's current expiry. Requires the
    * RocksDB state store ([[withRocksDbStateStore]]) and a watermark on
    * `tsCol` before the call, like the old-API operator.
    */
  def sessionizeWithTimeoutTws(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      gap: String): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapUs.months == 0 && gapUs.days == 0, "gap must be sub-day")
    val spark = events.sparkSession
    import spark.implicits._
    events
      // same watermark-attribute caveat as sessionizeWithTimeout: the
      // event-time column must reach the grouped Dataset unaliased
      .select(col(keyCol).cast("long"), col(tsCol), unix_micros(col(tsCol)))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionizeProcessor(gapUs.microseconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-microbatch top-items ranking via foreachBatch — the design.pdf
    * top-K component. Ranking (window + filter) isn't directly available
    * on an unaggregated stream, so each microbatch runs the full batch
    * TOP_ITEMS aggregation and hands the result to `sink`.
    */
  def topItemsForEachBatch(
      stream: DataFrame,
      dataB: DataFrame,
      topX: Int)(sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.ReferenceAggregations.topItems(
          batch, dataB, Map[String, Any]("topX" -> topX)), batchId)
      }
      .start()
}
