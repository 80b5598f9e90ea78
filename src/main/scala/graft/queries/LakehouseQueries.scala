package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.Tables
import graft.functions.TextFunctions
import graft.llm.{DatasetSplit, SequencePack}
import graft.operators.{Anomaly, BloomJoin, ChangeCapture, Runs, Stats}

/** Lakehouse change management + training-set assembly tier: CDC
  * snapshot diff, MERGE upsert, deterministic dataset splits, sequence
  * packing, rolling anomaly flags, run-collapse (SCD-2), and
  * Bloom-prefiltered joins. The reference recomputes everything from
  * full inputs on every run; this tier is the incremental/maintenance
  * story a maintained 100 TB corpus needs. All DuckDB-oracle-checked;
  * change inputs are synthesized deterministically from the corpus
  * tables so both engines construct bit-identical scenarios.
  */
object LakehouseQueries {

  val queries: Map[String, Q] = Map(

    // CDC extract: diff two snapshots of orders. The "old" snapshot
    // drops keys ≡0 (mod 7) (those become inserts), the "new" drops
    // keys ≡0 (mod 5) (deletes) and bumps the price on keys ≡0 (mod 3)
    // (updates); everything else is unchanged and must NOT appear.
    // Row-level output with sentinel -1 for the absent side (final
    // projection stays scalar and non-null — nullable sort keys order
    // differently across engines).
    "q112_snapshot_diff" -> Q(
      (s, d) => {
        val ords = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        val oldSnap = ords.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        val newSnap = ords.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(3)) === 0,
              col("o_totalprice") + 100).otherwise(col("o_totalprice")))
        ChangeCapture.diff(oldSnap, newSnap,
            keys = Seq("o_orderkey"), compareCols = Seq("o_totalprice"))
          .select(col("o_orderkey"), col("change"),
            coalesce(col("old_o_totalprice"), lit(-1.0)).as("old_price"),
            coalesce(col("new_o_totalprice"), lit(-1.0)).as("new_price"))
          .orderBy("o_orderkey")
      },
      Some("""WITH old AS (
             |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
             |new AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100
             |         ELSE o_totalprice END AS o_totalprice
             |  FROM orders WHERE o_orderkey % 5 <> 0)
             |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
             |       WHEN n.o_orderkey IS NULL THEN 'delete'
             |       ELSE 'update' END AS change,
             |  coalesce(o.o_totalprice, -1) AS old_price,
             |  coalesce(n.o_totalprice, -1) AS new_price
             |FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
             |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
             |   OR o.o_totalprice <> n.o_totalprice
             |ORDER BY o_orderkey""".stripMargin)),

    // CDC apply: MERGE a synthesized changeset into customer — updates
    // (keys ≡0 mod 4, +1000 balance), deletes (keys ≡0 mod 9; wins over
    // update so ops stay one-per-key), inserts (fresh keys +1_000_000
    // in a new segment). Result summarized per segment; the oracle
    // replays the merge relationally. Balance sums go through DECIMAL
    // (exact, order-independent).
    "q113_merge_upsert" -> Q(
      (s, d) => {
        val cust = Tables.customer(s, d)
        val upd = cust
          .filter(pmod(col("c_custkey"), lit(4)) === 0 &&
            pmod(col("c_custkey"), lit(9)) =!= 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
          .withColumn("op", lit("U"))
        val del = cust.filter(pmod(col("c_custkey"), lit(9)) === 0)
          .withColumn("op", lit("D"))
        val ins = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(
            (col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("NEW#"), col("c_custkey").cast("string")).as("c_name"),
            col("c_nationkey"),
            lit(100.0).as("c_acctbal"),
            lit("NEWSEG").as("c_mktsegment"),
            lit("I").as("op"))
        val changes = upd.unionByName(del).unionByName(ins)
        ChangeCapture.merge(cust, changes, keys = Seq("c_custkey"), opCol = "op")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            Stats.decimalSum(col("c_acctbal")).as("sum_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH merged AS (
             |  SELECT c_mktsegment,
             |    CASE WHEN c_custkey % 4 = 0 AND c_custkey % 9 <> 0
             |         THEN c_acctbal + 1000 ELSE c_acctbal END AS bal
             |  FROM customer WHERE c_custkey % 9 <> 0
             |  UNION ALL
             |  SELECT 'NEWSEG' AS c_mktsegment, 100.0 AS bal
             |  FROM customer WHERE c_custkey % 10 = 0)
             |SELECT c_mktsegment, count(*) AS n_rows,
             |  CAST(sum(CAST(bal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
             |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Deterministic train/val/test split: md5-bucketed assignment that
    // is stable under repartitioning and appends (the property that
    // keeps eval sets uncontaminated as a corpus grows). DuckDB replays
    // the bucket arithmetic exactly ('0x'-cast ↔ conv base 16).
    "q114_hash_split" -> Q(
      (s, d) => DatasetSplit.assign(
          Tables.documents(s, d), idCol = "doc_id", salt = "graft",
          splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split"),
      Some("""WITH b AS (SELECT n_chars,
             |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
             |         AS INT) AS bucket
             |  FROM documents)
             |SELECT CASE WHEN bucket < 205 THEN 'train'
             |            WHEN bucket < 230 THEN 'val'
             |            ELSE 'test' END AS split,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM b GROUP BY split ORDER BY split""".stripMargin)),

    // Sequence packing (concat-and-split): docs laid out per source in
    // doc_id order, prefix-summed whitespace token counts, pack =
    // floor(startToken / budget); straddlers counted per pack. One
    // window shuffle per group key — the parallel form trainers use.
    "q115_sequence_pack" -> Q(
      (s, d) => SequencePack.packs(
          Tables.documents(s, d)
            .withColumn("toks", TextFunctions.tokenCount(col("text"))),
          groupCol = "source", orderCol = "doc_id", tokensCol = "toks",
          budget = 512L)
        .orderBy("source", "pack_id"),
      Some("""WITH t AS (SELECT source, doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
             |  FROM documents),
             |c AS (SELECT source, toks,
             |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum
             |  FROM t)
             |SELECT source, CAST((cum - toks) // 512 AS BIGINT) AS pack_id,
             |  count(*) AS n_docs,
             |  CAST(sum(toks) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN toks > 0 AND (cum - 1) // 512 != (cum - toks) // 512
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
             |FROM c GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin)),

    // Rolling z-score anomaly flags over per-user event sequences,
    // evaluated in exact integer arithmetic ((n·x−S)² > τ²(nQ−S²)) so
    // the flags are bit-deterministic across engines and reruns. Only
    // rows with a full 8-event trailing baseline are scored.
    "q116_rolling_anomaly" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("v", pmod(col("event_id"), lit(97)).cast("long"))
        Anomaly.flag(ev, keyCol = "user_id",
            orderCols = Seq("ts", "event_id"), valueCol = "v",
            lookback = 8, tau = 3)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("n_base") === 8, 1L).otherwise(0L)).as("n_scored"),
            sum(col("is_anomaly")).as("n_anomalies"))
          .orderBy("event_type")
      },
      Some("""WITH base AS (
             |  SELECT event_type, user_id, ts, event_id, event_id % 97 AS v
             |  FROM events),
             |w AS (SELECT event_type, v,
             |    sum(v) OVER win AS s, sum(v*v) OVER win AS q,
             |    count(v) OVER win AS n
             |  FROM base
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN n = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
             |  CAST(sum(CASE WHEN n = 8
             |       AND (n*v - s)*(n*v - s) > 9*(n*q - s*s)
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
             |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bloom-prefiltered exact semi-join: lineitem probed against
    // high-value orders (~20% selective). The Bloom prefilter drops
    // non-matching fact rows before the shuffle; the exact semi-join
    // removes false positives, so the result equals the plain semi-join
    // (which is exactly what the oracle runs).
    "q117_bloom_join" -> Q(
      (s, d) => BloomJoin.semiJoin(
          Tables.lineitem(s, d), largeKey = "l_orderkey",
          Tables.orders(s, d).filter(col("o_totalprice") > 400000),
          smallKey = "o_orderkey",
          expectedItems = 40000L, fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          Stats.decimalSum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey IN (
             |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Run-collapse (SCD-2 build / islands): consecutive same-type event
    // runs per user become versions; per-user version counts and the
    // longest run. The islands half of gaps-and-islands (q34's
    // sessionizer is the gaps half).
    "q118_scd2_runs" -> Q(
      (s, d) => Runs.collapse(Tables.events(s, d), keyCol = "user_id",
          orderCols = Seq("ts", "event_id"), valueCol = "event_type")
        .groupBy("user_id")
        .agg(max(col("version")).as("n_versions"),
          max(col("n_rows")).as("max_run"),
          sum(col("n_rows")).as("n_events"))
        .orderBy("user_id"),
      Some("""WITH marked AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN row_number() OVER win = 1 THEN 1
             |         WHEN event_type IS DISTINCT FROM lag(event_type) OVER win
             |         THEN 1 ELSE 0 END AS chg
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |runs AS (
             |  SELECT user_id,
             |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS version
             |  FROM marked),
             |r AS (SELECT user_id, version, count(*) AS n_rows
             |      FROM runs GROUP BY user_id, version)
             |SELECT user_id,
             |  CAST(max(version) AS BIGINT) AS n_versions,
             |  CAST(max(n_rows) AS BIGINT) AS max_run,
             |  CAST(sum(n_rows) AS BIGINT) AS n_events
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Markov transition mining: per-user event-type bigrams (lead over
    // the time order), transition counts, top-3 destinations per source
    // state — the path-analysis primitive product analytics builds on
    // (q101's funnel checks ONE fixed path; this surfaces the paths).
    "q119_event_transitions" -> Q(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = Tables.events(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val rw = Window.partitionBy("from_type")
          .orderBy(col("n").desc, col("to_type"))
        pairs.withColumn("rnk", row_number().over(rw).cast("long"))
          .filter(col("rnk") <= 3)
          .orderBy("from_type", "rnk")
      },
      Some("""WITH nxt AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS to_type
             |  FROM events),
             |cnt AS (SELECT from_type, to_type, count(*) AS n
             |        FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |rk AS (SELECT from_type, to_type, n,
             |    row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type)
             |      AS rnk
             |  FROM cnt)
             |SELECT from_type, to_type, n, CAST(rnk AS BIGINT) AS rnk
             |FROM rk WHERE rnk <= 3 ORDER BY from_type, rnk""".stripMargin)),

    // Winsorization: per-group p95 cap (exact interpolated percentile,
    // the q36-proven parity pair percentile ↔ quantile_cont), clipped
    // DECIMAL sums and clip counts — the outlier-capping step of a
    // feature/quality pipeline. The percentile table is broadcast back
    // onto the facts (tiny by construction: one row per group).
    "q120_winsorize" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val p = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, 0.95)").as("p95"))
        li.join(broadcast(p), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(
            max(col("p95")).as("p95"),
            count(when(col("l_extendedprice") > col("p95"), 1)).as("n_clipped"),
            Stats.decimalSum(least(col("l_extendedprice"), col("p95")))
              .as("sum_winsorized"))
          .orderBy("l_returnflag")
      },
      Some("""WITH p AS (SELECT l_returnflag,
             |    quantile_cont(l_extendedprice, 0.95) AS p95
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, max(p.p95) AS p95,
             |  CAST(sum(CASE WHEN l_extendedprice > p.p95 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clipped,
             |  CAST(sum(CAST(least(l_extendedprice, p.p95) AS DECIMAL(38,4)))
             |    AS DOUBLE) AS sum_winsorized
             |FROM lineitem l JOIN p USING (l_returnflag)
             |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // Exponential-decay score (EWMA, α=1/2, 16-term horizon) per event:
    // dyadic weights keep it EXACT — terms are summed as scaled
    // integers (weight 2^(15-k) for the k-th most recent value) and
    // divided by 2^16 once, a single exact IEEE operation. Distance-
    // dependent weights aren't a plain windowed sum, so the 16 lag
    // terms share one window node.
    "q121_decay_score" -> Q(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val terms = (0 until 16).map { k =>
          val wt = lit(1L << (15 - k))
          if (k == 0) col("v") * wt
          else coalesce(lag(col("v"), k).over(w), lit(0L)) * wt
        }
        Tables.events(s, d)
          .withColumn("v", pmod(col("event_id"), lit(97)))
          .withColumn("ss", terms.reduce(_ + _))
          .select(col("event_id"), (col("ss") / 65536.0).as("decay_score"))
          .orderBy("event_id")
      },
      Some {
        val terms = (0 until 16).map { k =>
          if (k == 0) s"v * ${1L << 15}"
          else s"coalesce(lag(v, $k) OVER win, 0) * ${1L << (15 - k)}"
        }.mkString("\n  + ")
        s"""WITH b AS (SELECT event_id, user_id, ts, event_id % 97 AS v
           |  FROM events),
           |l AS (SELECT event_id, ($terms) AS ss
           |  FROM b WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT event_id, ss / 65536.0 AS decay_score
           |FROM l ORDER BY event_id""".stripMargin
      }),

    // Streaming MERGE sink through the REAL streaming engine: the
    // events file stream is the change feed; each microbatch is
    // aggregated to per-user counts, turned into U (count ≥ 60) or D
    // ops, and MERGEd into a versioned copy-on-write parquet target
    // (StreamMerge — the foreachBatch upsert pattern table formats
    // build in, idempotent per batchId). Bounded input in one
    // microbatch → the final snapshot is deterministic, and the oracle
    // rebuilds it relationally.
    "q122_stream_merge" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val dir = graft.queries.Scratch.dir("graft-q122-merge")
        val targetInit = Tables.events(s, d)
          .filter(col("user_id") < 50).select(col("user_id")).distinct()
          .withColumn("n_seen", lit(-1L))
        val changes = graft.streaming.StreamOps
          .readStream(s, Tables.path(d, "events"))
        graft.streaming.StreamMerge.run(s, changes, targetInit,
            keys = Seq("user_id"), opCol = "op", dir = dir,
            prepare = b => b.groupBy("user_id")
              .agg(count(lit(1)).as("n_seen"))
              .withColumn("op",
                when(col("n_seen") >= 60, "U").otherwise("D")))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_seen
             |FROM events GROUP BY user_id HAVING count(*) >= 60
             |ORDER BY user_id""".stripMargin)),

    // Format round-trip: the same slice of events written and re-read
    // through every built-in columnar/text format the engine serves
    // (CSV+gzip with explicit schema, JSON lines, ORC), then aggregated
    // per format. The oracle is the DIRECT aggregate over the parquet
    // source repeated per format row — i.e. the query only matches if
    // every round-trip is bit-exact (Java's shortest-decimal double
    // rendering round-trips exactly in CSV/JSON; ORC is binary).
    "q123_format_roundtrip" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q123-fmt")
        val ev = Tables.events(s, d)
          .select("event_id", "event_type", "value")
        val formats = Seq(
          ("csv", Map("header" -> "true", "compression" -> "gzip")),
          ("json", Map.empty[String, String]),
          ("orc", Map.empty[String, String]))
        formats.map { case (f, opts) =>
          val path = s"$dir/$f"
          ev.write.options(opts).format(f).mode("overwrite").save(path)
          s.read.options(opts).schema(ev.schema).format(f).load(path)
            .withColumn("fmt", lit(f))
        }.reduce(_ unionByName _)
          .groupBy("fmt")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("sum_id"),
            Stats.decimalSum(col("value")).as("sum_value"))
          .orderBy("fmt")
      },
      Some("""WITH a AS (SELECT count(*) AS n_rows,
             |    CAST(sum(event_id) AS BIGINT) AS sum_id,
             |    CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
             |  FROM events)
             |SELECT v.fmt, a.n_rows, a.sum_id, a.sum_value
             |FROM a, (VALUES ('csv'), ('json'), ('orc')) v(fmt)
             |ORDER BY v.fmt""".stripMargin)),

    // Chi-square independence contributions for event_type × user
    // segment: per-cell observed, expected = row·col/total, and
    // (o−e)²/e — the drift/association test a data-quality monitor
    // runs. Marginals come from window sums over the AGGREGATED cell
    // table (|types|×|segments| rows — tiny regardless of corpus
    // size, so the unpartitioned window is scale-safe). Every double
    // op is one exact-rounded IEEE step in the same sequence on both
    // engines (integer marginals ≤ 2^53), so contributions are
    // bit-identical.
    "q124_chi_square" -> Q(
      (s, d) => {
        val cells = Tables.events(s, d)
          .withColumn("seg", pmod(col("user_id"), lit(5)))
          .groupBy("event_type", "seg")
          .agg(count(lit(1)).as("o"))
        val e = (col("r") * col("c")) / col("n")
        cells
          .withColumn("r", sum(col("o")).over(Window.partitionBy("event_type")))
          .withColumn("c", sum(col("o")).over(Window.partitionBy("seg")))
          .withColumn("n", sum(col("o")).over(Window.partitionBy()))
          .withColumn("expected", e)
          .select(col("event_type"), col("seg"), col("o"),
            col("expected"),
            (((col("o") - col("expected")) * (col("o") - col("expected")))
              / col("expected")).as("contrib"))
          .orderBy("event_type", "seg")
      },
      Some("""WITH cells AS (SELECT event_type, user_id % 5 AS seg, count(*) AS o
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, seg, o,
             |    sum(o) OVER (PARTITION BY event_type) AS r,
             |    sum(o) OVER (PARTITION BY seg) AS c,
             |    sum(o) OVER () AS n
             |  FROM cells)
             |SELECT event_type, CAST(seg AS BIGINT) AS seg,
             |  CAST(o AS BIGINT) AS o,
             |  (r * c) / n AS expected,
             |  ((o - (r * c) / n) * (o - (r * c) / n)) / ((r * c) / n)
             |    AS contrib
             |FROM t ORDER BY event_type, seg""".stripMargin)),

    // Tumbling-window stats through the REAL streaming engine in
    // complete mode (q25 is the batch twin of the same operator): the
    // bounded file stream lands in one microbatch, complete mode emits
    // every window's final aggregate, and the oracle replays the
    // date_trunc arithmetic relationally. Third streaming-engine oracle
    // row (q103 append-mode join, q104 update-mode TWS, this one
    // complete-mode windowed aggregation — all three output modes).
    "q125_stream_windowed_stats" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = Tables.normalizeTs(graft.streaming.StreamOps
          .readStream(s, Tables.path(d, "events")))
        // state width sized to key cardinality (window × event_type),
        // conf-overridable (see confStatePartitions) — not the
        // corpus-wide shuffle width
        graft.streaming.StreamOps.runToBatch(s,
            graft.streaming.StreamOps.windowedEventStats(raw, "1 hour"),
            "complete",
            statePartitions =
              graft.streaming.StreamOps.confStatePartitions(s))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("hour_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("hour_start", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             |    AS hour_start,
             |  event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    // The assembly line end-to-end (q53's lakehouse twin): a corpus v2
    // arrives as a CDC diff against v1 (inserts = keys ≡0 mod 7 absent
    // from v1, updates = revised text on keys ≡0 mod 11), is MERGEd
    // into the maintained table, hash-split into train/val/test, and
    // the train/val/test corpora are packed into 512-token context
    // windows per (split, source). Output: one row per split with
    // corpus, change, and packing stats — every stage replayed
    // relationally by the oracle, so the hash only matches if diff,
    // merge, split, and packing are ALL exact.
    "q126_assembly_pipeline" -> Q(
      (s, d) => {
        val docsAll = Tables.documents(s, d)
        val valueCols = Seq("text", "lang", "source", "n_chars")
        val oldSnap = docsAll.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val newSnap = docsAll.withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        val diffed = ChangeCapture.diff(oldSnap, newSnap,
          keys = Seq("doc_id"), compareCols = valueCols)
        val changes = diffed.select(
          (col("doc_id") +: valueCols.map(c => col(s"new_$c").as(c))) :+
            when(col("change") === "insert", "I")
              .when(col("change") === "delete", "D")
              .otherwise("U").as("op"): _*)
        val merged = ChangeCapture.merge(oldSnap, changes,
          keys = Seq("doc_id"), opCol = "op")
        val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
        val withSplit = DatasetSplit.assign(merged, "doc_id", "corpus-v2", splits)
        val corpusStats = withSplit.groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        val changeStats = DatasetSplit.assign(changes, "doc_id", "corpus-v2", splits)
          .groupBy("split")
          .agg(
            sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserted"),
            sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"))
        val packStats = SequencePack.packs(
            withSplit
              .withColumn("grp", concat_ws("/", col("split"), col("source")))
              .withColumn("toks", TextFunctions.tokenCount(col("text"))),
            groupCol = "grp", orderCol = "doc_id", tokensCol = "toks",
            budget = 512L)
          .withColumn("split", split_part(col("grp"), lit("/"), lit(1)))
          .groupBy("split")
          .agg(count(lit(1)).as("n_packs"),
            sum(col("n_straddlers")).as("n_straddlers"))
        corpusStats
          .join(packStats, Seq("split"))
          .join(changeStats, Seq("split"), "left")
          .select(col("split"), col("n_docs"), col("sum_chars"),
            coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
            coalesce(col("n_updated"), lit(0L)).as("n_updated"),
            col("n_packs"), col("n_straddlers"))
          .orderBy("split")
      },
      Some("""WITH newsnap AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
             |         ELSE text END AS text,
             |    source, n_chars
             |  FROM documents),
             |sp AS (SELECT *,
             |    CASE WHEN CAST('0x' || substr(md5('corpus-v2:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 205 THEN 'train'
             |         WHEN CAST('0x' || substr(md5('corpus-v2:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 230 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM newsnap),
             |cs AS (SELECT split, count(*) AS n_docs,
             |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |       FROM sp GROUP BY 1),
             |chg AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN 'I' ELSE 'U' END AS op
             |  FROM documents WHERE doc_id % 7 = 0 OR doc_id % 11 = 0),
             |chgsp AS (SELECT op,
             |    CASE WHEN CAST('0x' || substr(md5('corpus-v2:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 205 THEN 'train'
             |         WHEN CAST('0x' || substr(md5('corpus-v2:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 230 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM chg),
             |cstat AS (SELECT split,
             |    CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_inserted,
             |    CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_updated
             |  FROM chgsp GROUP BY 1),
             |tok AS (SELECT split, source, doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
             |  FROM sp),
             |cum AS (SELECT split, source, toks,
             |    sum(toks) OVER (PARTITION BY split, source ORDER BY doc_id) AS cum
             |  FROM tok),
             |pk AS (SELECT split, source,
             |    CAST((cum - toks) // 512 AS BIGINT) AS pack_id,
             |    CASE WHEN toks > 0 AND (cum - 1) // 512 != (cum - toks) // 512
             |         THEN 1 ELSE 0 END AS straddle
             |  FROM cum),
             |packs AS (SELECT split, source, pack_id, sum(straddle) AS f
             |          FROM pk GROUP BY 1, 2, 3),
             |pstat AS (SELECT split, count(*) AS n_packs,
             |            CAST(sum(f) AS BIGINT) AS n_straddlers
             |          FROM packs GROUP BY 1)
             |SELECT cs.split, cs.n_docs, cs.sum_chars,
             |  coalesce(cstat.n_inserted, 0) AS n_inserted,
             |  coalesce(cstat.n_updated, 0) AS n_updated,
             |  pstat.n_packs, pstat.n_straddlers
             |FROM cs JOIN pstat USING (split) LEFT JOIN cstat USING (split)
             |ORDER BY cs.split""".stripMargin)),

    // Contrastive training triples: (anchor, positive, negative) pairs
    // for embedding training — positives are the corpus's verified
    // near-dup pairs (the q23 exact-Jaccard machinery), negatives are
    // deterministic hash partners ((a·1009 + b·31) mod 500; ids 0-499
    // exist at every corpus scale), self-collisions dropped, and the
    // negative joined back to the corpus for its features. The shape a
    // hard-negative miner would extend with ANN candidates (q24/q41).
    "q127_contrastive_triples" -> Q(
      (s, d) => {
        val dd = Tables.documents(s, d)
        graft.llm.NGramJaccard
          .similarPairs(dd, "doc_id", "text", n = 3, threshold = 0.5)
          .withColumn("neg_id",
            pmod(col("id_a") * 1009 + col("id_b") * 31, lit(500)))
          .filter(col("neg_id") =!= col("id_a") &&
            col("neg_id") =!= col("id_b"))
          .join(dd.select(col("doc_id").as("neg_id"),
            col("n_chars").as("neg_chars")), Seq("neg_id"))
          .select("id_a", "id_b", "neg_id", "jaccard", "neg_chars")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${LlmQueries.jaccardPairsCtesFrom("documents")},
              |pr AS (SELECT id_a, id_b, jaccard FROM sc WHERE jaccard >= 0.5),
              |trip AS (SELECT id_a, id_b,
              |    (id_a * 1009 + id_b * 31) % 500 AS neg_id, jaccard
              |  FROM pr
              |  WHERE (id_a * 1009 + id_b * 31) % 500 <> id_a
              |    AND (id_a * 1009 + id_b * 31) % 500 <> id_b)
              |SELECT t.id_a, t.id_b, t.neg_id, t.jaccard,
              |  d.n_chars AS neg_chars
              |FROM trip t JOIN documents d ON d.doc_id = t.neg_id
              |ORDER BY t.id_a, t.id_b""".stripMargin)),

    // Partition-pruned streaming MERGE (q122's scale path): the target
    // is ONE bucketed parquet table; the batch reads and rewrites only
    // the buckets its changeset touches (partition-pruned scan +
    // dynamic partition overwrite), including removal of fully-deleted
    // buckets. Write amplification scales with touched data, not table
    // size. Threshold 70 so both U and D paths fire at every sf.
    "q128_stream_merge_partitioned" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val dir = graft.queries.Scratch.dir("graft-q128-pmerge")
        val targetInit = Tables.events(s, d)
          .filter(col("user_id") < 50).select(col("user_id")).distinct()
          .withColumn("n_seen", lit(-1L))
        val changes = graft.streaming.StreamOps
          .readStream(s, Tables.path(d, "events"))
        graft.streaming.StreamMerge.runPartitioned(s, changes, targetInit,
            key = "user_id", opCol = "op", dir = dir, numBuckets = 16,
            prepare = b => b.groupBy("user_id")
              .agg(count(lit(1)).as("n_seen"))
              .withColumn("op",
                when(col("n_seen") >= 70, "U").otherwise("D")))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_seen
             |FROM events GROUP BY user_id HAVING count(*) >= 70
             |ORDER BY user_id""".stripMargin)),

    // Pipeline observability: df.observe() metrics (the Observation
    // API) collected DURING a filter pass — rows in, rows that satisfy
    // the gate, rows actually kept. The n_pass == n_kept equality is
    // the invariant an instrumented pipeline alarms on; metrics ride
    // the existing job (no second scan), and the oracle recomputes all
    // three relationally.
    "q129_observed_metrics" -> Q(
      (s, d) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation("q129")
        val gated = Tables.documents(s, d)
          .observe(obs,
            count(lit(1)).as("n_in"),
            sum(when(col("n_chars") >= 100, 1L).otherwise(0L)).as("n_pass"))
          .filter(col("n_chars") >= 100)
        val kept = gated.count() // the action that materializes the metrics
        val m = obs.get
        Seq((m("n_in").asInstanceOf[Long],
            m("n_pass").asInstanceOf[Long], kept))
          .toDF("n_in", "n_pass", "n_kept")
      },
      Some("""SELECT count(*) AS n_in,
             |  CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_pass,
             |  CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept
             |FROM documents""".stripMargin)),

    // Parquet schema evolution: two generations of the same table (the
    // newer adds a column) read together with mergeSchema — old files'
    // missing column nulls in, and the engine aggregates across both
    // generations. The lakehouse reality every long-lived table hits.
    "q130_schema_evolution" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q130-evo")
        val ev = Tables.events(s, d)
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select("event_id", "user_id")
          .write.mode("overwrite").parquet(s"$dir/gen1")
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0)
          .select("event_id", "user_id", "event_type")
          .write.mode("overwrite").parquet(s"$dir/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$dir/gen1", s"$dir/gen2")
          .groupBy(coalesce(col("event_type"), lit("<missing>"))
            .as("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"))
          .orderBy("event_type")
      },
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN '<missing>'
             |            ELSE event_type END AS event_type,
             |  count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS sum_user
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Persisted-sketch index: per-source HLL sketches built on the
    // first half of the corpus and PERSISTED, then the second half
    // arrives as a batch — cardinality maintenance is sketch-build on
    // the new batch + register-wise union with the stored sketches, no
    // rescan of history (the persisted-index pattern applied to
    // aggregate state; Spark 4 Datasketches HLL functions). The pin:
    // a merged-from-parts estimate is REGISTER-IDENTICAL to a
    // full-corpus single-pass sketch (HLL union = per-register max),
    // asserted per source and exported as a column; exact distincts
    // ride along for the oracle.
    "q131_sketch_index" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q131-skidx")
        val dd = Tables.documents(s, d)
        dd.filter(col("doc_id") < 250)
          .groupBy("source")
          .agg(expr("hll_sketch_agg(text)").as("sk"))
          .write.mode("overwrite").parquet(s"$dir/sketches")
        val newBatch = dd.filter(col("doc_id") >= 250)
          .groupBy("source")
          .agg(expr("hll_sketch_agg(text)").as("sk"))
        val merged = Parquet.read(s, s"$dir/sketches")
          .unionByName(newBatch)
          .groupBy("source")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
        val full = dd.groupBy("source")
          .agg(
            expr("hll_sketch_estimate(hll_sketch_agg(text))").as("est_full"),
            count_distinct(col("text")).as("n_exact"))
        merged.join(full, Seq("source"))
          .select(col("source"), col("n_exact"),
            when(col("est_merged") === col("est_full"), 1L).otherwise(0L)
              .as("merged_eq_full"))
          .orderBy("source")
      },
      Some("""SELECT source, count(DISTINCT text) AS n_exact,
             |  CAST(1 AS BIGINT) AS merged_eq_full
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Persisted Bloom blocklist decontamination: the benchmark slice
    // (doc_id < 100) is summarized ONCE into a persisted Bloom bitmap +
    // exact hash list; the ingest batch (doc_id ≥ 100) probes the
    // bitmap per shingle and only Bloom-flagged docs reach the exact
    // verify join — results are exact (no false negatives by the Bloom
    // guarantee, false positives killed by the verify), which is
    // precisely what the oracle's relational shingle-membership replay
    // checks end-to-end.
    "q132_bloom_blocklist" -> Q(
      (s, d) => {
        val dir = graft.queries.Scratch.dir("graft-q132-bloom")
        val dd = Tables.documents(s, d)
        graft.llm.BloomBlocklist.build(
          dd.filter(col("doc_id") < 100), "text", n = 3,
          path = dir, expectedItems = 100000L)
        graft.llm.BloomBlocklist.classify(
            dd.filter(col("doc_id") >= 100), "doc_id", "text", n = 3,
            path = dir)
          .select("doc_id", "n_contaminated")
          .orderBy("doc_id")
      },
      Some(s"""WITH nrm AS (SELECT doc_id, ${LlmQueries.normSql} AS nm
              |  FROM documents),
              |tok AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM nrm),
              |sets AS (SELECT doc_id,
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    END AS sh
              |  FROM tok),
              |ex AS (SELECT doc_id, unnest(list_distinct(sh)) AS sg FROM sets),
              |bl AS (SELECT DISTINCT sg FROM ex WHERE doc_id < 100),
              |batch AS (SELECT doc_id, sg FROM ex WHERE doc_id >= 100)
              |SELECT b.doc_id,
              |  CAST(count(bl.sg) AS BIGINT) AS n_contaminated
              |FROM batch b LEFT JOIN bl ON b.sg = bl.sg
              |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // Log-shaped ingest through the Kafka-shaped DSv2 source test
    // double (sources/LogTopicSource.scala): the documents corpus is
    // produced into a 4-partition file-backed commit log (partition =
    // doc_id mod 4, offsets dense in doc_id order within a partition),
    // then consumed by the REAL streaming engine in bounded
    // admission-controlled microbatches (maxRecordsPerTrigger) and
    // folded to per-partition stats. The producer collect is the
    // EXTERNAL side of an ingest boundary (producers are never the
    // engine's job); consumption is fully distributed. The oracle
    // replays partition assignment, dense-offset arithmetic, and the
    // portable Rabin-Karp value checksum relationally — so the hash
    // only matches if partitioning, offset accounting, AND payload
    // round-tripping (UTF-8 bytes through the log's length-prefixed
    // segments) are all exact. Checksum sums stay < 2^41 (500k docs x
    // h < 2^30): no ANSI overflow.
    "q152_log_ingest" -> Q(
      (s, d) => {
        import graft.sources.LogTopic
        val root = graft.queries.Scratch.dir("graft-q152-log") + "/topic"
        LogTopic.create(root, 4)
        // producer side runs DISTRIBUTED: each task appends the log
        // partitions it owns (repartition by the topic-partition key
        // means no two tasks ever write the same partition), streaming
        // its rows through a bounded buffer — the driver never
        // materializes the corpus (the old collect() here was the one
        // driver-memory cliff in the suite). Within a log partition
        // the order is doc_id (sortWithinPartitions), same as before.
        Tables.documents(s, d)
          .select((col("doc_id") % 4).cast("int").as("p"),
            col("doc_id"), col("text"))
          .repartition(4, col("p"))
          .sortWithinPartitions("p", "doc_id")
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[LogTopic.Record]
            var curP = -1
            def flush(): Unit = if (buf.nonEmpty) {
              LogTopic.append(root, curP, buf.toSeq); buf.clear()
            }
            it.foreach { r =>
              val p = r.getInt(0)
              if (p != curP) {
                flush(); curP = p
                // retry idempotence: this task owns p exclusively, so
                // truncating at first encounter makes a re-executed
                // task REWRITE its partitions instead of appending a
                // second copy of every record (append alone is not
                // idempotent under task retry)
                LogTopic.truncate(root, p)
              }
              buf += LogTopic.Record(r.getLong(1),
                r.getLong(1).toString.getBytes("UTF-8"),
                r.getString(2).getBytes("UTF-8"))
              if (buf.size >= 10000) flush()
            }
            flush()
          }
        // ~5 admission-controlled microbatches at ANY corpus size (the
        // point is bounded batches, not a fixed batch count growing
        // linearly with sf)
        val perTrigger = math.max(100L, Tables.documents(s, d).count() / 5L)
        val stream = s.readStream.format("graft.sources.LogTopicSource")
          .option("path", root)
          .option("maxRecordsPerTrigger", perTrigger.toString)
          .load()
        graft.streaming.StreamOps.runToBatch(s, stream, "append")
          .select(col("partition"), col("offset"),
            col("value").cast("string").as("text"))
          .groupBy("partition")
          .agg(
            count(lit(1)).as("n"),
            max(col("offset")).as("max_offset"),
            sum(length(col("text")).cast("long")).as("sum_chars"),
            sum(TextFunctions.polyHash(col("text"))).as("checksum"))
          .orderBy("partition")
      },
      Some("""WITH ph AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS partition,
             |    length(text) AS n_chars,
             |    list_reduce(
             |      list_prepend(CAST(0 AS BIGINT),
             |        list_transform(range(1, len(text)+1),
             |          i -> CAST(ascii(text[i]) AS BIGINT))),
             |      (acc, c) -> (acc * 131 + c) % 1000000007) AS h
             |  FROM documents)
             |SELECT partition, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) - 1 AS BIGINT) AS max_offset,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(h) AS BIGINT) AS checksum
             |FROM ph GROUP BY partition ORDER BY partition""".stripMargin)),

    // Manifest-level data skipping (sources/ZoneMap.scala): lineitem is
    // laid out range-clustered on l_orderkey, a one-pass zone-map
    // manifest (per-file min/max/count) is persisted as a _zonemap
    // sidecar, and a range query opens ONLY the files whose envelope
    // intersects [max/4, max/2] — the Iceberg/Delta-manifest pruning
    // move that turns a 100 TB listing into a handful of file opens
    // BEFORE parquet's own row-group skipping sees anything. Pruning is
    // file-granular + residual filter, so the result is row-exact: the
    // oracle is the PLAIN unpruned filter — the hash matches only if
    // skipping lost nothing. (Envelope-disjointness and null-chunk
    // conservatism are pinned in ZoneMapSpec.)
    "q154_zonemap_prune" -> Q(
      (s, d) => {
        import graft.sources.ZoneMap
        val root = graft.queries.Scratch.dir("graft-q154-zm") + "/t"
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        li.repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.parquet(root)
        ZoneMap.write(s, root, Seq("l_orderkey"))
        // bounded model state: one scalar, same arithmetic as the oracle
        val maxk = li.agg(max("l_orderkey")).head().getLong(0)
        ZoneMap.readRange(s, root, "l_orderkey", lit(maxk / 4), lit(maxk / 2))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Stats.decimalSum(col("l_quantity")).as("sum_qty"),
            Stats.decimalSum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH mk AS (SELECT max(l_orderkey) AS m FROM lineitem)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem, mk
             |WHERE l_orderkey >= m // 4 AND l_orderkey <= m // 2
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Per-file Bloom data skipping (sources/BloomSkip.scala) — the
    // POINT-LOOKUP sibling of q154's zone maps: a high-cardinality
    // equality probe over an id column prunes files via per-file Bloom
    // sidecars built in ONE distributed pass (native
    // BloomFilterAggregate, partial-merged executor-side). Pruning is
    // conservative (FPs only keep extra files; no false negatives), so
    // the indexed point read equals the plain IN filter row-for-row —
    // exactly what the oracle replays. BloomSkipSpec pins that the
    // skipping itself happens (3 keys -> ~3 of 8 files; absent -> ~0).
    "q185_bloom_skipping" -> Q(
      (s, d) => {
        import graft.sources.BloomSkip
        val root = graft.queries.Scratch.dir("graft-q185-bs") + "/t"
        val dd = Tables.documents(s, d)
        dd.repartitionByRange(8, col("doc_id"))
          .write.parquet(root)
        BloomSkip.write(s, root, "doc_id", expectedItemsPerFile = 10000L)
        val keys = Seq(7L, 123L, 250L, 444L, 999999L) // last one absent
        BloomSkip.readIn(s, root, "doc_id", keys)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE doc_id IN (7, 123, 250, 444, 999999)
             |ORDER BY doc_id""".stripMargin)),

    // Incremental zone-map maintenance (ZoneMap.append): the table grows
    // by an appended batch and ONLY the new part files are scanned to
    // fold their envelopes into the manifest — upkeep proportional to
    // the batch, not the table (the persisted-index family's addBatch
    // argument applied to the skipping sidecar; ZoneMapSpec pins
    // incremental == full-rebuild manifest equality). The range read
    // then spans both batches and must equal the plain filter — which
    // is exactly what the oracle replays.
    "q186_zonemap_incremental" -> Q(
      (s, d) => {
        import graft.sources.ZoneMap
        val root = graft.queries.Scratch.dir("graft-q186-zmi") + "/t"
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_returnflag", "l_quantity")
        val maxk = li.agg(max("l_orderkey")).head().getLong(0)
        li.filter(col("l_orderkey") < maxk / 2)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.parquet(root)
        ZoneMap.write(s, root, Seq("l_orderkey"))
        li.filter(col("l_orderkey") >= maxk / 2)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.mode("append").parquet(root)
        val added = ZoneMap.append(s, root, Seq("l_orderkey"))
        ZoneMap.readRange(s, root, "l_orderkey",
            lit(maxk / 3), lit((2 * maxk) / 3))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Stats.decimalSum(col("l_quantity")).as("sum_qty"))
          .withColumn("n_new_files", lit(added.toLong))
          .orderBy("l_returnflag")
      },
      Some("""WITH mk AS (SELECT max(l_orderkey) AS m FROM lineitem)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(4 AS BIGINT) AS n_new_files
             |FROM lineitem, mk
             |WHERE l_orderkey >= m // 3 AND l_orderkey <= (2 * m) // 3
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Z-order layout x multi-dimension skipping — the composition q67
    // (z-value clustering) and q154 (zone maps) exist FOR: lineitem is
    // laid out along the (l_partkey, l_suppkey) z-curve so every file
    // covers a compact rectangle of the 2-D key space, and a box query
    // intersects the PER-DIMENSION candidate sets — pruning multiplies
    // across dimensions where a single-column sort could only prune its
    // leading column (ZoneMapSpec pins the quadrant case: 2 x 2
    // candidates -> 1 file). Row-exactness vs the plain filter is the
    // oracle; the residual predicate mops up the file-granular slack.
    "q156_zorder_skipping" -> Q(
      (s, d) => {
        import graft.operators.ZOrder
        import graft.sources.ZoneMap
        val root = graft.queries.Scratch.dir("graft-q156-zb") + "/t"
        val li = Tables.lineitem(s, d)
          .select("l_partkey", "l_suppkey", "l_quantity", "l_returnflag")
        ZOrder.cluster(li, Seq("l_partkey", "l_suppkey"), bits = 10, numFiles = 16)
          .write.parquet(root)
        ZoneMap.write(s, root, Seq("l_partkey", "l_suppkey"))
        val r = li.agg(max("l_partkey"), max("l_suppkey")).head()
        val (maxp, maxs) = (r.getLong(0), r.getLong(1))
        ZoneMap.readBox(s, root, Seq(
            ("l_partkey", lit(maxp / 4), lit(maxp / 2)),
            ("l_suppkey", lit(maxs / 4), lit(maxs / 2))))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Stats.decimalSum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH mk AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms
             |            FROM lineitem)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem, mk
             |WHERE l_partkey >= mp // 4 AND l_partkey <= mp // 2
             |  AND l_suppkey >= ms // 4 AND l_suppkey <= ms // 2
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Row-level deletes as deletion vectors (sources/DeletionVectors
    // .scala — the Delta-DV / Iceberg-position-delete design): the
    // documents table is laid out immutably across 4 files, two delete
    // generations write only (file, row_index) sidecars under _dv/ —
    // the second evaluates its predicate on the LIVE view, so the
    // overlap with generation one is NOT double-deleted — and the read
    // path anti-joins the positions back out. The oracle is the plain
    // double-filter: the hash matches only if position-based deletion
    // is row-exact (no rewrite, no loss, no resurrection). Addressing
    // uses parquet's _metadata.row_index/file_path constant columns;
    // idempotency, per-file stats and the materialize rewrite are
    // pinned in DeletionVectorsSpec.
    "q163_deletion_vectors" -> Q(
      (s, d) => {
        import graft.sources.DeletionVectors
        val root = graft.queries.Scratch.dir("graft-q163-dv") + "/t"
        Tables.documents(s, d)
          .repartition(4)
          .write.parquet(root)
        DeletionVectors.delete(s, root, col("lang") === "de")
        DeletionVectors.delete(s, root, col("n_chars") < 120)
        DeletionVectors.read(s, root)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents
             |WHERE NOT (lang = 'de') AND NOT (n_chars < 120)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Snapshot profile drift (operators/Profile.scala) — the data-QA
    // gate between pipeline runs: profile two snapshots (one wide
    // aggregation pass each: rows / nulls / exact distincts per column)
    // and diff them column-level. Snapshot B deterministically mutates
    // the corpus: German docs dropped (row + distinct drift), source
    // nulled on every 10th doc (null-rate drift in exact basis points),
    // `text`/`n_chars` removed, `quality` added (schema drift). The
    // oracle replays both profiles as per-column UNION ALL aggregates
    // and the same full-outer diff — rates are integer basis points
    // (x*10000 div n), so the report hash-matches exactly.
    "q167_profile_drift" -> Q(
      (s, d) => {
        import graft.operators.Profile
        val snapA = Tables.documents(s, d)
        val snapB = snapA.filter(col("lang") =!= "de")
          .select(
            col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 0, lit(null))
              .otherwise(col("source")).as("source"),
            col("lang"),
            (col("n_chars") * 2).as("quality"))
        Profile.drift(
            Profile.profile(snapA,
              Seq("doc_id", "source", "lang", "text", "n_chars")),
            Profile.profile(snapB,
              Seq("doc_id", "source", "lang", "quality")))
          .orderBy("column_name")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE source END
             |      AS source,
             |    lang, n_chars * 2 AS quality
             |  FROM documents WHERE lang <> 'de'),
             |pa AS (
             |  SELECT 'doc_id' AS column_name, count(*) AS n_rows,
             |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_null,
             |    count(DISTINCT doc_id) AS n_distinct FROM documents
             |  UNION ALL SELECT 'source', count(*),
             |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT source) FROM documents
             |  UNION ALL SELECT 'lang', count(*),
             |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT lang) FROM documents
             |  UNION ALL SELECT 'text', count(*),
             |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT text) FROM documents
             |  UNION ALL SELECT 'n_chars', count(*),
             |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT n_chars) FROM documents),
             |pb AS (
             |  SELECT 'doc_id' AS column_name, count(*) AS n_rows,
             |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_null,
             |    count(DISTINCT doc_id) AS n_distinct FROM b
             |  UNION ALL SELECT 'source', count(*),
             |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT source) FROM b
             |  UNION ALL SELECT 'lang', count(*),
             |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT lang) FROM b
             |  UNION ALL SELECT 'quality', count(*),
             |    CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT quality) FROM b),
             |j AS (SELECT
             |    COALESCE(pa.column_name, pb.column_name) AS column_name,
             |    CASE WHEN pa.column_name IS NULL THEN 'added'
             |         WHEN pb.column_name IS NULL THEN 'removed'
             |         ELSE 'kept' END AS status,
             |    COALESCE(pa.n_rows, 0) AS rows_a,
             |    COALESCE(pb.n_rows, 0) AS rows_b,
             |    COALESCE(pa.n_null, 0) AS null_a,
             |    COALESCE(pb.n_null, 0) AS null_b,
             |    COALESCE(pa.n_distinct, 0) AS dist_a,
             |    COALESCE(pb.n_distinct, 0) AS dist_b
             |  FROM pa FULL OUTER JOIN pb ON pa.column_name = pb.column_name)
             |SELECT column_name, status, rows_a, rows_b, null_a, null_b,
             |  dist_a, dist_b,
             |  CAST(CASE WHEN rows_a = 0 THEN 0
             |    ELSE (null_a * 10000) // rows_a END AS BIGINT) AS null_bp_a,
             |  CAST(CASE WHEN rows_b = 0 THEN 0
             |    ELSE (null_b * 10000) // rows_b END AS BIGINT) AS null_bp_b,
             |  CAST(CASE WHEN rows_b = 0 THEN 0
             |    ELSE (null_b * 10000) // rows_b END AS BIGINT)
             |  - CAST(CASE WHEN rows_a = 0 THEN 0
             |    ELSE (null_a * 10000) // rows_a END AS BIGINT)
             |    AS null_delta_bp
             |FROM j ORDER BY column_name""".stripMargin)))
}
