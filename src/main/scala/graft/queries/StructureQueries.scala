package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{CountMin, LabelPropagation, Skyline}
import graft.operators.Iterate.MaterializeOps
import graft.streaming.StreamOps

/** Corpus-structure tier: bounded-memory frequency sketching (count-min),
  * sub-linear corpus-similarity estimation (coordinated bottom-k),
  * community detection (synchronous label propagation), temperature-based
  * domain mixing, and the skyline operator. The through-line: each query
  * answers a corpus-STRUCTURE question ("what's frequent", "how much do
  * these sources overlap", "what clusters together", "how do we weight
  * domains", "what's on the quality frontier") with an algorithm whose
  * memory/traffic is bounded by sketch size, community count, or frontier
  * size — never by corpus size. All arithmetic is integer or
  * single-correctly-rounded-IEEE-op (sqrt IS correctly rounded per
  * IEEE 754, unlike pow/log), so every row hash-matches a DuckDB replay.
  */
object StructureQueries {

  import org.apache.spark.sql.DataFrame

  val queries: Map[String, Q] = Map(

    // Count-min sketch vs exact token frequencies: build a 4×256 CMS of
    // the corpus token stream with the mergeable CountMinAgg Aggregator
    // (map-side partial matrices, elementwise-add merge — aggregation
    // traffic independent of vocabulary size), then check its point
    // estimates against the exact counts of the top-20 tokens. The
    // overcount column is the CMS guarantee made visible: min-of-rows
    // never undercounts. Sketch cells land in the plan as a posexploded
    // 1024-row broadcast side — no driver collect. Row hashes are plain
    // integer arithmetic over the Rabin-Karp poly-hash, so DuckDB
    // rebuilds the identical sketch (collisions included) relationally.
    "q138_cms_freq" -> Q(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(TextFunctions.normalized(col("text")), " "))
            .as("w"))
          .filter(col("w") =!= "")
        val exact = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        val top = exact.orderBy(col("exact_cnt").desc, col("w")).limit(20)
        val cms = udaf(CountMin.CountMinAgg(4, 256))
        val cells = toks
          .select(TextFunctions.polyHash(col("w")).as("h"))
          .agg(cms(col("h")).as("m"))
          .select(posexplode(col("m")).as(Seq("pos", "cell_cnt")))
          .select((col("pos") / 256).cast("int").as("j"),
            pmod(col("pos"), lit(256)).as("cell"), col("cell_cnt"))
        val probe = top
          .withColumn("h", TextFunctions.polyHash(col("w")))
          .withColumn("j", explode(sequence(lit(0), lit(3))))
          .withColumn("cell",
            pmod(pmod((lit(31L) + lit(2L) * col("j")) * col("h")
              + lit(7L) + lit(97L) * col("j"), lit(CountMin.Mod)),
              lit(256L)).cast("int"))
        probe.join(broadcast(cells), Seq("j", "cell"))
          .groupBy("w")
          .agg(first(col("exact_cnt")).as("exact_cnt"),
            min(col("cell_cnt")).as("cms_est"))
          .select(col("w"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") - col("exact_cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("w"))
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
              |       FROM t WHERE w <> '' GROUP BY w),
              |ph AS (SELECT w, exact_cnt, list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(range(1, len(w)+1),
              |        i -> CAST(ascii(w[i]) AS BIGINT))),
              |    (acc, c) -> (acc * 131 + c) % 1000000007) AS h
              |  FROM tf),
              |cells AS (
              |  SELECT j.j, ((31 + 2*j.j) * ph.h + 7 + 97*j.j)
              |           % 1000000007 % 256 AS cell,
              |         CAST(sum(exact_cnt) AS BIGINT) AS cell_cnt
              |  FROM ph CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |  GROUP BY 1, 2),
              |top AS (SELECT w, exact_cnt, h FROM ph
              |        ORDER BY exact_cnt DESC, w LIMIT 20),
              |est AS (
              |  SELECT top.w, top.exact_cnt,
              |         CAST(min(c.cell_cnt) AS BIGINT) AS cms_est
              |  FROM top CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |  JOIN cells c ON c.j = j.j
              |   AND c.cell = ((31 + 2*j.j) * top.h + 7 + 97*j.j)
              |                % 1000000007 % 256
              |  GROUP BY 1, 2)
              |SELECT w, exact_cnt, cms_est,
              |       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
              |FROM est ORDER BY exact_cnt DESC, w""".stripMargin)),

    // Flajolet-Martin distinct-count register sketch — the cardinality
    // member of the mergeable-sketch family (q138 CMS = frequency,
    // bottom-k = sampling, this = distinct), built portable where
    // approx_count_distinct's HLL++ binary is opaque: register =
    // polyHash mod 64, observation = trailing-zeros-of-rehash + 1 via
    // the branch-free identity bit_count(h2 XOR (h2-1)), register max
    // is partially aggregable and per-segment sketches merge by max
    // (DistinctSketchSpec pins merge-of-parts == whole). The oracle
    // rebuilds every register bit-for-bit, duplicates-insensitivity
    // included (no DISTINCT on either side — max absorbs repeats).
    "q155_distinct_sketch" -> Q(
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(TextFunctions.normalized(col("text")), " "))
            .as("w"))
          .filter(col("w") =!= "")
        val sk = graft.operators.DistinctSketch.build(words, col("w"))
        val exact = words.agg(
          countDistinct(col("w")).cast("long").as("exact_distinct"))
        sk.crossJoin(broadcast(exact))
          .select("register", "max_rho", "exact_distinct")
          .orderBy("register")
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |ws AS (SELECT w FROM t WHERE w <> ''),
              |h AS (SELECT w, list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(range(1, len(w)+1),
              |        i -> CAST(ascii(w[i]) AS BIGINT))),
              |    (acc, c) -> (acc * 131 + c) % 1000000007) AS h
              |  FROM ws),
              |r AS (SELECT h % 64 AS register,
              |             (h * 31 + 7) % 1000000007 AS h2 FROM h),
              |rr AS (SELECT register,
              |         CASE WHEN h2 = 0 THEN CAST(1 AS BIGINT)
              |              ELSE CAST(bit_count(xor(h2, h2 - 1)) AS BIGINT)
              |         END AS rho
              |       FROM r),
              |sk AS (SELECT CAST(register AS BIGINT) AS register,
              |              max(rho) AS max_rho
              |       FROM rr GROUP BY 1),
              |ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT)
              |         AS exact_distinct FROM ws)
              |SELECT register, max_rho, exact_distinct
              |FROM sk CROSS JOIN ex ORDER BY register""".stripMargin)),

    // Sketch ROLLUP — the property sketches exist for, exercised across
    // a persistence boundary: per-(lang, source) FM register tables are
    // built once and PERSISTED (the cube-cell sketch table a warehouse
    // maintains), then per-lang distinct-token summaries are answered by
    // merging the persisted segment sketches (per-register max — no
    // rescan of the corpus, no re-hash). Merge-then-summarize equals
    // build-at-the-coarser-grain by the max-merge algebra; the oracle
    // replays hashing, register assignment, segment max, rollup max,
    // and the exact per-lang distinct reference column.
    "q193_sketch_rollup" -> Q(
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("lang"), col("source"),
            explode(split(TextFunctions.normalized(col("text")), " ")).as("w"))
          .filter(col("w") =!= "")
        val h = TextFunctions.polyHash(col("w").cast("string"))
        val h2 = (h * 31L + 7L) % 1000000007L
        val tz = when(h2 === 0L, lit(0L))
          .otherwise(bit_count(h2.bitwiseXOR(h2 - 1L)) - 1L)
        val seg = base
          .select(col("lang"), col("source"),
            pmod(h, lit(64L)).as("register"), (tz + 1L).as("rho"))
          .groupBy("lang", "source", "register")
          .agg(max("rho").as("max_rho"))
        val segPath = graft.queries.Scratch.dir("graft-q193-sk") + "/seg"
        seg.write.parquet(segPath)
        val merged = Parquet.read(s, segPath)
          .groupBy("lang", "register").agg(max("max_rho").as("max_rho"))
        val summary = merged.groupBy("lang").agg(
          count(lit(1)).as("n_occupied"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(max_rho AS INT))"))
            .as("sum_pow2_rho"),
          max("max_rho").as("max_rho"))
        val exact = base.groupBy("lang")
          .agg(countDistinct("w").cast("long").as("exact_distinct"))
        summary.join(exact, "lang").orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang, source,
              |    unnest(string_split($normSql, ' ')) AS w FROM documents),
              |ws AS (SELECT lang, source, w FROM t WHERE w <> ''),
              |h AS (SELECT lang, source, w, list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(range(1, len(w)+1),
              |        i -> CAST(ascii(w[i]) AS BIGINT))),
              |    (acc, c) -> (acc * 131 + c) % 1000000007) AS h
              |  FROM ws),
              |r AS (SELECT lang, source, h % 64 AS register,
              |    (h * 31 + 7) % 1000000007 AS h2 FROM h),
              |rr AS (SELECT lang, source, register,
              |    CASE WHEN h2 = 0 THEN CAST(1 AS BIGINT)
              |         ELSE CAST(bit_count(xor(h2, h2 - 1)) AS BIGINT)
              |    END AS rho
              |  FROM r),
              |seg AS (SELECT lang, source, register, max(rho) AS max_rho
              |  FROM rr GROUP BY 1, 2, 3),
              |mg AS (SELECT lang, register, max(max_rho) AS max_rho
              |  FROM seg GROUP BY 1, 2),
              |sm AS (SELECT lang,
              |    CAST(count(*) AS BIGINT) AS n_occupied,
              |    CAST(sum(CAST(1 AS BIGINT) << CAST(max_rho AS INT))
              |      AS BIGINT) AS sum_pow2_rho,
              |    CAST(max(max_rho) AS BIGINT) AS max_rho
              |  FROM mg GROUP BY 1),
              |ex AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT)
              |    AS exact_distinct FROM ws GROUP BY 1)
              |SELECT sm.lang, n_occupied, sum_pow2_rho, sm.max_rho,
              |  exact_distinct
              |FROM sm JOIN ex USING (lang) ORDER BY lang""".stripMargin)),

    // Temperature-based domain mixture (the multilingual/multi-domain
    // sampling scheme of Lample & Conneau'19 at α = 1/2): upweight small
    // sources by sampling ∝ mass^α. Portable because sqrt IS correctly
    // rounded under IEEE 754 (pow/log are not): mass^(1/2) → one sqrt,
    // one exact ×2^20, one floor gives an INTEGER sampling mass; the
    // normalizing sum and the budget allocation stay in exact integer
    // arithmetic (long-safe while Σ sqrt-mass × 10^4 < 2^63 — holds past
    // 10^13 chars per source), and the reported weight is one IEEE
    // division. Shape: one agg to source grain, then a window over
    // #sources rows — driver-scale by definition.
    "q139_temperature_mix" -> Q(
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .groupBy("source")
          .agg(sum(col("n_chars")).as("n_chars_total"))
          .withColumn("mass",
            floor(sqrt(col("n_chars_total")) * lit(1048576.0)).cast("long"))
        bySrc
          .withColumn("total_mass",
            sum(col("mass")).over(Window.partitionBy()))
          .select(col("source"), col("n_chars_total"), col("mass"),
            (col("mass").cast("double") / col("total_mass").cast("double"))
              .as("weight"),
            expr("(mass * 10000L) div total_mass").as("alloc_units"))
          .orderBy("source")
      },
      Some("""WITH m AS (
             |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
             |    CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1048576.0)
             |         AS BIGINT) AS mass
             |  FROM documents GROUP BY source),
             |t AS (SELECT *, CAST(sum(mass) OVER () AS BIGINT) AS total
             |      FROM m)
             |SELECT source, n_chars_total, mass,
             |  CAST(mass AS DOUBLE) / CAST(total AS DOUBLE) AS weight,
             |  CAST((mass * 10000) // total AS BIGINT) AS alloc_units
             |FROM t ORDER BY source""".stripMargin)),

    // Synchronous label propagation over the supplier↔part trading graph
    // (bipartite edges from lineitem; part nodes offset by 10^7 to share
    // one id space). Three deterministic rounds — most-frequent neighbor
    // label, ties to the smallest — then community sizes. Each round is
    // one shuffle join plus one partially-aggregable struct-min (hub
    // tallies map-side combine); the label frame is localCheckpointed per
    // round. The oracle unrolls the same three rounds as CTEs.
    "q140_label_prop" -> Q(
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("u"),
            (col("l_partkey") + lit(10000000L)).as("v"))
          .distinct()
        val labels = LabelPropagation.run(edges, iters = 3)
        labels.groupBy("label")
          .agg(count(lit(1)).as("n_nodes"),
            sum(when(col("node") < 10000000L, 1L).otherwise(0L))
              .as("n_suppliers"))
          .orderBy("label")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT l_suppkey AS u, l_partkey + 10000000 AS v
             |  FROM lineitem),
             |sym AS (SELECT u, v FROM e WHERE u <> v
             |        UNION SELECT v, u FROM e WHERE u <> v),
             |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
             |v1 AS (SELECT s.u AS node, l.label, count(*) AS c
             |       FROM sym s JOIN l0 l ON s.v = l.node GROUP BY 1, 2),
             |l1 AS (SELECT node, label FROM (
             |         SELECT node, label, row_number() OVER (
             |           PARTITION BY node ORDER BY c DESC, label) AS rn
             |         FROM v1) WHERE rn = 1),
             |v2 AS (SELECT s.u AS node, l.label, count(*) AS c
             |       FROM sym s JOIN l1 l ON s.v = l.node GROUP BY 1, 2),
             |l2 AS (SELECT node, label FROM (
             |         SELECT node, label, row_number() OVER (
             |           PARTITION BY node ORDER BY c DESC, label) AS rn
             |         FROM v2) WHERE rn = 1),
             |v3 AS (SELECT s.u AS node, l.label, count(*) AS c
             |       FROM sym s JOIN l2 l ON s.v = l.node GROUP BY 1, 2),
             |l3 AS (SELECT node, label FROM (
             |         SELECT node, label, row_number() OVER (
             |           PARTITION BY node ORDER BY c DESC, label) AS rn
             |         FROM v3) WHERE rn = 1)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(sum(CASE WHEN node < 10000000 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_suppliers
             |FROM l3 GROUP BY label ORDER BY label""".stripMargin)),

    // Source-to-source similarity matrix from coordinated bottom-k
    // sketches: per source, the 128 smallest md5s of its distinct 3-word
    // shingles; per source pair, J ≈ |bottom-128(A∪B) ∩ A₁₂₈ ∩ B₁₂₈|/128
    // (Cohen & Kaplan coordinated-sample estimator — k a power of two so
    // the division is exact binary). The exact Jaccard rides along for
    // calibration (two integer counts + one IEEE division). Sub-linear
    // where it matters: the estimator touches 128 rows per source — at
    // 100 TB only the distinct-(source, shingle-hash) pass sees data
    // scale, and it's a two-phase agg. The source list is collected as
    // bounded dimension state (source cardinality, like the ANN
    // codebooks) to build the pair frame without an inequality BNLJ.
    "q141_source_similarity" -> Q(
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("source"),
            explode(TextFunctions.wordShingles(col("text"), 3)).as("g"))
          .select(col("source"), substring(md5(col("g")), 1, 16).as("h"))
          .distinct()
        val srcs = sh.select("source").distinct()
          .collect().map(_.getString(0)).sorted
        val pairs = for {
          i <- srcs.indices; j <- (i + 1) until srcs.length
        } yield (srcs(i), srcs(j))
        import s.implicits._
        val pdf = pairs.toSeq.toDF("s1", "s2")
        val expanded = sh.join(broadcast(pdf), col("source") === col("s1"))
          .select(col("s1"), col("s2"), col("h"), lit(1).as("ia"),
            lit(0).as("ib"))
          .unionAll(sh.join(broadcast(pdf), col("source") === col("s2"))
            .select(col("s1"), col("s2"), col("h"), lit(0).as("ia"),
              lit(1).as("ib")))
          .groupBy("s1", "s2", "h")
          .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
        val w = Window.partitionBy("s1", "s2").orderBy("h")
        val est = expanded
          .withColumn("urk", row_number().over(w))
          .filter(col("urk") <= 128)
          .groupBy("s1", "s2")
          .agg(sum(col("ia") * col("ib")).cast("long").as("k_shared"))
          .withColumn("est_jaccard",
            col("k_shared").cast("double") / lit(128.0))
        val exact = expanded.groupBy("s1", "s2")
          .agg(sum(col("ia") * col("ib")).cast("long").as("inter"),
            count(lit(1)).as("uni"))
          .withColumn("exact_jaccard",
            col("inter").cast("double") / col("uni").cast("double"))
        est.join(exact, Seq("s1", "s2"))
          .select(col("s1"), col("s2"), col("k_shared"),
            col("est_jaccard"), col("inter"), col("uni"),
            col("exact_jaccard"))
          .orderBy("s1", "s2")
      },
      Some(s"""WITH nrm AS (SELECT source, $normSql AS nm FROM documents),
              |tok AS (SELECT source, nm, string_split(nm, ' ') AS t
              |        FROM nrm),
              |sets AS (SELECT source,
              |    CASE WHEN len(t) < 3 THEN [nm]
              |         ELSE list_transform(range(1, len(t) - 1),
              |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    END AS sh
              |  FROM tok),
              |dh AS (SELECT DISTINCT source,
              |         substring(md5(g), 1, 16) AS h
              |       FROM (SELECT source, unnest(sh) AS g FROM sets)),
              |srcs AS (SELECT DISTINCT source FROM dh),
              |pairs AS (SELECT a.source AS s1, b.source AS s2
              |          FROM srcs a, srcs b WHERE a.source < b.source),
              |exp AS (
              |  SELECT p.s1, p.s2, d.h,
              |    max(CASE WHEN d.source = p.s1 THEN 1 ELSE 0 END) AS ia,
              |    max(CASE WHEN d.source = p.s2 THEN 1 ELSE 0 END) AS ib
              |  FROM pairs p JOIN dh d ON d.source IN (p.s1, p.s2)
              |  GROUP BY 1, 2, 3),
              |bk AS (SELECT *, row_number() OVER (
              |         PARTITION BY s1, s2 ORDER BY h) AS urk FROM exp),
              |est AS (SELECT s1, s2,
              |          CAST(sum(ia * ib) AS BIGINT) AS k_shared
              |        FROM bk WHERE urk <= 128 GROUP BY 1, 2),
              |ex AS (SELECT s1, s2, CAST(sum(ia * ib) AS BIGINT) AS inter,
              |         CAST(count(*) AS BIGINT) AS uni
              |       FROM exp GROUP BY 1, 2)
              |SELECT est.s1, est.s2, k_shared,
              |  CAST(k_shared AS DOUBLE) / 128.0 AS est_jaccard,
              |  inter, uni,
              |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS exact_jaccard
              |FROM est JOIN ex ON est.s1 = ex.s1 AND est.s2 = ex.s2
              |ORDER BY est.s1, est.s2""".stripMargin)),

    // Skyline / pareto frontier of (quantity, price-in-cents) over
    // lineitem — "the best trade-offs" without a scoring function. Grid
    // prune (per-bucket max + suffix max over B bucket rows, broadcast
    // back) eliminates everything the exact phase's global range-frame
    // window would otherwise funnel through one task; the prune is
    // provably lossless because floor-div bucketing is monotone. Cents
    // via round(price·100): the true value is integer cents, so the
    // double error is ±ulp and rounding recovers the exact integer on
    // both engines. Oracle replays the same window formulation (a
    // NOT-EXISTS oracle would be quadratic in DuckDB).
    "q142_skyline" -> Q(
      (s, d) => {
        val pts = Tables.lineitem(s, d)
          .select(round(col("l_quantity")).cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        Skyline.frontier2D(pts, "qty", "cents", bucketWidth = 5L)
          .groupBy("qty", "cents")
          .agg(count(lit(1)).as("n_rows"))
          .orderBy("qty", "cents")
      },
      Some("""WITH pts AS (
             |  SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem),
             |w AS (
             |  SELECT qty, cents,
             |    max(cents) OVER (ORDER BY qty
             |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
             |      AS mgt,
             |    max(cents) OVER (PARTITION BY qty) AS meq
             |  FROM pts)
             |SELECT qty, cents, CAST(count(*) AS BIGINT) AS n_rows
             |FROM w
             |WHERE (mgt IS NULL OR cents > mgt) AND cents = meq
             |GROUP BY qty, cents ORDER BY qty, cents""".stripMargin)),

    // Distributed BPE merge learning — the tokenizer-training pass, run
    // as 3 engine rounds over the frequency-weighted distinct-word table
    // (corpus size enters only through the word count agg, exactly like
    // single-node trainers). Winner per round = max weighted adjacent-
    // pair count, ties to the lexicographically smallest pair; merges
    // apply as literal sentinel-delimited replaces whose left-to-right
    // non-overlap IS the BPE greedy scan. The oracle unrolls the same
    // three rounds with scalar-subquery winners — training replays
    // bit-for-bit in DuckDB.
    "q143_bpe_merges" -> Q(
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(TextFunctions.normalized(col("text")), " "))
            .as("word"))
          .filter(col("word") =!= "" &&
            instr(col("word"), graft.llm.BpeTrainer.L) === 0 &&
            instr(col("word"), graft.llm.BpeTrainer.R) === 0)
          .groupBy("word").agg(count(lit(1)).as("freq"))
        val merges = graft.llm.BpeTrainer.train(words, rounds = 3)
        import s.implicits._
        merges.map(m => (m.round.toLong, m.a, m.b, m.a + m.b, m.cnt))
          .toDF("round", "sym_a", "sym_b", "merged", "pair_cnt")
          .orderBy("round")
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |wf AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
              |       FROM t WHERE w <> '' AND strpos(w, chr(2)) = 0
              |         AND strpos(w, chr(3)) = 0
              |       GROUP BY w),
              |s0 AS (SELECT freq, regexp_replace(word, '(.)',
              |         chr(2) || '\\1' || chr(3), 'g') AS s FROM wf),
              |a1 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s0),
              |p1 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a1)
              |  GROUP BY 1, 2),
              |w1 AS (SELECT a, b, cnt FROM p1
              |       ORDER BY cnt DESC, a, b LIMIT 1),
              |s1 AS (SELECT freq, replace(s,
              |         chr(2) || (SELECT a FROM w1) || chr(3) ||
              |         chr(2) || (SELECT b FROM w1) || chr(3),
              |         chr(2) || (SELECT a || b FROM w1) || chr(3)) AS s
              |       FROM s0),
              |a2 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s1),
              |p2 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a2)
              |  GROUP BY 1, 2),
              |w2 AS (SELECT a, b, cnt FROM p2
              |       ORDER BY cnt DESC, a, b LIMIT 1),
              |s2 AS (SELECT freq, replace(s,
              |         chr(2) || (SELECT a FROM w2) || chr(3) ||
              |         chr(2) || (SELECT b FROM w2) || chr(3),
              |         chr(2) || (SELECT a || b FROM w2) || chr(3)) AS s
              |       FROM s1),
              |a3 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s2),
              |p3 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a3)
              |  GROUP BY 1, 2),
              |w3 AS (SELECT a, b, cnt FROM p3
              |       ORDER BY cnt DESC, a, b LIMIT 1)
              |SELECT CAST(1 AS BIGINT) AS round, a AS sym_a, b AS sym_b,
              |       a || b AS merged, cnt AS pair_cnt FROM w1
              |UNION ALL SELECT 2, a, b, a || b, cnt FROM w2
              |UNION ALL SELECT 3, a, b, a || b, cnt FROM w3
              |ORDER BY round""".stripMargin)),

    // Per-dimension embedding statistics — the standardization/QA pass
    // before ANN or training (dead dims, scale skew, saturation). Floats
    // quantize to 2^20-scaled longs (exact per Clustering's argument),
    // so count/sum/min/max are exact integers, the mean is one IEEE
    // division, and the second moment runs in DECIMAL(38,0) (qv² ≤ 2^40
    // · corpus rows — long would overflow at 100 TB) before one
    // documented-correctly-rounded cast to double. Shape: posexplode to
    // (dim, qv) grain, one two-phase agg on a 64-value key.
    "q144_embed_dim_stats" -> Q(
      (s, d) => {
        Tables.embeddings(s, d)
          .withColumn("qv_arr", graft.llm.Clustering.quantize(col("embedding")))
          .select(posexplode(col("qv_arr")).as(Seq("dim", "qv")))
          .groupBy(col("dim").cast("long").as("dim"))
          .agg(count(lit(1)).as("n"),
            sum(col("qv")).as("q_sum"),
            min(col("qv")).as("q_min"),
            max(col("qv")).as("q_max"),
            sum((col("qv") * col("qv")).cast("decimal(38,0)"))
              .cast("double").as("sumsq_q"))
          .withColumn("mean_q",
            col("q_sum").cast("double") / col("n").cast("double"))
          .select(col("dim"), col("n"), col("q_sum"), col("q_min"),
            col("q_max"), col("mean_q"), col("sumsq_q"))
          .orderBy("dim")
      },
      Some("""WITH e AS (
             |  SELECT unnest(list_transform(range(0, len(embedding)),
             |    i -> {'dim': i, 'x': embedding[i+1]})) AS u
             |  FROM embeddings),
             |q AS (SELECT CAST(u.dim AS BIGINT) AS dim,
             |        CAST(round(CAST(u.x AS DOUBLE) * 1048576) AS BIGINT)
             |          AS qv
             |      FROM e)
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(qv) AS BIGINT) AS q_sum,
             |  CAST(min(qv) AS BIGINT) AS q_min,
             |  CAST(max(qv) AS BIGINT) AS q_max,
             |  CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q,
             |  CAST(sum(CAST(qv * qv AS DECIMAL(38,0))) AS DOUBLE) AS sumsq_q
             |FROM q GROUP BY dim ORDER BY dim""".stripMargin)),

    // Embedding drift monitor — q144's per-dim statistics split into a
    // reference vs current cohort (even/odd vec_id standing in for
    // yesterday's/today's embedding batch): per-dimension means of the
    // 2^20-quantized coordinates and the absolute mean shift, the
    // first-order alarm for encoder version skew or upstream
    // distribution drift before vectors reach the ANN index. Integer
    // sums end-to-end; the two means and the shift are three IEEE ops
    // replayed identically by the oracle.
    "q182_embedding_drift" -> Q(
      (s, d) => {
        val q = Tables.embeddings(s, d)
          .withColumn("cohort",
            when(col("vec_id") % 2 === 0, lit("ref")).otherwise(lit("cur")))
          .withColumn("qv_arr", graft.llm.Clustering.quantize(col("embedding")))
          .select(col("cohort"), posexplode(col("qv_arr")).as(Seq("dim", "qv")))
        q.groupBy(col("dim").cast("long").as("dim"))
          .agg(
            count(when(col("cohort") === "ref", 1)).as("n_ref"),
            count(when(col("cohort") === "cur", 1)).as("n_cur"),
            sum(when(col("cohort") === "ref", col("qv")).otherwise(0L))
              .as("sum_ref"),
            sum(when(col("cohort") === "cur", col("qv")).otherwise(0L))
              .as("sum_cur"))
          .withColumn("mean_ref_q",
            col("sum_ref").cast("double") / col("n_ref").cast("double"))
          .withColumn("mean_cur_q",
            col("sum_cur").cast("double") / col("n_cur").cast("double"))
          .withColumn("drift_q", abs(col("mean_cur_q") - col("mean_ref_q")))
          .select(col("dim"), col("n_ref"), col("n_cur"), col("sum_ref"),
            col("sum_cur"), col("mean_ref_q"), col("mean_cur_q"),
            col("drift_q"))
          .orderBy("dim")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
             |    i -> {'dim': i, 'x': embedding[i+1]})) AS u
             |  FROM embeddings),
             |q AS (SELECT CAST(u.dim AS BIGINT) AS dim,
             |        CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END
             |          AS cohort,
             |        CAST(round(CAST(u.x AS DOUBLE) * 1048576) AS BIGINT)
             |          AS qv
             |      FROM e),
             |agg AS (SELECT dim,
             |    CAST(count(*) FILTER (cohort = 'ref') AS BIGINT) AS n_ref,
             |    CAST(count(*) FILTER (cohort = 'cur') AS BIGINT) AS n_cur,
             |    CAST(coalesce(sum(qv) FILTER (cohort = 'ref'), 0) AS BIGINT)
             |      AS sum_ref,
             |    CAST(coalesce(sum(qv) FILTER (cohort = 'cur'), 0) AS BIGINT)
             |      AS sum_cur
             |  FROM q GROUP BY dim)
             |SELECT dim, n_ref, n_cur, sum_ref, sum_cur,
             |  CAST(sum_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) AS mean_ref_q,
             |  CAST(sum_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) AS mean_cur_q,
             |  abs(CAST(sum_cur AS DOUBLE) / CAST(n_cur AS DOUBLE)
             |    - CAST(sum_ref AS DOUBLE) / CAST(n_ref AS DOUBLE)) AS drift_q
             |FROM agg ORDER BY dim""".stripMargin)),

    // Largest-remainder (Hamilton) apportionment of a 1000-slot sample
    // budget across (lang, source) strata — the exact-proportionality
    // allocator for an evaluation-set draw: floor shares, then the
    // leftover slots go to the largest remainders (ties: stratum asc).
    // Pure integer arithmetic end-to-end; the windows run over the
    // stratum grain (tens of rows), not the corpus.
    "q145_apportion" -> Q(
      (s, d) => {
        val g = Tables.documents(s, d)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"))
        val wAll = Window.partitionBy()
        g.withColumn("total", sum(col("n_docs")).over(wAll))
          .withColumn("base_alloc", expr("(1000 * n_docs) div total"))
          .withColumn("rem", expr("(1000 * n_docs) % total"))
          .withColumn("leftover",
            lit(1000L) - sum(col("base_alloc")).over(wAll))
          .withColumn("rrk", row_number().over(
            Window.orderBy(col("rem").desc, col("lang"), col("source")))
            .cast("long"))
          .withColumn("extra",
            when(col("rrk") <= col("leftover"), 1L).otherwise(0L))
          .select(col("lang"), col("source"), col("n_docs"),
            col("base_alloc"), col("rem"), col("extra"),
            (col("base_alloc") + col("extra")).as("alloc"))
          .orderBy("lang", "source")
      },
      Some("""WITH g AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS total
             |      FROM g),
             |b AS (SELECT *,
             |        CAST((1000 * n_docs) // total AS BIGINT) AS base_alloc,
             |        CAST((1000 * n_docs) % total AS BIGINT) AS rem
             |      FROM t),
             |l AS (SELECT *,
             |        CAST(1000 - sum(base_alloc) OVER () AS BIGINT)
             |          AS leftover,
             |        row_number() OVER (ORDER BY rem DESC, lang, source)
             |          AS rrk
             |      FROM b)
             |SELECT lang, source, n_docs, base_alloc, rem,
             |  CAST(CASE WHEN rrk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             |    AS extra,
             |  CAST(base_alloc + CASE WHEN rrk <= leftover THEN 1 ELSE 0 END
             |       AS BIGINT) AS alloc
             |FROM l ORDER BY lang, source""".stripMargin)),

    // BPE applied: re-learn q143's merges, tokenize the corpus with
    // them, and report per-source compression — words, single-char
    // symbols before, symbols after, symbols saved. The application is
    // vocabulary-shaped too: merges replay on DISTINCT words (map-only
    // replaces), and per-source totals come from a join of the encoded
    // vocab against (source, word) counts — corpus size only ever enters
    // through the two word-count aggregations.
    "q146_bpe_compression" -> Q(
      (s, d) => {
        import graft.llm.BpeTrainer
        val wordsSrc = Tables.documents(s, d)
          .select(col("source"),
            explode(split(TextFunctions.normalized(col("text")), " "))
              .as("word"))
          .filter(col("word") =!= "" &&
            instr(col("word"), BpeTrainer.L) === 0 &&
            instr(col("word"), BpeTrainer.R) === 0)
          .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
        val vocab = wordsSrc.groupBy("word").agg(sum(col("cnt")).as("freq"))
        val merges = BpeTrainer.train(vocab, rounds = 3)
        val enc = vocab.select(col("word"),
          size(BpeTrainer.symbols(BpeTrainer.encode(col("word"), merges)))
            .cast("long").as("n_sym"))
        wordsSrc.join(enc, "word")
          .groupBy("source")
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * length(col("word"))).as("n_sym_before"),
            sum(col("cnt") * col("n_sym")).as("n_sym_after"))
          .withColumn("saved", col("n_sym_before") - col("n_sym_after"))
          .orderBy("source")
      },
      Some(s"""WITH ts AS (
              |  SELECT source, unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |tf AS (SELECT source, w AS word,
              |         CAST(count(*) AS BIGINT) AS cnt
              |       FROM ts WHERE w <> '' AND strpos(w, chr(2)) = 0
              |         AND strpos(w, chr(3)) = 0
              |       GROUP BY 1, 2),
              |wf AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS freq
              |       FROM tf GROUP BY word),
              |s0 AS (SELECT word, freq, regexp_replace(word, '(.)',
              |         chr(2) || '\\1' || chr(3), 'g') AS s FROM wf),
              |a1 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s0),
              |p1 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a1)
              |  GROUP BY 1, 2),
              |w1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
              |s1 AS (SELECT word, freq, replace(s,
              |         chr(2) || (SELECT a FROM w1) || chr(3) ||
              |         chr(2) || (SELECT b FROM w1) || chr(3),
              |         chr(2) || (SELECT a || b FROM w1) || chr(3)) AS s
              |       FROM s0),
              |a2 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s1),
              |p2 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a2)
              |  GROUP BY 1, 2),
              |w2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
              |s2 AS (SELECT word, freq, replace(s,
              |         chr(2) || (SELECT a FROM w2) || chr(3) ||
              |         chr(2) || (SELECT b FROM w2) || chr(3),
              |         chr(2) || (SELECT a || b FROM w2) || chr(3)) AS s
              |       FROM s1),
              |a3 AS (SELECT freq, string_split(substr(s, 2, len(s) - 2),
              |         chr(3) || chr(2)) AS arr FROM s2),
              |p3 AS (SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt
              |  FROM (SELECT freq, unnest(list_transform(
              |          range(1, len(arr)),
              |          i -> {'a': arr[i], 'b': arr[i+1]})) AS u
              |        FROM a3)
              |  GROUP BY 1, 2),
              |w3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
              |s3 AS (SELECT word, replace(s,
              |         chr(2) || (SELECT a FROM w3) || chr(3) ||
              |         chr(2) || (SELECT b FROM w3) || chr(3),
              |         chr(2) || (SELECT a || b FROM w3) || chr(3)) AS s
              |       FROM s2),
              |enc AS (SELECT word,
              |          CAST(len(string_split(substr(s, 2, len(s) - 2),
              |            chr(3) || chr(2))) AS BIGINT) AS n_sym
              |        FROM s3)
              |SELECT tf.source, CAST(sum(cnt) AS BIGINT) AS n_words,
              |  CAST(sum(cnt * len(word)) AS BIGINT) AS n_sym_before,
              |  CAST(sum(cnt * n_sym) AS BIGINT) AS n_sym_after,
              |  CAST(sum(cnt * len(word)) - sum(cnt * n_sym) AS BIGINT)
              |    AS saved
              |FROM tf JOIN enc USING (word)
              |GROUP BY tf.source ORDER BY tf.source""".stripMargin)),

    // Stratified evaluation-set draw: q145's exact Hamilton allocation
    // COMPOSED with q133's deterministic md5-priority ranking — each
    // (lang, source) stratum contributes exactly its apportioned share,
    // drawn by hash priority so the set is reproducible and append-
    // stable. The allocation table broadcasts (stratum grain); the only
    // corpus-scale work is the per-stratum rank, a WindowGroupLimit-
    // friendly top-K. Strata smaller than their allocation contribute
    // everything they have (rk never reaches alloc).
    "q147_eval_draw" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val g = docs.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"))
        val wAll = Window.partitionBy()
        val alloc = g
          .withColumn("total", sum(col("n_docs")).over(wAll))
          .withColumn("base_alloc", expr("(1000 * n_docs) div total"))
          .withColumn("rem", expr("(1000 * n_docs) % total"))
          .withColumn("leftover",
            lit(1000L) - sum(col("base_alloc")).over(wAll))
          .withColumn("rrk", row_number().over(
            Window.orderBy(col("rem").desc, col("lang"), col("source")))
            .cast("long"))
          .select(col("lang"), col("source"),
            (col("base_alloc") +
              when(col("rrk") <= col("leftover"), 1L).otherwise(0L))
              .as("alloc"))
        val ranked = docs
          .select(col("lang"), col("source"), col("doc_id"),
            substring(md5(col("doc_id").cast("string")), 1, 16).as("pri"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang", "source").orderBy("pri", "doc_id"))
            .cast("long"))
        ranked.join(broadcast(alloc), Seq("lang", "source"))
          .filter(col("rk") <= col("alloc"))
          .select(col("lang"), col("source"), col("rk"), col("doc_id"))
          .orderBy("lang", "source", "rk")
      },
      Some("""WITH g AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS total
             |      FROM g),
             |b AS (SELECT *,
             |        CAST((1000 * n_docs) // total AS BIGINT) AS base_alloc,
             |        CAST((1000 * n_docs) % total AS BIGINT) AS rem
             |      FROM t),
             |l AS (SELECT *,
             |        CAST(1000 - sum(base_alloc) OVER () AS BIGINT)
             |          AS leftover,
             |        row_number() OVER (ORDER BY rem DESC, lang, source)
             |          AS rrk
             |      FROM b),
             |alloc AS (SELECT lang, source,
             |            CAST(base_alloc + CASE WHEN rrk <= leftover
             |              THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |          FROM l),
             |r AS (SELECT lang, source, doc_id,
             |        row_number() OVER (PARTITION BY lang, source
             |          ORDER BY substring(md5(CAST(doc_id AS VARCHAR)),
             |            1, 16), doc_id) AS rk
             |      FROM documents)
             |SELECT r.lang, r.source, CAST(rk AS BIGINT) AS rk, doc_id
             |FROM r JOIN alloc ON r.lang = alloc.lang
             |  AND r.source = alloc.source
             |WHERE rk <= alloc
             |ORDER BY r.lang, r.source, rk""".stripMargin)),

    // Rendezvous (highest-random-weight) sharding: each doc goes to the
    // shard with the max md5-derived weight — the stateless assignment
    // scheme whose defining property is MINIMAL movement under resize
    // (only docs whose new shard WINS move; expect ~1/17 when going
    // 16→17). Both assignments and the movement audit are pure
    // map-side array-expression work — no shuffle except the final
    // 16-row histogram — and exactly replayable (hex-cast md5 weights,
    // struct-min tie-break on smallest shard id).
    "q148_rendezvous_shards" -> Q(
      (s, d) => {
        def weight(j: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            j.cast("string"))), 1, 8), 16, 10).cast("long")
        def shard(n: Int) =
          array_min(transform(sequence(lit(0), lit(n - 1)),
            j => struct((-weight(j)).as("nw"), j.cast("long").as("j"))))
            .getField("j")
        Tables.documents(s, d)
          .select(col("doc_id"), shard(16).as("shard"),
            shard(17).as("shard17"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard") =!= col("shard17"), 1L).otherwise(0L))
              .as("n_moved"))
          .orderBy("shard")
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    (list_min(list_transform(range(0, 16), j ->
             |      {'nw': -CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |         || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT),
             |       'j': j}))).j AS shard,
             |    (list_min(list_transform(range(0, 17), j ->
             |      {'nw': -CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |         || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT),
             |       'j': j}))).j AS shard17
             |  FROM documents)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN shard <> shard17 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_moved
             |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)),

    // Frequency estimates through the PERSISTED count-min index: build
    // on the even-doc_id half, fold in the odd half with addBatch, probe
    // the top-20 tokens. Because CMS merge is elementwise addition the
    // incremental index is cell-for-cell identical to a full build
    // (CmsIndexSpec pins it), so the oracle is simply the full-corpus
    // sketch replay — the same estimates q138 checks, now arrived at
    // without ever rescanning history.
    "q149_cms_incremental" -> Q(
      (s, d) => {
        import graft.llm.CmsIndex
        val dir = graft.queries.Scratch.dir("graft-q149-cms")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(TextFunctions.normalized(col("text")), " "))
              .as("w"))
          .filter(col("w") =!= "")
          .withColumn("h", TextFunctions.polyHash(col("w")))
        CmsIndex.build(
          toks.filter(col("doc_id") % 2 === 0).select("h"), s"$dir/idx")
        CmsIndex.addBatch(s, s"$dir/idx",
          toks.filter(col("doc_id") % 2 === 1).select("h"))
        val top = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("w")).limit(20)
          .withColumn("h", TextFunctions.polyHash(col("w")))
        CmsIndex.estimates(s, s"$dir/idx", top.select("w", "h"))
          .join(top.select("w", "exact_cnt"), "w")
          .select(col("w"), col("exact_cnt"), col("cms_est"))
          .orderBy(col("exact_cnt").desc, col("w"))
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
              |       FROM t WHERE w <> '' GROUP BY w),
              |ph AS (SELECT w, exact_cnt, list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(range(1, len(w)+1),
              |        i -> CAST(ascii(w[i]) AS BIGINT))),
              |    (acc, c) -> (acc * 131 + c) % 1000000007) AS h
              |  FROM tf),
              |cells AS (
              |  SELECT j.j, ((31 + 2*j.j) * ph.h + 7 + 97*j.j)
              |           % 1000000007 % 256 AS cell,
              |         CAST(sum(exact_cnt) AS BIGINT) AS cell_cnt
              |  FROM ph CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |  GROUP BY 1, 2),
              |top AS (SELECT w, exact_cnt, h FROM ph
              |        ORDER BY exact_cnt DESC, w LIMIT 20)
              |SELECT top.w, top.exact_cnt,
              |       CAST(min(c.cell_cnt) AS BIGINT) AS cms_est
              |FROM top CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |JOIN cells c ON c.j = j.j
              | AND c.cell = ((31 + 2*j.j) * top.h + 7 + 97*j.j)
              |              % 1000000007 % 256
              |GROUP BY 1, 2
              |ORDER BY top.exact_cnt DESC, top.w""".stripMargin)),

    // STREAMING sketch maintenance: the corpus token stream arrives as
    // two real microbatches (StreamOps.replayFiles) and foreachBatch
    // folds each into the persisted CMS
    // index — build on batch 1, addBatch on batch 2. Because CMS merge
    // is exact, the post-stream estimates equal the full-corpus sketch
    // replay, and n_versions = 2 pins that the stream really delivered
    // two batches (not one coalesced scan). This is the ingest-time
    // shape of q138/q149: frequency stats that stay current as data
    // lands, never rescanning history.
    "q150_stream_cms" -> Q(
      (s, d) => {
        import graft.llm.CmsIndex
        val root = graft.queries.Scratch.dir("graft-q150-scms")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(TextFunctions.normalized(col("text")), " "))
              .as("w"))
          .filter(col("w") =!= "")
          .withColumn("h", TextFunctions.polyHash(col("w")))
        val stream = StreamOps.replayFiles(s"$root/src", Seq(
          toks.filter(col("doc_id") % 2 === 0).select("h"),
          toks.filter(col("doc_id") % 2 === 1).select("h")))
        StreamOps.drain(stream, s"$root/ck") { (b, bid) =>
          // exactly-once: a replayed batch must not double CMS cells
          graft.llm.IndexMaintenance.foldOnce(bid,
              CmsIndex.latestVersion(s"$root/idx")) {
            if (CmsIndex.latestVersion(s"$root/idx").isEmpty)
              CmsIndex.build(b, s"$root/idx")
            else CmsIndex.addBatch(s, s"$root/idx", b)
          }
        }
        val nv = CmsIndex.latestVersion(s"$root/idx").getOrElse(0).toLong
        val top = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("w")).limit(20)
          .withColumn("h", TextFunctions.polyHash(col("w")))
        CmsIndex.estimates(s, s"$root/idx", top.select("w", "h"))
          .join(top.select("w", "exact_cnt"), "w")
          .select(col("w"), col("exact_cnt"), col("cms_est"),
            lit(nv).as("n_versions"))
          .orderBy(col("exact_cnt").desc, col("w"))
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w
              |  FROM documents),
              |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
              |       FROM t WHERE w <> '' GROUP BY w),
              |ph AS (SELECT w, exact_cnt, list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(range(1, len(w)+1),
              |        i -> CAST(ascii(w[i]) AS BIGINT))),
              |    (acc, c) -> (acc * 131 + c) % 1000000007) AS h
              |  FROM tf),
              |cells AS (
              |  SELECT j.j, ((31 + 2*j.j) * ph.h + 7 + 97*j.j)
              |           % 1000000007 % 256 AS cell,
              |         CAST(sum(exact_cnt) AS BIGINT) AS cell_cnt
              |  FROM ph CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |  GROUP BY 1, 2),
              |top AS (SELECT w, exact_cnt, h FROM ph
              |        ORDER BY exact_cnt DESC, w LIMIT 20)
              |SELECT top.w, top.exact_cnt,
              |       CAST(min(c.cell_cnt) AS BIGINT) AS cms_est,
              |       CAST(2 AS BIGINT) AS n_versions
              |FROM top CROSS JOIN (SELECT unnest(range(4)) AS j) j
              |JOIN cells c ON c.j = j.j
              | AND c.cell = ((31 + 2*j.j) * top.h + 7 + 97*j.j)
              |              % 1000000007 % 256
              |GROUP BY 1, 2
              |ORDER BY top.exact_cnt DESC, top.w""".stripMargin)),

    // Range-partitioner boundary computation — Spark's RangePartitioner
    // shape made explicit and deterministic: a FIXED-SIZE coordinated
    // sample (the 256 docs with smallest md5 priority — TakeOrdered, no
    // global sort), exact boundary picks at ranks i·32 inside it, then
    // every doc assigned pid = #(boundaries < n_chars) via a 7-element
    // array fold, and the resulting partition histogram audited
    // (min/max/count per pid). This is how you range-partition 100 TB
    // evenly without ranking 100 TB: only the bounded sample is ever
    // sorted; the boundary table is collected as k-bounded model state.
    "q151_range_partitioner" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val samp = docs
          .select(substring(md5(col("doc_id").cast("string")), 1, 16)
            .as("pri"), col("n_chars"), col("doc_id"))
          .orderBy("pri", "doc_id").limit(256)
        val bnds = samp
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n_chars"), col("doc_id"))))
          .filter(col("rn") % 32 === 0 && col("rn") < 256)
          .orderBy("rn")
          .select("n_chars")
          .collect().map(_.getLong(0)).toSeq
        docs
          .withColumn("pid",
            aggregate(typedlit(bnds), lit(0L),
              (acc, b) => acc +
                when(col("n_chars") > b, 1L).otherwise(0L)))
          .groupBy("pid")
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("pid")
      },
      Some("""WITH pri AS (
             |  SELECT doc_id, n_chars,
             |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS p
             |  FROM documents),
             |samp AS (SELECT n_chars, doc_id FROM pri
             |         ORDER BY p, doc_id LIMIT 256),
             |r AS (SELECT n_chars, row_number() OVER
             |        (ORDER BY n_chars, doc_id) AS rn FROM samp),
             |bnd AS (SELECT n_chars AS v FROM r
             |        WHERE rn % 32 = 0 AND rn < 256)
             |SELECT CAST((SELECT count(*) FROM bnd WHERE bnd.v < d.n_chars)
             |            AS BIGINT) AS pid,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM documents d GROUP BY 1 ORDER BY pid""".stripMargin)),

    // Log-bucketed quantile sketch vs exact nearest-rank percentiles:
    // build the HdrHistogram-bucketed sketch of doc lengths (top-5
    // mantissa bits kept => < 2^-5 relative error per bucket, bucket
    // table bounded at 64*32 rows no matter the corpus size), answer
    // p50/p90/p99 from the sketch's cumulative walk, and pin the exact
    // nearest-rank value inside every [est_lb, est_ub] envelope. The
    // sketch side is one scan + a tiny-table window; the exact side
    // (global sort) is the verification baseline, same division of
    // labor as q155's exact_distinct column. Bucket ids are pure
    // integer arithmetic (length(bin(v)), shifts) replayed bit-for-bit
    // by the oracle — no percentile_approx KLL binary, no log().
    "q157_quantile_sketch" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select(col("n_chars").cast("long").as("v"))
          .filter(col("v") >= 0)
        val sk = graft.operators.QuantileSketch.build(docs, col("v"))
        val est = graft.operators.QuantileSketch.quantiles(sk, Seq(50, 90, 99))
        val nDf = docs.agg(count(lit(1)).as("n"))
        val tgt = Seq(50, 90, 99).toDF("p")
          .crossJoin(broadcast(nDf))
          .select(col("p").cast("long").as("p"),
            expr("(n * p + 99) div 100").as("target"))
        val ranked = docs
          .withColumn("rn", row_number().over(Window.orderBy("v")).cast("long"))
        val exact = ranked.join(tgt, col("rn") === col("target"))
          .select(col("p"), col("v").as("exact_val"))
        est.join(exact, "p")
          .select("p", "est_lb", "est_ub", "exact_val")
          .orderBy("p")
      },
      Some("""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v
             |           FROM documents WHERE n_chars >= 0),
             |b AS (SELECT CASE WHEN v < 32 THEN v
             |        ELSE (CAST(length(bin(v)) AS BIGINT) - 6) * 32
             |             + (v >> (CAST(length(bin(v)) AS INT) - 6))
             |      END AS bucket FROM v),
             |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
             |c AS (SELECT bucket,
             |        sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
             |n AS (SELECT count(*) AS n FROM v),
             |q AS (SELECT unnest([50, 90, 99]) AS p),
             |t AS (SELECT CAST(p AS BIGINT) AS p,
             |        CAST((n.n * p + 99) // 100 AS BIGINT) AS target
             |      FROM q, n),
             |sel AS (SELECT p, min(bucket) AS bucket
             |        FROM t JOIN c ON c.cum >= t.target GROUP BY p),
             |est AS (SELECT p,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE (bucket - ((bucket >> 5) - 1) * 32)
             |           << CAST((bucket >> 5) - 1 AS INT) END AS est_lb,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE ((bucket - ((bucket >> 5) - 1) * 32 + 1)
             |            << CAST((bucket >> 5) - 1 AS INT)) - 1 END AS est_ub
             |  FROM sel),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
             |ex AS (SELECT t.p, r.v AS exact_val
             |       FROM t JOIN r ON r.rn = t.target)
             |SELECT est.p AS p, CAST(est_lb AS BIGINT) AS est_lb,
             |  CAST(est_ub AS BIGINT) AS est_ub,
             |  CAST(exact_val AS BIGINT) AS exact_val
             |FROM est JOIN ex ON est.p = ex.p ORDER BY est.p""".stripMargin)),

    // Per-group quantile sketches (q157's grouped form): one bounded
    // bucket table PER SOURCE in a single aggregation pass, quantile
    // walks as PARTITIONED windows (no single-task stage — the grouped
    // sketch is what per-domain length profiling runs at 100 TB). Every
    // (source, p) envelope is verified to contain the exact per-group
    // nearest-rank percentile, replayed relationally like q157.
    "q169_group_quantiles" -> Q(
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d)
          .select(col("source"), col("n_chars").cast("long").as("v"))
          .filter(col("v") >= 0)
        val sk = graft.operators.QuantileSketch
          .buildBy(base, Seq("source"), col("v"))
        val est = graft.operators.QuantileSketch
          .quantilesBy(sk, Seq("source"), Seq(50, 90, 99))
        val n = base.groupBy("source").agg(count(lit(1)).as("n"))
        val tgt = n.crossJoin(broadcast(Seq(50, 90, 99).toDF("p")))
          .select(col("source"), col("p").cast("long").as("p"),
            expr("(n * p + 99) div 100").as("target"))
        val ranked = base.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("v")).cast("long"))
        val exact = ranked.join(
            tgt.withColumnRenamed("source", "tsrc"),
            col("source") === col("tsrc") && col("rn") === col("target"))
          .select(col("source"), col("p"), col("v").as("exact_val"))
        est.join(exact, Seq("source", "p"))
          .select("source", "p", "est_lb", "est_ub", "exact_val")
          .orderBy("source", "p")
      },
      Some("""WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v
             |           FROM documents WHERE n_chars >= 0),
             |b AS (SELECT source, CASE WHEN v < 32 THEN v
             |        ELSE (CAST(length(bin(v)) AS BIGINT) - 6) * 32
             |             + (v >> (CAST(length(bin(v)) AS INT) - 6))
             |      END AS bucket FROM v),
             |sk AS (SELECT source, bucket, count(*) AS cnt
             |       FROM b GROUP BY 1, 2),
             |c AS (SELECT source, bucket,
             |        sum(cnt) OVER (PARTITION BY source ORDER BY bucket)
             |          AS cum FROM sk),
             |n AS (SELECT source, count(*) AS n FROM v GROUP BY source),
             |q AS (SELECT unnest([50, 90, 99]) AS p),
             |t AS (SELECT n.source, CAST(p AS BIGINT) AS p,
             |        CAST((n.n * p + 99) // 100 AS BIGINT) AS target
             |      FROM q, n),
             |sel AS (SELECT t.source, t.p, min(bucket) AS bucket
             |        FROM t JOIN c ON c.source = t.source
             |          AND c.cum >= t.target
             |        GROUP BY t.source, t.p),
             |est AS (SELECT source, p,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE (bucket - ((bucket >> 5) - 1) * 32)
             |           << CAST((bucket >> 5) - 1 AS INT) END AS est_lb,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE ((bucket - ((bucket >> 5) - 1) * 32 + 1)
             |            << CAST((bucket >> 5) - 1 AS INT)) - 1 END AS est_ub
             |  FROM sel),
             |r AS (SELECT source, v, row_number() OVER (
             |        PARTITION BY source ORDER BY v) AS rn FROM v),
             |ex AS (SELECT t.source, t.p, r.v AS exact_val
             |       FROM t JOIN r ON r.source = t.source
             |         AND r.rn = t.target)
             |SELECT est.source AS source, est.p AS p,
             |  CAST(est_lb AS BIGINT) AS est_lb,
             |  CAST(est_ub AS BIGINT) AS est_ub,
             |  CAST(exact_val AS BIGINT) AS exact_val
             |FROM est JOIN ex ON est.source = ex.source AND est.p = ex.p
             |ORDER BY source, p""".stripMargin)),

    // Hierarchy flattening by pointer doubling (operators/TreePaths
    // .scala): the documents ids form a synthetic 10-root forest
    // (parent = id div 3, ids < 10 are self-rooted) ~8 levels deep;
    // FOUR doubling rounds resolve every node's (root, depth) where
    // per-level iteration would need eight+. The ORACLE is a literal
    // recursive CTE — the O(log d) relational program must agree
    // row-for-row with the O(d) textbook evaluation. Output is the
    // (root, depth) census plus a min-node witness per layer.
    "q171_tree_paths" -> Q(
      (s, d) => {
        val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
          .withColumn("parent",
            when(col("node") < 10, col("node"))
              .otherwise(expr("node div 3")))
        graft.operators.TreePaths.resolve(nodes, rounds = 4)
          .groupBy("root", "depth")
          .agg(count(lit(1)).as("n_nodes"), min("node").as("min_node"))
          .orderBy("root", "depth")
      },
      Some("""WITH RECURSIVE r(node, root, depth) AS (
             |  SELECT doc_id, doc_id, CAST(0 AS BIGINT)
             |  FROM documents WHERE doc_id < 10
             |  UNION ALL
             |  SELECT d.doc_id, r.root, r.depth + 1
             |  FROM documents d JOIN r ON (d.doc_id // 3) = r.node
             |  WHERE d.doc_id >= 10)
             |SELECT root, depth, CAST(count(*) AS BIGINT) AS n_nodes,
             |  min(node) AS min_node
             |FROM r GROUP BY root, depth ORDER BY root, depth""".stripMargin)),

    // STREAMING windowed quantiles — the ops-telemetry shape (per-hour
    // latency percentiles) through the REAL engine: the q157 sketch's
    // bucket transform IS a streaming-aggregable group-by, so per-
    // (event-hour, bucket) counts accumulate across two delivered
    // microbatches in complete mode (sketch merge = count addition —
    // batching CANNOT change the result, the mergeability contract at
    // ingest), and the quantile walk runs post-drain over the bounded
    // bucket table, partitioned per window. Each (window, p) envelope
    // must contain the exact nearest-rank percentile; the oracle
    // replays bucketing, cumulative walk, envelope arithmetic, AND the
    // exact rank check relationally.
    "q234_stream_windowed_quantiles" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import s.implicits._
        val root = graft.queries.Scratch.dir("graft-q234-swq")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"),
            expr("CAST(round(value * 100) AS BIGINT)").as("v"))
          .filter(col("v") >= 0)
        val counts = StreamOps.replayFiles(s"$root/src", Seq(
            ev.filter(col("event_id") % 2 === 0),
            ev.filter(col("event_id") % 2 =!= 0)))
          .select(window(col("ts"), "1 day").getField("start")
            .cast("long").as("ws"), col("v"))
          .withColumn("bucket", expr(
            """CASE WHEN v < 32L THEN v
              |     ELSE (CAST(length(bin(v)) AS BIGINT) - 6) * 32L
              |          + shiftright(v, CAST(length(bin(v)) AS INT) - 6)
              |END""".stripMargin))
          .groupBy("ws", "bucket").agg(count(lit(1)).as("cnt"))
        // localCheckpoint: the sketch is bounded (windows × ≤64·32
        // buckets) and the quantile walk self-joins it — materializing
        // also detaches the plan from the memory-sink view, whose
        // attribute reuse breaks the self-join's reference dedup
        val sketch = StreamOps.runToBatch(s, counts, "complete",
            statePartitions = StreamOps.confStatePartitions(s))
          .materialized
        val est = graft.operators.QuantileSketch
          .quantilesBy(sketch, Seq("ws"), Seq(50, 95, 99))
        // exactness envelope: per-(window, p) nearest-rank percentile,
        // computed in batch over the same values
        val base = ev.select(
          window(col("ts"), "1 day").getField("start")
            .cast("long").as("ws"), col("v"))
        val n = base.groupBy("ws").agg(count(lit(1)).as("n"))
        val tgt = n.crossJoin(broadcast(Seq(50, 95, 99).toDF("p")))
          .select(col("ws").as("tws"), col("p").cast("long").as("p"),
            expr("(n * p + 99) div 100").as("target"))
        val ranked = base.withColumn("rn", row_number().over(
          Window.partitionBy("ws").orderBy("v")).cast("long"))
        val exact = ranked.join(tgt,
            col("rn") === col("target") && col("ws") === col("tws"))
          .select(col("ws"), col("p"), col("v").as("exact_val"))
        est.join(exact, Seq("ws", "p"))
          .select("ws", "p", "est_lb", "est_ub", "exact_val")
          .orderBy("ws", "p")
      },
      Some("""WITH v0 AS (SELECT
             |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws,
             |    CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE round(value * 100) >= 0),
             |b AS (SELECT ws, CASE WHEN v < 32 THEN v
             |        ELSE (CAST(length(bin(v)) AS BIGINT) - 6) * 32
             |             + (v >> (CAST(length(bin(v)) AS INT) - 6))
             |      END AS bucket FROM v0),
             |sk AS (SELECT ws, bucket, count(*) AS cnt FROM b
             |       GROUP BY ws, bucket),
             |c AS (SELECT ws, bucket,
             |        sum(cnt) OVER (PARTITION BY ws ORDER BY bucket)
             |          AS cum FROM sk),
             |n AS (SELECT ws, count(*) AS n FROM v0 GROUP BY ws),
             |q AS (SELECT unnest([50, 95, 99]) AS p),
             |t AS (SELECT ws, CAST(p AS BIGINT) AS p,
             |        CAST((n.n * p + 99) // 100 AS BIGINT) AS target
             |      FROM q, n),
             |sel AS (SELECT t.ws, t.p, min(bucket) AS bucket
             |        FROM t JOIN c ON c.ws = t.ws AND c.cum >= t.target
             |        GROUP BY t.ws, t.p),
             |est AS (SELECT ws, p,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE (bucket - ((bucket >> 5) - 1) * 32)
             |           << CAST((bucket >> 5) - 1 AS INT) END AS est_lb,
             |    CASE WHEN bucket < 32 THEN bucket
             |      ELSE ((bucket - ((bucket >> 5) - 1) * 32 + 1)
             |            << CAST((bucket >> 5) - 1 AS INT)) - 1 END AS est_ub
             |  FROM sel),
             |r AS (SELECT ws, v, row_number() OVER (PARTITION BY ws
             |        ORDER BY v) AS rn FROM v0),
             |ex AS (SELECT t.ws, t.p, r.v AS exact_val
             |       FROM t JOIN r ON r.ws = t.ws AND r.rn = t.target)
             |SELECT est.ws, est.p AS p, CAST(est_lb AS BIGINT) AS est_lb,
             |  CAST(est_ub AS BIGINT) AS est_ub,
             |  CAST(exact_val AS BIGINT) AS exact_val
             |FROM est JOIN ex ON est.ws = ex.ws AND est.p = ex.p
             |ORDER BY est.ws, est.p""".stripMargin)))

  /** DuckDB-side text normalization, shared with [[LlmQueries]]. */
  private def normSql: String = LlmQueries.normSql
}
