package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Parquet

/** sf1.0 ORACLE dataset — a 10× replica of every sf0.1 table with
  * per-copy KEY offsets, written so the driver's own correctness gate
  * (`graft.Verify` + the DuckDB compare) can run at a decade above its
  * usual scale. Correctness was only ever hash-checked at sf0.01;
  * scale-dependent wrongness — int-range overflow, partition-count-
  * sensitive sampling, hot-bucket caps actually firing, tie-breaks that
  * only tie when values repeat enough — passes that gate by
  * construction. This tool exists so ~15 flagship queries get the SAME
  * rows+schema+hash check at 10× sf0.1 (= 100× the driver gate) once
  * per round.
  *
  * Replication preserves join structure per copy: fact keys and the
  * dimension keys they reference are offset TOGETHER (copy k's orders
  * reference copy k's customers), while the tiny fixed dims
  * (region/nation) stay verbatim — their keys are category labels, not
  * identity spaces. Text/vector payloads replicate verbatim: the oracle
  * compare needs identical inputs on both engines, not corpus realism
  * (ScaleProof's mutated replicas cover that axis).
  *
  * Usage: `runMain graft.tools.ScaleOracle [sf0.1Dir] [outDir] [copies]`
  * then `SPARK_GRAFT_ONLY=<flagships> runMain graft.Verify outDir ...`.
  */
object ScaleOracle {

  private val Off = 10000000L // one id space per copy, ScaleProof's unit

  /** Replicate `df` `copies`× with every column in `keys` shifted by
    * copy·Off — ids stay unique and per-copy join structure intact.
    */
  def replicate(df: DataFrame, copies: Int, keys: Seq[String]): DataFrame = {
    val c = df.sparkSession.range(copies)
    keys.foldLeft(c.crossJoin(df))((d, k) =>
      d.withColumn(k, col(k) + col("id") * Off))
      .drop("id")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1-oracle")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local("graft-scale-oracle")

    def table(name: String): DataFrame =
      Parquet.read(spark, s"$sfDir/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleoracle] $name: " +
        Parquet.read(spark, s"$out/$name.parquet").count() + " rows")
    }

    // fixed dims verbatim — category spaces, not identity spaces
    write("region", table("region"))
    write("nation", table("nation"))
    // identity-keyed tables: keys (and the foreign keys that reference
    // them) offset per copy
    write("customer", replicate(table("customer"), copies, Seq("c_custkey")))
    write("supplier", replicate(table("supplier"), copies, Seq("s_suppkey")))
    write("part", replicate(table("part"), copies, Seq("p_partkey")))
    write("orders", replicate(table("orders"), copies,
      Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(table("lineitem"), copies,
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(table("events"), copies,
      Seq("event_id", "user_id")))
    // documents and embeddings replicate MUTATED (ScaleProof's copy-
    // marked text / sign-flipped vectors), NOT verbatim: both engines
    // still see identical bytes (mutation happens at generation), but
    // verbatim copies multiply every shingle's df by `copies` and the
    // EXACT-join oracle SQL for the dedup queries grows with df² —
    // measured: the verbatim form spilled >54 GB in DuckDB at 10×,
    // while the mutated form keeps the oracle's pair space ∝ corpus.
    ScaleProof.synthesize(spark, sfDir, out, copies)
    System.err.println("[scaleoracle] documents: " +
      Parquet.read(spark, s"$out/documents.parquet").count() + " rows")
    ScaleProof.synthesizeEmbeddings(spark, sfDir, out, copies)
    System.err.println("[scaleoracle] embeddings: " +
      Parquet.read(spark, s"$out/embeddings.parquet").count() + " rows")
    // Zipf-vocabulary PLANTED-pair corpus for the three pair-graph
    // flagships (q27/q42/q229), at the same decade doc count: the
    // mutated word-soup replica above has a ~31-word vocabulary, which
    // makes the exact shingle-pair-join oracle df² (DuckDB exceeded a
    // 60 GB spill cap at 50k docs) — a corpus artifact, not an
    // operator property. On a 50k-word Zipf vocabulary the same exact
    // oracle is ~linear (shingle df is small, measured 26 s at 50k
    // docs), and the only true pairs are the generator's PLANTS
    // (id%10==9 copies id-1). rewriteDenom=100 puts the plants at
    // J≈0.94: P(banding miss | b=8, r=4) ≈ 4e-6 per pair, so the
    // seeded-deterministic banding has recall exactly 1.0 on the
    // generated corpus and the full rows+schema+hash gate applies —
    // no oracle_infeasible carve-out, no probabilistic slack. (A
    // 1-in-20 rewrite rate gives mid-J plants at ~0.75, where ~5% of
    // pairs deterministically miss the default bands — that regime is
    // RecallCurves' subject, not a hash gate's: measured 4,535/4,974
    // on the first probe of this protocol.)
    val zipfDocs = args.lift(3).map(_.toLong)
      .getOrElse(copies * 5000L)
    ScaleProof.synthesizeZipfDocs(spark, s"$out/zipf", zipfDocs,
      rewriteDenom = 100)
    System.err.println("[scaleoracle] zipf documents: " +
      Parquet.read(spark, s"$out/zipf/documents.parquet").count() + " rows")
    spark.stop()
  }
}
