package graft.llm

import java.io.{BufferedInputStream, BufferedOutputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.Parquet

/** Persisted Bloom blocklist — the shippable form of a decontamination
  * list. A benchmark/blocklist corpus is summarized ONCE into a Bloom
  * filter over its normalized shingle hashes and persisted (a few MB
  * regardless of corpus size); every later ingest batch probes the
  * filter without rescanning the blocklist corpus. This is how
  * decontamination lists are actually distributed: the bitmap travels,
  * the benchmark text does not.
  *
  * Exactness contract (mirrors [[graft.operators.BloomJoin]]): the
  * Bloom alone can only say "maybe contaminated" (false positives would
  * wrongly drop clean documents), so flagged documents are re-verified
  * with an exact join against the persisted HASH list — which prunes to
  * the flagged docs' shingles only. Results are therefore exact; the
  * Bloom's job is to keep the exact join's probe side tiny. False
  * negatives do not exist (Bloom guarantee), so nothing contaminated
  * slips through.
  *
  * Scale posture: build is a distributed `stat.bloomFilter`
  * treeAggregate; the driver holds only the final bitmap. The probe is
  * a broadcast-bitmap lookup per shingle BEFORE any join; the exact
  * verify joins only the flagged minority against the (pruned) hash
  * list.
  */
object BloomBlocklist {

  /** Shingle-hash column: xxhash64 over the n-gram (portable within
    * Spark; the list and probes always hash on the engine side).
    */
  private def shingleHashes(textCol: Column, n: Int): Column =
    transform(
      array_distinct(graft.functions.TextFunctions.wordShingles(textCol, n)),
      s => xxhash64(s))

  /** Build and persist: the exact hash list (parquet, for the verify
    * join) plus the Bloom bitmap (sketch serialization). `expectedItems`
    * sizes the bitmap; ~1.2 MB per million items at 1% fpp.
    */
  def build(
      blocklist: DataFrame,
      textCol: String,
      n: Int,
      path: String,
      expectedItems: Long,
      fpp: Double = 0.01): Unit = {
    val spark = blocklist.sparkSession
    val hashes = blocklist
      .select(explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    hashes.write.mode("overwrite").parquet(s"$path/hashes")
    val bf = Parquet.read(spark, s"$path/hashes").stat
      .bloomFilter("h", expectedItems, fpp)
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = new BufferedOutputStream(fs.create(p, true))
    try bf.writeTo(out) finally out.close()
  }

  private def loadBloom(spark: SparkSession, path: String): BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = new BufferedInputStream(fs.open(p))
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Classify a batch against a persisted blocklist: adds
    * `n_bloom_hits` (shingles the bitmap flagged — may include FPs) and
    * `n_contaminated` (exact count after the verify join; 0 = clean).
    * Only documents with at least one Bloom hit reach the exact join.
    */
  def classify(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      path: String): DataFrame = {
    val spark = batch.sparkSession
    val bcast = spark.sparkContext.broadcast(loadBloom(spark, path))
    // native codegen'd array probe (graft.plans.BloomFilterHits), not a
    // udf; a null text (null shingle array) has no hits, composed via
    // coalesce at the Column layer
    import org.apache.spark.sql.graft.ColumnBridge
    def bloomHits(hs: Column): Column = coalesce(
      ColumnBridge.column(
        graft.plans.BloomFilterHits(ColumnBridge.expression(hs), bcast)),
      array().cast("array<bigint>"))
    val withHits = batch.withColumn("__hits",
      bloomHits(shingleHashes(col(textCol), n)))
    val flagged = withHits.filter(size(col("__hits")) > 0)
      .select(col(idCol), explode(col("__hits")).as("h"))
    val confirmed = flagged
      .join(Parquet.read(spark, s"$path/hashes"), Seq("h"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__n_confirmed"))
    withHits
      .join(confirmed, Seq(idCol), "left")
      .select(batch.columns.map(col) :+
        size(col("__hits")).cast("long").as("n_bloom_hits") :+
        coalesce(col("__n_confirmed"), lit(0L)).as("n_contaminated"): _*)
  }
}
