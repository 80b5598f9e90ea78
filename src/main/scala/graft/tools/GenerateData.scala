package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Parquet}

/** Synthetic detections/locations generator — capability match for the
  * reference's data tool (reference `tools/GenerateParquet.scala:23-31`:
  * seeded, location-skew knob, duplicate-detection injection with jittered
  * timestamps, cameras grouped per location, bounded item vocabulary).
  *
  * Unlike the reference — which builds every row on the driver and
  * `parallelize`s it (`GenerateParquet.scala:126,139`), capping the tool at
  * driver-memory scale — generation here is a distributed Catalyst plan
  * over `spark.range`: seeded `rand`/`xxhash64` column expressions, no
  * driver materialization, so the same tool produces 10^3 or 10^12 rows.
  * Duplicates are a seeded sample of the base rows re-emitted with jittered
  * timestamps (duplicate rows share detection_oid but are NOT bit-identical
  * — full-row `distinct()` must under-deduplicate, like production data).
  *
  * CLI: flag pairs, all optional —
  *   --output-dir DIR  --data-a-rows N  --data-b-rows N
  *   --duplication-rate F  --skew-location ID  --skew-factor F
  *   --num-items N  --seed N
  */
object GenerateData {

  case class Config(
      outputDir: String = "data/generated",
      dataARows: Long = 1000L,
      dataBRows: Int = 10,
      duplicationRate: Double = 0.15,
      skewLocationId: Long = 1L,
      skewFactor: Double = 5.0,
      numItems: Int = 10,
      seed: Long = 42L)

  def parseArgs(args: Array[String]): Config =
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--output-dir", v))       => c.copy(outputDir = v)
      case (c, Array("--data-a-rows", v))      => c.copy(dataARows = v.toLong)
      case (c, Array("--data-b-rows", v))      => c.copy(dataBRows = v.toInt)
      case (c, Array("--duplication-rate", v)) => c.copy(duplicationRate = v.toDouble)
      case (c, Array("--skew-location", v))    => c.copy(skewLocationId = v.toLong)
      case (c, Array("--skew-factor", v))      => c.copy(skewFactor = v.toDouble)
      case (c, Array("--num-items", v))        => c.copy(numItems = v.toInt)
      case (c, Array("--seed", v))             => c.copy(seed = v.toLong)
      case (_, Array(flag, _)) =>
        throw new IllegalArgumentException(s"Unknown flag: $flag")
      case (_, odd) =>
        throw new IllegalArgumentException(s"Dangling argument: ${odd.mkString(" ")}")
    }

  /** Locations dim: ids 1..n with deterministic synthetic names. */
  def locations(spark: SparkSession, n: Int): DataFrame =
    spark.range(1, n + 1L)
      .select(
        col("id").as("geographical_location_oid"),
        format_string("city_%03d", col("id")).as("geographical_location"))

  /** Detections fact table, fully distributed:
    *  - location: seeded rand; the skewed location receives
    *    `0.7 * f / (1 + f)` of rows (f = skewFactor), the rest uniform
    *  - camera: 10 per location, grouped by location oid
    *  - item: uniform over `item_001 .. item_N` (plus the null-rate knob
    *    of real data is represented by item ids being nullable strings)
    *  - timestamp: uniform epoch-seconds over the 30 days before `seed`'s
    *    fixed anchor (anchored, not Instant.now, so runs are reproducible)
    */
  def detections(spark: SparkSession, c: Config): DataFrame = {
    val anchor = 1735689600L // 2025-01-01T00:00:00Z, fixed for reproducibility
    val numLocs = math.max(c.dataBRows, 1)
    val skewShare = 0.7 * c.skewFactor / (1 + c.skewFactor)
    val uniqueRows = (c.dataARows * (1 - c.duplicationRate)).toLong max 1L

    val base = spark.range(1, uniqueRows + 1)
      .withColumn("r_loc", rand(c.seed))
      .withColumn("geographical_location_oid",
        when(col("r_loc") < skewShare, lit(c.skewLocationId))
          .otherwise(pmod(floor(rand(c.seed + 1) * numLocs).cast("long"), lit(numLocs.toLong)) + 1))
      .withColumn("video_camera_oid",
        col("geographical_location_oid") * 10 +
          pmod(xxhash64(col("id"), lit(c.seed)), lit(10L)) + 1)
      .withColumn("detection_oid", col("id"))
      .withColumn("item_name",
        format_string("item_%03d",
          pmod(xxhash64(col("id"), lit(c.seed + 2)), lit(c.numItems.toLong)) + 1))
      .withColumn("timestamp_detected",
        lit(anchor) - floor(rand(c.seed + 3) * 86400L * 30).cast("long"))
      .select("geographical_location_oid", "video_camera_oid", "detection_oid",
        "item_name", "timestamp_detected")

    // duplicate injection: a seeded sample of base rows re-emitted with the
    // same detection_oid and a jittered timestamp (reference duplicate
    // shape, GenerateParquet.scala:264-276)
    val dupFraction = c.duplicationRate / (1 - c.duplicationRate)
    val dups = base.sample(withReplacement = true, dupFraction, c.seed + 4)
      .withColumn("timestamp_detected",
        col("timestamp_detected") +
          pmod(xxhash64(col("detection_oid"), lit(c.seed + 5)), lit(10L)))
    base.union(dups)
  }

  def generate(spark: SparkSession, c: Config): (DataFrame, DataFrame) =
    (detections(spark, c), locations(spark, c.dataBRows))

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = GraftSession.local("graft-generate")
    try {
      val (dataA, dataB) = generate(spark, c)
      dataA.write.mode("overwrite").parquet(s"${c.outputDir}/dataA")
      dataB.write.mode("overwrite").parquet(s"${c.outputDir}/dataB")
      val written = Parquet.read(spark, s"${c.outputDir}/dataA")
      val n = written.count()
      val distinct = written.select("detection_oid").distinct().count()
      println(s"[generate] dataA rows=$n distinct_detections=$distinct " +
        f"dup_rate=${1.0 - distinct.toDouble / n}%.3f dataB rows=${c.dataBRows} " +
        s"-> ${c.outputDir}")
      written.groupBy("geographical_location_oid").count()
        .orderBy(desc("count")).show(5, false)
    } finally spark.stop()
  }
}
