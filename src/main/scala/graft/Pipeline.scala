package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AggregationRegistry, ReferenceAggregations}

/** The reference's product pipeline (`ParquetCombinerRDD.scala:26-103`) as
  * one Catalyst-planned job: read two parquet inputs, run the TOP_ITEMS
  * aggregation, write snappy parquet. The secondary aggregations
  * (ITEM_COUNT, LOCATION_STATS) are computed and sample-logged but not
  * persisted, like the reference (§3.1 step 4).
  *
  * CLI contract matches `ParquetCombinerRDD.parseArgs` (`:44-51`):
  * positional `[dataAPath dataBPath outputPath topX]`, all optional.
  */
object Pipeline {

  case class Args(
      dataAPath: String = "data/dataA.parquet",
      dataBPath: String = "data/dataB.parquet",
      outputPath: String = "data/output.parquet",
      topX: Int = 5)

  def parseArgs(args: Array[String]): Args = Args(
    dataAPath = if (args.length > 0) args(0) else Args().dataAPath,
    dataBPath = if (args.length > 1) args(1) else Args().dataBPath,
    outputPath = if (args.length > 2) args(2) else Args().outputPath,
    topX = if (args.length > 3) args(3).toInt else Args().topX)

  /** Testable entry: (spark, paths, topX) → side-effected parquet, returns
    * the written result (reference keeps an equivalent callable unit,
    * SURVEY.md §3.4).
    */
  def processParquetFiles(
      spark: SparkSession,
      dataAPath: String,
      dataBPath: String,
      outputPath: String,
      topX: Int = 5,
      logSamples: Boolean = false): DataFrame = {
    val dataA = Parquet.read(spark, dataAPath)
    val dataB = Parquet.read(spark, dataBPath)
    val params = Map[String, Any]("topX" -> topX)

    val top = AggregationRegistry.create(AggregationRegistry.TopItems)(dataA, dataB, params)

    if (logSamples) {
      // Parity with the reference's eager side outputs
      // (`ParquetCombinerRDD.scala:150-169`): computed + sampled, not written.
      AggregationRegistry.create(AggregationRegistry.ItemCount)(dataA, dataB, params).show(10, false)
      AggregationRegistry.create(AggregationRegistry.LocationStats)(dataA, dataB, params).show(10, false)
    }

    top.write
      .mode("overwrite")
      .option("compression", "snappy")
      .parquet(outputPath)
    Parquet.read(spark, outputPath)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = GraftSession.local("graft-pipeline")
    try {
      val out = processParquetFiles(spark, a.dataAPath, a.dataBPath, a.outputPath, a.topX,
        logSamples = true)
      println(s"[pipeline] wrote ${out.count()} rows to ${a.outputPath}")
    } finally spark.stop()
  }
}
