package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.{GraftSession, Parquet}
import graft.operators.Stats

/** Parquet inspector/profiler — capability match for the reference's
  * `tools/ReadParquet.scala:137-213`: row count, schema, sample rows,
  * column-name-based file-type sniffing, and a per-type analysis
  * (detections: numeric describe + per-location counts + item frequencies
  * + duplication rate; locations: full ordered listing; pipeline output:
  * ordered top-items listing; anything else: generic numeric/null
  * profile).
  *
  * CLI: `InspectParquet <path> [limit]`.
  */
object InspectParquet {

  sealed trait FileType
  case object Detections extends FileType
  case object Locations extends FileType
  case object PipelineOutput extends FileType
  case object Generic extends FileType

  /** Column-name sniffing, lowercase compare (reference `:137-160`). */
  def determineFileType(df: DataFrame): FileType = {
    val cols = df.columns.map(_.toLowerCase).toSet
    if (cols.contains("detection_oid") && cols.contains("video_camera_oid")) Detections
    else if (cols == Set("geographical_location_oid", "geographical_location")) Locations
    else if (cols == Set("geographical_location", "item_rank", "item_name")) PipelineOutput
    else Generic
  }

  def profile(spark: SparkSession, path: String, limit: Int = 10): Unit = {
    val df = Parquet.read(spark, path)
    println(s"[inspect] $path")
    println(s"rows: ${df.count()}")
    df.printSchema()
    df.show(limit, truncate = false)

    determineFileType(df) match {
      case Detections =>
        println("type: detections (dataA)")
        Stats.describeNumeric(df,
          df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }
            .toSeq).show(truncate = false)
        println("per-location detections:")
        df.groupBy("geographical_location_oid").count().orderBy(desc("count")).show(limit)
        println("item frequencies:")
        df.groupBy("item_name").count().orderBy(desc("count")).show(limit, truncate = false)
        val n = df.count()
        val d = df.select("detection_oid").distinct().count()
        println(f"duplication rate: ${if (n == 0) 0.0 else 1.0 - d.toDouble / n}%.4f " +
          s"($d distinct of $n)")
      case Locations =>
        println("type: locations (dataB)")
        df.orderBy("geographical_location_oid").show(Int.MaxValue, truncate = false)
      case PipelineOutput =>
        println("type: pipeline output")
        df.orderBy(col("geographical_location"), col("item_rank").cast("int"))
          .show(limit, truncate = false)
      case Generic =>
        println("type: generic")
        val numeric = df.schema.fields
          .collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
        if (numeric.nonEmpty) Stats.describeNumeric(df, numeric).show(truncate = false)
        val nullCounts = df.columns.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(c))
        println("null counts:")
        df.agg(nullCounts.head, nullCounts.tail: _*).show(truncate = false)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: InspectParquet <path> [limit]")
    val limit = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.local("graft-inspect")
    try profile(spark, args(0), limit)
    finally spark.stop()
  }
}
