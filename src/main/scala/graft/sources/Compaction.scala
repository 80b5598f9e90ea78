package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.Parquet

/** Small-file parquet compaction — the reference repo's namesake
  * operation ("Parquet-combiner": read many parquet files, write few;
  * cf. /root/reference/README.md:1). At 100 TB the failure mode it cures
  * is real: a streaming or per-batch writer leaves thousands of KB-sized
  * files per partition, and every downstream scan then pays one open +
  * footer-parse + seek per file. Compaction rewrites a directory to
  * size-targeted files in one pass.
  *
  * Sizing is computed from the INPUT's on-disk bytes (already-compressed
  * parquet, so output files land near `targetFileBytes` without a
  * decompression-ratio guess). `coalesce` (not `repartition`) merges
  * input splits without a shuffle when shrinking; an optional sort
  * column list upgrades the rewrite to a clustered layout (row-group
  * min/max pruning for readers) at the cost of a range shuffle.
  */
object Compaction {

  /** before/after file inventory of one compaction run. */
  case class Stats(
      filesBefore: Long, bytesBefore: Long, filesAfter: Long,
      bytesAfter: Long, rows: Long)

  private def inventory(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** Row count from parquet FOOTER metadata — no data pages touched,
    * unlike a count() over the directory (which re-scans every file).
    */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var rows = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try rows += reader.getRecordCount finally reader.close()
      }
    }
    rows
  }

  /** Rewrite `inDir`'s parquet files into `outDir` as
    * ceil(bytes / targetFileBytes) files. With `sortCols`, rows are
    * additionally range-partitioned and sorted so each output file
    * covers a disjoint key range.
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Seq.empty): Stats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val (filesBefore, bytesBefore) = inventory(spark, inDir)
    val df = Parquet.read(spark, inDir)
    val n = math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      // coalesce cannot INCREASE partition count: a scan of few big
      // files can read as fewer partitions than n, which would emit
      // files ~maxPartitionBytes-sized instead of targetFileBytes —
      // fall through to a shuffling repartition in that case
      else if (df.rdd.getNumPartitions >= n) df.coalesce(n)
      else df.repartition(n)
    shaped.write.mode("overwrite")
      .option("compression", "snappy").parquet(outDir)
    val (filesAfter, bytesAfter) = inventory(spark, outDir)
    Stats(filesBefore, bytesBefore, filesAfter, bytesAfter,
      footerRows(spark, outDir))
  }
}
