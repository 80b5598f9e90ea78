package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet reader of `src/main`: a read whose schema comes from a
  * footer read on the driver, so building the frame runs no Spark job
  * (a bare `spark.read.parquet` runs one `mergeSchemasInParallel` job per
  * read to fetch the same footer).
  *
  * The schema equals the one Spark's non-merging inference picks, for two
  * reasons: the file is the one inference reads (the first data file by
  * path across all the paths read, hidden `_*` and `.*` names skipped,
  * `k=v` directories descended, globs expanded), and the footer goes
  * through the converter the inference task runs, built from the session
  * conf (binary-as-string, INT96, NTZ inference, `nanosAsLong`). Spark's
  * summary files (`_metadata`, `_common_metadata`) are skipped; Spark
  * writes none.
  */
object Parquet {
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The schema of the parquet data under `paths`, from one footer. */
  def schema(spark: SparkSession, paths: String*): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    def leaves(p: Path): Seq[FileStatus] = p.getFileSystem(conf).listStatus(p).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val files = paths.map(new Path(_)).flatMap(p =>
      Option(p.getFileSystem(conf).globStatus(p)).toSeq.flatten).flatMap(s => leaves(s.getPath))
    val st = files.sortBy(_.getPath.toString).headOption.getOrElse(throw new IllegalArgumentException(
      s"no parquet data file under ${paths.mkString(", ")}"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(st.getPath, ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `spark.read.parquet(paths: _*)` with [[schema]] declared; Spark still
    * appends the partition columns it discovers.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schema(spark, paths: _*)).parquet(paths: _*)
}
