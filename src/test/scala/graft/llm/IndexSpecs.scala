package graft.llm

import org.apache.spark.sql.DataFrame

/** Shared reads for the band-key index specs. */
object IndexSpecs {
  /** Parquet files in `table`'s live directories of the index at `path`. */
  def files(path: String, table: String): Int =
    IndexLog.read(path).live(table)
      .map(d => new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))).sum

  def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
}
