package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test corpus (TESTDATA.md): one parquet
  * file per table under a scale-factor directory.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, path(dir, name))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events table's `ts` column is parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects. Read it as raw nanos
    * (`nanosAsLong`) and convert to a proper timestamp at micros
    * precision (Spark's native resolution; the sub-microsecond remainder
    * is dropped, which no window/aggregation here can observe).
    *
    * NOTE: `nanosAsLong` is a session-wide SQL conf (there is no per-read
    * option for it), so this getter mutates how TIMESTAMP(NANOS) parquet
    * columns are read for the rest of the session. All entry points
    * (GraftSession / Verify / Bench) also pin it at session build time;
    * the set here only covers ad-hoc sessions, and is idempotent.
    */
  /** Epoch-nanos long → epoch-micros long, floor division via pmod so
    * hypothetical pre-1970 nanos would still land in the correct
    * microsecond; `div` alone truncates toward zero. Plain `/` is double
    * division and 2024-epoch nanos (~1.7e18) exceed double's 2^53 exact
    * range. Shared by the batch loader and the streaming ops that read
    * the raw file stream (which bypasses this loader's conversion).
    */
  def nanosToMicrosExpr(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"($colName - pmod($colName, 1000)) div 1000")

  /** Normalize the parquet-NANOS `ts` column under EITHER reader
    * behavior: with the legacy `nanosAsLong` conf honored (Spark <= 4.1.1
    * era jars) the column arrives as BIGINT nanos and is converted by
    * exact floor division; newer jars ignore the legacy conf and read
    * NANOS natively as TIMESTAMP_NTZ, which is already micros-floored —
    * identical values (the corpus is micro-aligned; sub-micro nanos would
    * floor the same way). Callers must use THIS instead of converting
    * unconditionally — assuming the BIGINT shape breaks on native-NTZ
    * jars with a DATATYPE_MISMATCH at analysis.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(colName, timestamp_micros(nanosToMicrosExpr(colName)))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // watermarks/windows require TIMESTAMP (LTZ); the session runs in
        // UTC, so reinterpreting the NTZ wall time is the same instant
        df.withColumn(colName, col(colName).cast("timestamp"))
      case _ => df
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
