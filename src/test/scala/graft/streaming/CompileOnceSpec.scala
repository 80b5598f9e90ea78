package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Every streaming run executes on a clone of the session. Spark's codegen
  * cache is keyed by (classloader, code), so if a clone's tasks ran under
  * their own executor classloader, each run would recompile every
  * generated class. The tasks' context loader is what the executor hands
  * to codegen; it must be the one loader a plain batch job sees.
  *
  * (Deliberately not asserted on `CodegenMetrics`: it is JVM-global and
  * concurrent suites would make a compile count flaky.)
  */
class CompileOnceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val loaderId = udf(() =>
    System.identityHashCode(Thread.currentThread.getContextClassLoader))
    .asNondeterministic()

  test("streaming runs share the batch job's executor classloader") {
    val src = java.nio.file.Files.createTempDirectory("graft-loader").toString
    spark.range(0, 8, 1, 4).write.mode("overwrite").parquet(src)
    def streamedLoaders(): Set[Int] = {
      val stream = StreamOps.readStream(spark, src).select(loaderId().as("loader"))
      StreamOps.runToBatch(spark, stream, "append").as[Int].collect().toSet
    }
    val first = streamedLoaders()
    val second = streamedLoaders()
    val batch = spark.range(0, 8, 1, 4).select(loaderId().as("loader"))
      .as[Int].collect().toSet
    assert(batch.size == 1, s"batch tasks saw loaders $batch")
    assert(first == batch, s"first run saw $first, batch saw $batch")
    assert(second == batch, s"second run saw $second, batch saw $batch")
  }
}
