package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.streaming.StreamOps

/** The session's root Hadoop conf keeps no per-key source records, through
  * every path that touches files, and a serialized copy still carries every
  * key and value.
  */
class HadoopConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def root: Configuration = spark.sparkContext.hadoopConfiguration

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Fails when a key of the root conf still names the resource that set it. */
  private def assertNoSources(after: String): Unit = {
    val left = entries(root).keys.filter(k => root.getPropertySources(k) != null).toSeq.sorted
    assert(left.isEmpty, s"after $after: ${left.size} keys keep a source, e.g. ${left.take(5)}")
  }

  private def serialize(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.toByteArray
  }

  test("the root conf keeps no source records through parquet, replayed streams and RocksDB state") {
    assert(root.size() > 1000)
    assertNoSources("GraftSession.local")
    val s = spark
    import s.implicits._
    graft.queries.Scratch.using("hadoop-conf-spec") { d =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$d/t")
      assert(Parquet.read(spark, s"$d/t").count() == 2)
      assertNoSources("a parquet write and read")

      val feed = StreamOps.replayFiles(s"$d/feed", Seq(Seq((1L, "a")).toDF("k", "v"), Seq((2L, "b")).toDF("k", "v")))
      assert(StreamOps.drain(feed, s"$d/ck")((b, _) => b.count()) == 2)
      assertNoSources("a replayFiles/drain stream")

      val deduped = StreamOps.withRocksDbStateStore(spark) {
        StreamOps.runToBatch(spark, StreamOps.readStream(spark, s"$d/t").dropDuplicates("k"), "append")
      }
      assert(deduped.count() == 2)
      assertNoSources("a RocksDB runToBatch")
    }
  }

  test("a serialized newHadoopConf() keeps every key and value, and is smaller") {
    val conf = spark.sessionState.newHadoopConf()
    val bytes = serialize(conf)
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject().asInstanceOf[SerializableConfiguration].value
    assert(entries(back) == entries(conf))
    // with a record per key the same conf serialized to about 114 KB
    assert(bytes.length < 90 * 1024, s"${bytes.length} bytes")

    // the root conf is a stock conf with the session's spark.hadoop.* applied,
    // plus the three keys Spark itself sets
    val sparkConf = spark.sparkContext.getConf
    val stock = new Configuration()
    stock.set("mapreduce.fileoutputcommitter.algorithm.version", "1")
    sparkConf.getAll.collect {
      case (k, v) if k.startsWith("spark.hadoop.") => stock.set(k.stripPrefix("spark.hadoop."), v)
    }
    stock.set("io.file.buffer.size", sparkConf.get("spark.buffer.size", "65536"))
    stock.set("hive.metastore.warehouse.dir", sparkConf.get("spark.sql.warehouse.dir"))
    assert(entries(root) == entries(stock))
  }

  test("a second GraftSession.local is harmless") {
    val before = entries(root)
    val again = GraftSession.local("graft-test", 4)
    assert(again.sparkContext eq spark.sparkContext)
    assert(entries(root) == before)
    assertNoSources("a second GraftSession.local")
    assert(again.range(3).count() == 3)
  }
}
