package graft.sources

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.streaming.StreamRunner

/** [[ParquetFooters.schemaOf]] reads, on the driver, exactly the schema
  * `spark.read.parquet` infers with a job: for every fixture table
  * (pyarrow-written, no Spark row metadata), for a TIMESTAMP(NANOS)
  * column (read as Long under `nanosAsLong`), for the stream
  * sources, and for the directory every store commit shape leaves
  * behind (Spark-written, with row metadata). Where it cannot, it
  * answers None and the callers fall back to Spark's inference. */
class ParquetFootersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("fixture tables: the footer schema is the inferred schema") {
    Tables.names.foreach { n =>
      val p = s"$sf/$n.parquet"
      assert(ParquetFooters.schemaOf(spark, p) == Some(inferred(p)), n)
      assert(Tables.load(spark, sf, n).schema ==
        Tables.normalizeTs(spark.read.parquet(p)).schema, n)
    }
  }

  test("TIMESTAMP(NANOS) reads as Long under nanosAsLong, as inferred") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-footer-nanos")
    val file = dir.resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 user_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("user_id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()
    assert(ParquetFooters.schemaOf(spark, file) == Some(inferred(file)))
    assert(inferred(file)("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(StreamRunner.parquetStream(spark, file).schema ==
      Tables.normalizeTs(spark.read.parquet(file)).schema)
    assert(Tables.normalizeTs(ParquetFooters.scan(spark, file))
      .selectExpr("unix_micros(ts)").head().getLong(0) == 1700000000123456L)
  }

  test("parquetStream: a single file and a directory of landed files") {
    val events = s"$sf/events.parquet"
    assert(StreamRunner.parquetStream(spark, events).schema ==
      Tables.normalizeTs(spark.read.parquet(events)).schema)
    val dir = Files.createTempDirectory("graft-footer-landed").toString
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"doc $i", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("doc_id", "text", "ts")
        .write.mode("append").parquet(dir)
    }
    assert(ParquetFooters.schemaOf(spark, dir) == Some(inferred(dir)))
    assert(StreamRunner.parquetStream(spark, dir).schema ==
      Tables.normalizeTs(spark.read.parquet(dir)).schema)
  }

  test("every store commit shape reads with the inferred schema") {
    val root = Files.createTempDirectory("graft-footer-store").toString
    val store = new ResultStore(spark, root)
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"),
        (col("id") / 7).as("d"), col("id").cast("decimal(18,4)").as("m"),
        array(col("id").cast("string")).as("tags"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"),
        map(lit("n"), col("id")).as("kv"),
        timestamp_micros(col("id")).as("ts"))
    def check(schema: String, shape: String): Unit = {
      val dir = s"$root/$schema/${store.committedVersion(schema).get}"
      val expected = inferred(dir)
      assert(ParquetFooters.schemaOf(spark, dir) == Some(expected), shape)
      assert(store.read(schema).schema == expected, shape)
      assert(store.readVersion(schema, store.committedVersion(schema).get)
        .schema == expected, shape)
    }
    store.overwrite("t", rows(0, 40))
    check("t", "overwrite")
    store.overwriteWithStats("t", rows(0, 40).repartitionByRange(4, col("k")), "k")
    check("t", "overwriteWithStats")
    val merged = store.prunedMerge("t", rows(5, 8), "k", Combine.Replace())
    assert(merged.carriedFiles > 0, merged.toString)
    check("t", "pruned merge")
    store.appendSegment("t", rows(100, 104).repartition(2))
    check("t", "appendSegment")
    val (before, after) = store.compact("t", targetBytes = 1L << 20)
    assert(after < before)
    check("t", "compact")
    store.cloneSchema("t", "c")
    check("c", "cloneSchema")
    store.restoreVersion("t", store.versions("t")(1))
    check("t", "restoreVersion")
    store.rollback("t")
    check("t", "rollback")
  }

  test("no usable footer: None, and scan behaves as spark.read.parquet") {
    val tmp = Files.createTempDirectory("graft-footer-fallback")
    def sameOutcome(p: String): Unit = {
      val want = Try(spark.read.parquet(p).schema)
      val got = Try(ParquetFooters.scan(spark, p).schema)
      assert(got.isSuccess == want.isSuccess, s"$p: $got vs $want")
      if (want.isSuccess) assert(got.get == want.get, p)
      else assert(got.failed.get.getClass == want.failed.get.getClass, p)
    }
    // an empty directory: Spark cannot infer a schema either
    val empty = Files.createDirectory(tmp.resolve("empty")).toString
    assert(ParquetFooters.schemaOf(spark, empty).isEmpty)
    sameOutcome(empty)
    // a data file whose footer cannot be read
    val broken = Files.createDirectory(tmp.resolve("broken"))
    Files.write(broken.resolve("part-00000.parquet"), "not parquet".getBytes)
    assert(ParquetFooters.schemaOf(spark, broken.toString).isEmpty)
    sameOutcome(broken.toString)
    // partition directories: Spark's discovery adds the partition column
    val parted = tmp.resolve("parted").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "p").write.partitionBy("p").parquet(parted)
    assert(ParquetFooters.schemaOf(spark, parted).isEmpty)
    sameOutcome(parted)
    assert(ParquetFooters.scan(spark, parted).columns.toSeq == Seq("k", "p"))
    // a glob is left to Spark
    assert(ParquetFooters.schemaOf(spark, s"$sf/event*.parquet").isEmpty)
    // a missing path fails as before
    sameOutcome(tmp.resolve("missing").toString)
  }
}
