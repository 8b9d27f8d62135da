package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ResultStore
import graft.streaming.{Registries, StreamRunner}

/** Each generated class is compiled once per JVM. Spark's codegen cache
  * is a JVM-wide LRU; [[Sessions.tune]] sizes it above the working set
  * of a query loop (the default 100 entries never hits on a loop that
  * cycles through more classes) and turns off per-session artifact
  * isolation, whose per-session executor classloader is part of the
  * cache key and made every AvailableNow refresh of a registry compile
  * its executor-side classes again. Compilations are read from
  * `CodegenMetrics`, which counts cache misses only. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over a query loop compiles no class") {
    // in a cold JVM the first pass compiles about 155 classes, above the
    // default cache size
    val loop = Seq("dq15_winnowing", "sq9_pq_ann", "tq42_bpe_fertility")
    def pass(): Unit =
      loop.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    val first = compiled(pass())
    val second = compiled(pass())
    assert(second == 0L, s"first pass compiled $first classes")
  }

  test("the third AvailableNow refresh of a registry compiles no class") {
    val tmp = Files.createTempDirectory("graft-codegen-reuse")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    val batches = Seq(
      Seq((1L, "web", "alpha beta gamma"), (2L, "book", "one two")),
      Seq((3L, "web", "delta"), (4L, "wiki", "three four five")),
      Seq((5L, "book", "six"), (6L, "wiki", "solo seven")))
    // lands one batch as a single parquet file, the way a producer
    // would: written aside, then moved into the watched directory
    def land(i: Int): Unit = {
      val staged = tmp.resolve(s"staged$i").toString
      batches(i).toDF("doc_id", "source", "text").coalesce(1)
        .write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, in.resolve(f"batch$i%02d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val perRefresh = batches.indices.map { i =>
      land(i)
      compiled {
        Registries.incrementalSourceStats(
          StreamRunner.parquetStream(spark, in.toString, 1),
          "source", "text", store, "stats", "s1", s"$tmp/ckpt")
          .awaitTermination()
        store.read("stats").collect()
      }
    }
    assert(perRefresh(2) == 0L, s"classes compiled per refresh: $perRefresh")
    assert(store.read("stats").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n_docs")).toMap ==
      Map("web" -> 2L, "book" -> 2L, "wiki" -> 2L))
  }
}
