package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}
import org.apache.spark.sql.functions.{col, size}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.operators.Dedup
import graft.streaming.{Registries, StreamRunner}

/** The fixed Spark-job cost of registry commits and store reads. Taking
  * a store, table or stream handle learns its schema from a footer on
  * the driver (no inference job), and a pruned commit finds its touched
  * files inside the job that computes the batch's keys (no broadcast
  * job). Which files a commit rewrites, carries or opens is unchanged. */
class CommitJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs. Every job start is on the listener
    * bus when `body` returns; the bus is drained before counting
    * (`listenerBus` is package-private to Spark, hence the reflection). */
  private def jobsOf(body: => Unit): Int = costOf(body)._1

  /** Jobs and tasks started while `body` runs, counted as [[jobsOf]]
    * counts jobs. */
  private def costOf(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }

  /** Batch 0 seeds the registries with 64 documents over three sources;
    * every later batch `i` holds three documents of one source, one of
    * them an exact copy of a seed document, so a commit touches a few of
    * the registry's files and carries the rest. */
  private val seedTexts = {
    val rnd = new scala.util.Random(7)
    (0 until 64).map(_ => Seq.fill(12)(s"w${rnd.nextInt(60)}").mkString(" "))
  }
  private def batch(i: Int) = {
    val sources = Seq("web", "book", "wiki")
    val docs =
      if (i == 0) seedTexts.indices.map(j => (j.toLong, sources(j % 3), seedTexts(j)))
      else (0 until 3).map { j =>
        val text = if (j == 0) seedTexts(i * 7 % 64) else s"late doc $i $j unique text"
        (i * 100L + j, sources(i % 3), text)
      }
    docs.toDF("doc_id", "source", "text")
  }

  /** Lands batch `i` in `in` as one parquet file, written aside and moved
    * in, as a producer would. */
  private def land(tmp: Path, in: Path, i: Int): Unit =
    landFrame(tmp, in, f"batch$i%02d", batch(i))

  /** Lands `df` in `in` as one parquet file `<name>.parquet`; returns
    * its size. */
  private def landFrame(tmp: Path, in: Path, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val staged = tmp.resolve(s"staged-$name").toString
    df.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = in.resolve(s"$name.parquet")
    Files.move(part.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
    Files.size(dst)
  }

  test("taking a store, table or stream handle starts no job") {
    val tmp = Files.createTempDirectory("graft-nojob")
    val store = new ResultStore(spark, s"$tmp/store")
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(jobsOf(store.read("t")) == 0)
    assert(jobsOf(store.readVersion("t", store.committedVersion("t").get)) == 0)
    Tables.names.foreach(n => assert(jobsOf(Tables.load(spark, sf, n)) == 0, n))
    assert(jobsOf(StreamRunner.parquetStream(spark, s"$sf/events.parquet")) == 0)
    val in = Files.createDirectory(tmp.resolve("in"))
    land(tmp, in, 0)
    assert(jobsOf(StreamRunner.parquetStream(spark, in.toString)) == 0)
  }

  test("a one-file refresh of the source-stats and near-dup registries: " +
      "job counts, and the files each commit rewrites, carries and opens") {
    val tmp = Files.createTempDirectory("graft-commit-jobs")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    val commits = mutable.ArrayBuffer.empty[(String, Int, Int)]
    val reads = mutable.ArrayBuffer.empty[(Int, Int)]
    def receipt(schema: String, c: PrunedCommit): Unit = commits.synchronized {
      commits += ((schema, c.rewrittenFiles, c.carriedFiles))
    }
    def stats(): Unit = Registries.incrementalSourceStats(
      StreamRunner.parquetStream(spark, in.toString, 1), "source", "text",
      store, "stats", "stats", s"$tmp/ckpt/stats", registryPartitions = 8,
      onCommit = receipt)
      .awaitTermination()
    def nearDup(): Unit = Dedup.incrementalNearDup(
      StreamRunner.parquetStream(spark, in.toString, 1), "doc_id", "text",
      store, "sigs", "pairs", s"$tmp/ckpt/neardup", registryPartitions = 8,
      onCommit = receipt,
      onPrunedRead = (o, t) => reads.synchronized { reads += ((o, t)) })
      .awaitTermination()
    // two warm-up refreshes: the first commit of each registry, then the
    // first pruned one
    (0 until 2).foreach { i => land(tmp, in, i); stats(); nearDup() }
    val jobs = (2 until 5).map { i =>
      land(tmp, in, i)
      (jobsOf(stats()), jobsOf(nearDup()))
    }
    // with a schema-inference job per store read and a broadcast job
    // per touched-file lookup these were 5 and 16
    jobs.foreach { case (s, n) =>
      assert(s <= 3, s"source-stats refresh jobs per batch: $jobs")
      assert(n <= 10, s"near-dup refresh jobs per batch: $jobs")
    }
    // the counts the broadcast-join implementation produced on this
    // corpus: (schema, rewritten, carried) per commit, and (opened,
    // total) per near-dup candidate lookup
    assert((commits.toSeq, reads.toSeq) == ((Seq(
      ("stats", 0, 0), ("pairs", 0, 0), ("sigs", 0, 0),
      ("stats", 1, 2), ("pairs", 1, 0), ("sigs", 4, 4),
      ("stats", 1, 2), ("pairs", 0, 1), ("sigs", 4, 4),
      ("stats", 1, 2), ("pairs", 0, 2), ("sigs", 3, 5),
      ("stats", 1, 2), ("pairs", 0, 3), ("sigs", 4, 4)),
      Seq((4, 8), (4, 8), (3, 8), (4, 8)))),
      s"jobs $jobs commits $commits reads $reads")
    assert(store.read("stats").as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap ==
      Map("web" -> 25L, "book" -> 27L, "wiki" -> 24L))
  }

  test("a one-file refresh under the default floor: each commit writes " +
      "one file, and jobs and tasks per refresh drop") {
    val tmp = Files.createTempDirectory("graft-commit-layout")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    val appended = mutable.ArrayBuffer.empty[Int]
    val pairs = mutable.ArrayBuffer.empty[PrunedCommit]
    def stats(): Unit = Registries.incrementalSourceStats(
      StreamRunner.parquetStream(spark, in.toString, 1), "source", "text",
      store, "stats", "stats", s"$tmp/ckpt/stats")
      .awaitTermination()
    def nearDup(): Unit = Dedup.incrementalNearDup(
      StreamRunner.parquetStream(spark, in.toString, 1), "doc_id", "text",
      store, "sigs", "pairs", s"$tmp/ckpt/neardup",
      onCommit = (schema, c) =>
        if (schema == "pairs") pairs.synchronized { pairs += c })
      .awaitTermination()
    def tokens(): Unit = Registries.incrementalTokenCounts(
      StreamRunner.parquetStream(spark, in.toString, 1), "text",
      store, "tok", "tok", s"$tmp/ckpt/tokens",
      onCommit = {
        case (_, Registries.SegmentAppended(r)) =>
          appended.synchronized { appended += r.newFiles }
        case _ => ()
      })
      .awaitTermination()
    spark.conf.set("spark.graft.registry.compactSegments", "2")
    try {
      (0 until 2).foreach { i => land(tmp, in, i); stats(); nearDup(); tokens() }
      val costs = (2 until 5).map { i =>
        land(tmp, in, i)
        val c = (costOf(stats()), costOf(nearDup()), costOf(tokens()))
        // a pruned commit rewrites its one touched file into one file; a
        // compaction rolls the token registry into one file
        Seq("stats", "sigs").foreach(r =>
          assert(store.dataFileCount(r) == 1, s"$r after batch $i"))
        // this corpus's new pairs often fall outside the one pairs
        // file's id_a range; such a commit touches no file and adds one
        assert(store.dataFileCount("pairs") == pairs.last.carriedFiles + 1,
          s"pairs after batch $i: $pairs")
        if (store.committedMeta("tok").get(Registries.SegmentsKey)
            .contains("0"))
          assert(store.dataFileCount("tok") == 1, s"tok after batch $i")
        c
      }
      // each token segment is one file
      assert(appended.nonEmpty && appended.forall(_ == 1), appended.toString)
      // (jobs, tasks) per refresh on this corpus with a fixed 8-file
      // default layout and every shuffle at the session's width: source
      // stats (2, 19), near-dup (9, 60-63), tokens (5, 27) compacting
      // and (1, 13) appending; sized by bytes they are (2, 7), (8, 20),
      // (3, 6) and (1, 3)
      costs.foreach { case ((sj, st), (nj, nt), (tj, tt)) =>
        assert(sj <= 2 && st <= 10, s"source-stats refresh cost: $costs")
        assert(nj <= 8 && nt <= 30, s"near-dup refresh cost: $costs")
        assert(tj <= 3 && tt <= 8, s"token refresh cost: $costs")
      }
      assert(store.read("stats").as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r._2).toMap ==
        Map("web" -> 25L, "book" -> 27L, "wiki" -> 24L))
    } finally spark.conf.unset("spark.graft.registry.compactSegments")
  }

  test("a micro-batch window plans at the batch's width: 1 for a small " +
      "batch, the session's width above cores x iterPartitionBytes") {
    val tmp = Files.createTempDirectory("graft-batch-width")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val widths = mutable.ArrayBuffer.empty[(Long, Int, Int)]
    // a 3-doc batch file, then one of 2,000 documents
    val small = landFrame(tmp, in, "a", batch(2))
    val large = landFrame(tmp, in, "b", (0 until 2000).map(j =>
      (j.toLong, "web", s"document $j of the large batch, ${j * 7919}"))
      .toDF("doc_id", "source", "text"))
    in.resolve("a.parquet").toFile.setLastModified(1700000000000L)
    in.resolve("b.parquet").toFile.setLastModified(1700000060000L)
    // a batch below one partition's bytes narrows to 1; one above the
    // session's width of partitions keeps the session's width
    val per = (small + large / session) / 2 + 1
    assert(small < per && large > session * per, s"$small $large $per")
    spark.conf.set("spark.graft.iterPartitionBytes", per.toString)
    try {
      StreamRunner.parquetStream(spark, in.toString, 1).writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.Lineage.microBatch(batch) {
            // the store's merge plans run with AQE off on its session
            val stored = store.read("t")
            val storeWidth = graft.operators.Lineage.withoutAqe(spark) {
              store.windowWidth(stored) {
                stored.groupBy("v").count().rdd.getNumPartitions
              }
            }
            widths.synchronized {
              widths += ((batch.count(),
                batch.groupBy("source").count().rdd.getNumPartitions,
                storeWidth))
            }
          }
          ()
        }
        .start().awaitTermination()
    } finally spark.conf.unset("spark.graft.iterPartitionBytes")
    assert(widths.toSeq == Seq((3L, 1, 1), (2000L, session, session)),
      widths.toString)
    // outside a window a store plan keeps the session's width
    assert(graft.operators.Lineage.withoutAqe(spark) {
      store.windowWidth(store.read("t")) {
        store.read("t").groupBy("v").count().rdd.getNumPartitions
      }
    } == session)
  }

  test("a one-file refresh of an st21-style quarantine stream: job count") {
    val tmp = Files.createTempDirectory("graft-commit-jobs-quarantine")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    def refresh(): Unit = StreamRunner.quarantineStream(
      StreamRunner.parquetStream(spark, in.toString, 1),
      violation = !(size(graft.functions.TextFunctions.wsTokens(col("text"))) >= 10),
      "doc_id", store, "routed", s"$tmp/ckpt")
      .awaitTermination()
    (0 until 2).foreach { i => land(tmp, in, i); refresh() }
    // range-partitioning every batch before the pruned commit cost a
    // sampling job and a shuffle per batch: 5 jobs
    val jobs = (2 until 5).map { i => land(tmp, in, i); jobsOf(refresh()) }
    assert(jobs.forall(_ <= 3), s"quarantine refresh jobs per batch: $jobs")
    assert(StreamRunner.quarantinedRows(store, "routed").count() == 8L)
  }

  test("a one-file refresh of the exact-dedup registry: job count, and " +
      "the files each commit rewrites and carries") {
    val tmp = Files.createTempDirectory("graft-commit-jobs-dedup")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = new ResultStore(spark, s"$tmp/store")
    val commits = mutable.ArrayBuffer.empty[(Int, Int)]
    def refresh(): Unit = Dedup.incrementalDedup(
      StreamRunner.parquetStream(spark, in.toString, 1), "doc_id", "text",
      store, "registry", s"$tmp/ckpt", registryPartitions = 8,
      onCommit = (_, c) => commits.synchronized {
        commits += ((c.rewrittenFiles, c.carriedFiles))
      })
      .awaitTermination()
    (0 until 2).foreach { i => land(tmp, in, i); refresh() }
    // reading the batch's keys back before the pruned upsert cost a
    // touched-file lookup, a key-pruned scan and their analyses: 8 jobs
    val jobs = (2 until 5).map { i => land(tmp, in, i); jobsOf(refresh()) }
    assert(jobs.forall(_ <= 3), s"dedup refresh jobs per batch: $jobs")
    // (rewritten, carried) per commit, as the two-pass shape produced
    // them on this corpus
    assert(commits.toSeq == Seq((0, 0), (2, 6), (3, 5), (4, 4), (2, 6)),
      s"jobs $jobs commits $commits")
    assert(store.count("registry") == 64L + 4 * 2)
  }
}
