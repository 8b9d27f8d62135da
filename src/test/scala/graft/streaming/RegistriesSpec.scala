package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The additive per-key statistics registry
  * ([[Registries.incrementalSourceStats]]): batch-split invariance
  * (the registry equals a one-shot aggregate for any split) and the
  * per-stream `txn.<stream_id> → batch_id` replay guard — addition is
  * NOT idempotent, so unlike the dedup registries the exactly-once
  * marker is the correctness mechanism, not a nicety. */
class RegistriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "web", "alpha beta gamma"),
    (2L, "web", "delta"),
    (3L, "book", "one two"),
    (4L, "book", "three four five six"),
    (5L, "wiki", "solo"))
    .toDF("doc_id", "source", "text")

  private def expected = Map(
    "web" -> (2L, 4L, 21L), "book" -> (2L, 6L, 26L), "wiki" -> (1L, 1L, 4L))

  private def readReg(store: graft.sources.ResultStore) =
    store.read("stats").collect().map(r => r.getAs[String]("key") ->
      ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chars")))).toMap

  test("registry equals the one-shot aggregate for any batch split") {
    def run(nFiles: Int): Map[String, (Long, Long, Long)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incstats")
        .toString
      docs.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      Registries.incrementalSourceStats(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "source", "text", store, "stats", "s1", s"$tmp/ckpt")
        .awaitTermination()
      readReg(store)
    }
    assert(run(1) == expected)
    assert(run(4) == expected)
  }

  test("replay guard: same stream_id skips, new stream_id re-applies") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-incstats")
      .toString
    docs.repartition(2).write.mode("overwrite").parquet(s"$tmp/in")
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    def drain(streamId: String, ckpt: String): Unit =
      Registries.incrementalSourceStats(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "source", "text", store, "stats", streamId, s"$tmp/$ckpt")
        .awaitTermination()
    drain("s1", "ckpt1")
    assert(readReg(store) == expected)
    // a FRESH checkpoint replays every batch under the SAME stream id:
    // the commit marker must absorb all of them (at-least-once replay)
    drain("s1", "ckpt2")
    assert(readReg(store) == expected)
    assert(store.committedMeta("stats").get("txn.s1").isDefined)
    // a NEW stream id is a new logical stream: batches apply again
    // (Delta's txnAppId scoping — proves the guard keys on BOTH ids)
    drain("s2", "ckpt3")
    assert(readReg(store).view.mapValues(_._1).toMap ==
      expected.view.mapValues(_._1 * 2).toMap)
    // INTERLEAVED replay: s2's commits must not erase s1's marker —
    // the meta is a per-stream MAP, so s1 replaying after s2 wrote is
    // still skipped (a single last-(stream,batch) pair would
    // double-apply here)
    assert(store.committedMeta("stats").get("txn.s1").isDefined)
    assert(store.committedMeta("stats").get("txn.s2").isDefined)
    drain("s1", "ckpt4")
    assert(readReg(store).view.mapValues(_._1).toMap ==
      expected.view.mapValues(_._1 * 2).toMap)
  }

  test("legacy (stream_id, batch_id) meta still guards replay and is " +
    "upgraded into the txn map on the next commit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-incstats")
      .toString
    docs.repartition(2).write.mode("overwrite").parquet(s"$tmp/in")
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    def drain(streamId: String, ckpt: String): Unit =
      Registries.incrementalSourceStats(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "source", "text", store, "stats", streamId, s"$tmp/$ckpt")
        .awaitTermination()
    drain("s1", "ckpt1")
    assert(readReg(store) == expected)
    // simulate a registry whose last commit PREDATES the per-stream
    // map: rewrite the meta to the pre-r12 single-pair form (two input
    // files -> last batch id 1)
    store.overwriteWithMeta("stats", store.read("stats"),
      Map("stream_id" -> "s1", "batch_id" -> "1"))
    assert(store.committedMeta("stats").get("txn.s1").isEmpty)
    // a fresh checkpoint replays every batch under the same stream id:
    // the LEGACY pair must catch all of them or the additive delta
    // double-applies
    drain("s1", "ckpt2")
    assert(readReg(store) == expected)
    // another stream's first post-upgrade commit must CARRY the legacy
    // guard forward as txn.s1, not drop it
    drain("s2", "ckpt3")
    assert(readReg(store).view.mapValues(_._1).toMap ==
      expected.view.mapValues(_._1 * 2).toMap)
    assert(store.committedMeta("stats").get("txn.s1").contains("1"))
    assert(store.committedMeta("stats").get("txn.s2").isDefined)
    // and s1 replaying AFTER the upgrade commit is still skipped
    drain("s1", "ckpt4")
    assert(readReg(store).view.mapValues(_._1).toMap ==
      expected.view.mapValues(_._1 * 2).toMap)
  }

  test("incrementalHistogram: fixed-grid cells equal the one-shot " +
      "aggregate for any batch split; clamp and cap") {
    // width 10, maxBucket 3: 5->b0, 15->b1, 25->b2, 95->b3 (capped),
    // -5 -> b0 (clamped), NULL dropped
    val rows = Seq(
      ("web", Some(5.0)), ("web", Some(15.0)), ("web", Some(15.0)),
      ("web", Some(95.0)), ("web", Some(-5.0)), ("web", None),
      ("book", Some(25.0)))
      .toDF("source", "value")
    val expected = Map(
      ("web", 0L) -> 2L, ("web", 1L) -> 2L, ("web", 3L) -> 1L,
      ("book", 2L) -> 1L)
    def run(nFiles: Int): Map[(String, Long), Long] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-inchist")
        .toString
      rows.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      Registries.incrementalHistogram(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "source", "value", 10.0, store, "hist", "s1", s"$tmp/ckpt",
        maxBucket = 3L)
        .awaitTermination()
      store.read("hist").collect().map(r =>
        (r.getAs[String]("key"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("n")).toMap
    }
    assert(run(1) == expected)
    assert(run(3) == expected)
  }

  test("incrementalTokenCounts: vocabulary counts equal the one-shot " +
      "tokenization for any batch split; replay skipped") {
    // lower() folds Case; whitespace runs collapse
    val rows = Seq(Tuple1("Alpha beta  alpha"), Tuple1("beta gamma"),
      Tuple1("ALPHA")).toDF("text")
    val expected = Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L)
    def run(nFiles: Int): (graft.sources.ResultStore, String) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-inctok")
        .toString
      rows.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt")
        .awaitTermination()
      (store, tmp)
    }
    def reg(store: graft.sources.ResultStore) =
      Registries.readTokenCounts(store, "tok").collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    assert(reg(run(1)._1) == expected)
    val (store, tmp) = run(3)
    assert(reg(store) == expected)
    // a fresh checkpoint replays every batch under the same stream id:
    // the txn map must absorb them (addition is not idempotent)
    Registries.incrementalTokenCounts(
      StreamRunner.parquetStream(spark, s"$tmp/in", 1),
      "text", store, "tok", "s1", s"$tmp/ckpt2")
      .awaitTermination()
    assert(reg(store) == expected)
  }

  /** One parquet FILE per doc with pinned ascending mtimes, so
    * `maxFilesPerTrigger = 1` yields exactly one micro-batch per doc
    * in order — the new specs assert per-BATCH commit receipts, which
    * a round-robin repartition write (empty/doubled files) breaks. */
  private def writeDocFiles(tmp: String, texts: Seq[String]): Unit = {
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    texts.zipWithIndex.foreach { case (t, i) =>
      val stage = new java.io.File(s"$tmp/stage$i")
      Seq(Tuple1(t)).toDF("text").coalesce(1)
        .write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, f"d$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
  }

  test("segmented write path: per-commit written bytes track the BATCH " +
      "footprint, not the registry — wide-vocabulary batches append, " +
      "never rewrite") {
    // every batch's vocabulary spans the WHOLE key space (the uniform-
    // keys geometry that makes a pruned rewrite registry-sized): 40
    // distinct tokens per doc, one doc per batch
    val tmp = java.nio.file.Files.createTempDirectory("graft-seg").toString
    writeDocFiles(tmp, (0 until 6).map(b =>
      (0 until 40).map(t => f"tok$t%02d w$b").mkString(" ")))
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    val commits = scala.collection.mutable.ArrayBuffer
      .empty[Registries.RegistryCommit]
    Registries.incrementalTokenCounts(
      StreamRunner.parquetStream(spark, s"$tmp/in", 1),
      "text", store, "tok", "s1", s"$tmp/ckpt",
      registryPartitions = 2,
      onCommit = (_, c) => commits.synchronized { commits += c })
      .awaitTermination()
    // default compactSegments = 8 > 6 batches: every commit appended
    val receipts = commits.toList.map {
      case Registries.SegmentAppended(r) => r
      case c => fail(s"expected only segment appends, got $c")
    }
    assert(receipts.length == 6)
    // the first commit creates the base (nothing to carry); every
    // later commit hard-links the ENTIRE prior generation and writes
    // only its own delta files
    assert(receipts.head.carriedFiles == 0)
    receipts.tail.zipWithIndex.foreach { case (r, i) =>
      assert(r.newFiles <= 2, r.toString)
      // carried = base files + all prior segments' files
      assert(r.carriedFiles ==
        receipts.take(i + 1).map(_.newFiles).sum, r.toString)
    }
    // written bytes per commit stay flat while the registry grows:
    // the LAST append writes no more than ~1.5x the first (same-sized
    // batch), though the registry is 6x the batch by then — the exact
    // bound a pruned rewrite would break (it would rewrite all files)
    assert(receipts.last.newBytes <= (receipts.head.newBytes * 3) / 2,
      receipts.map(_.newBytes).toString)
    // and the merged readout equals the one-shot aggregate
    val got = Registries.readTokenCounts(store, "tok").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    assert(got.size == 40 + 6 && got.values.count(_ == 6L) == 40, got.size)
  }

  test("segmented compaction: rolls base + segments into one generation, " +
      "stays exact, and a replayed batch after compaction is skipped") {
    val expected = Map("a" -> 4L, "b" -> 2L, "c" -> 2L, "d" -> 2L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-segc").toString
    writeDocFiles(tmp, Seq("a b a", "b c", "c a", "d", "a d"))
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    val commits = scala.collection.mutable.ArrayBuffer
      .empty[Registries.RegistryCommit]
    spark.conf.set("spark.graft.registry.compactSegments", "2")
    try {
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt",
        registryPartitions = 2,
        onCommit = (_, c) => commits.synchronized { commits += c })
        .awaitTermination()
      // 5 batches at compactEvery=2: base (segs 0), append (segs 1),
      // compact (segs 0), append (segs 1), compact (segs 0)
      assert(commits.toList.map {
        case _: Registries.SegmentAppended => "seg"
        case _: Registries.Compacted => "cmp"
      } == List("seg", "seg", "cmp", "seg", "cmp"), commits.toString)
      def reg() = Registries.readTokenCounts(store, "tok").collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
      assert(reg() == expected)
      // the segment counter committed atomically with the data
      assert(store.committedMeta("tok").get(Registries.SegmentsKey)
        .contains("0"))
      // at-least-once replay AFTER a compaction: a fresh checkpoint
      // replays every batch; the txn map (carried through compaction
      // commits) must absorb them all or deltas double-apply
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt2",
        registryPartitions = 2)
        .awaitTermination()
      assert(reg() == expected)
    } finally spark.conf.unset("spark.graft.registry.compactSegments")
  }

  test("segmented read amplification: files opened per read grow " +
      "EXACTLY linearly in live segments (4/8/32) and the merged " +
      "readout stays exact at 32 live segments") {
    // drive appendSegment directly (the write primitive under
    // additiveSegmented) so the segment count is an explicit axis —
    // including the pathological 32 a mis-tuned compaction cadence
    // would reach. Every delta is 40 keys in 2 files, so each segment
    // must add exactly its own files to every later read: a re-link /
    // duplication bug shows up as a superlinear file count, the
    // quadratic this pin exists to catch.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ramp").toString
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    def delta() = (0 until 40).map(t => (f"tok$t%02d", 1L))
      .toDF("key", "n").repartition(2)
    store.overwriteWithStats("tok", delta(), "key")
    def files() = store.read("tok").inputFiles.distinct.length
    val opened = scala.collection.mutable.Map(0 -> files())
    var segBytes = List.empty[Long]
    (1 to 32).foreach { s =>
      val receipt = store.appendSegment("tok", delta())
      segBytes ::= receipt.newBytes
      if (Set(4, 8, 32)(s)) opened(s) = files()
    }
    // exact linear growth: equal per-segment slope between every pair
    // of checkpoints (4→8 adds 4 segments, 8→32 adds 24 = 6× as many)
    assert((opened(8) - opened(4)) * 6 == opened(32) - opened(8),
      opened.toString)
    assert(opened(4) - opened(0) == (opened(8) - opened(4)),
      opened.toString)
    // written bytes per segment stay flat while the generation grows 33×
    assert(segBytes.max <= (segBytes.min * 3) / 2, segBytes.toString)
    // merged readout at 32 live segments: base + 32 deltas = 33 each
    val got = Registries.readTokenCounts(store, "tok").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    assert(got.size == 40 && got.values.forall(_ == 33L), got.toString)
  }

  test("a lost SegmentsKey (out-of-band metadata-replacing commit) " +
      "forces compaction on the next batch instead of deferring it — " +
      "segment count cannot grow unbounded") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-segk").toString
    writeDocFiles(tmp, Seq("a b", "b c", "c d"))
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    val commits = scala.collection.mutable.ArrayBuffer
      .empty[Registries.RegistryCommit]
    spark.conf.set("spark.graft.registry.compactSegments", "8")
    try {
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt",
        registryPartitions = 2,
        onCommit = (_, c) => commits.synchronized { commits += c })
        .awaitTermination()
      assert(commits.toList.forall {
        case _: Registries.SegmentAppended => true
        case _ => false
      }, commits.toString)
      // an out-of-band writer replaces the metadata wholesale and
      // drops the counter (it keeps the txn map — its job is metadata
      // surgery, not disarming the replay guard)
      store.overwriteWithMeta("tok",
        Registries.readTokenCounts(store, "tok"),
        store.committedMeta("tok").filter(_._1.startsWith("txn.")))
      assert(store.committedMeta("tok").get(Registries.SegmentsKey).isEmpty)
      commits.clear()
      // batch 4 arrives: the missing counter must force a COMPACTION
      // (getOrElse(0) would instead append for up to compactEvery more
      // batches, every lost counter deferring compaction again)
      val extra = new java.io.File(s"$tmp/stage-extra")
      Seq(Tuple1("d e")).toDF("text").coalesce(1)
        .write.mode("overwrite").parquet(extra.getPath)
      val part = extra.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$tmp/in", "d003.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + 3 * 60000L)
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt",
        registryPartitions = 2,
        onCommit = (_, c) => commits.synchronized { commits += c })
        .awaitTermination()
      assert(commits.toList.map {
        case _: Registries.Compacted => "cmp"
        case _: Registries.SegmentAppended => "seg"
      } == List("cmp"), commits.toString)
      // counter re-established through the compaction commit
      assert(store.committedMeta("tok").get(Registries.SegmentsKey)
        .contains("0"))
      val got = Registries.readTokenCounts(store, "tok").collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
      assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 2L,
        "e" -> 1L), got.toString)
    } finally spark.conf.unset("spark.graft.registry.compactSegments")
  }

  test("registry files are sized by their bytes: a compaction writes one " +
      "file per target size, a large segment and an outgrown pruned " +
      "rewrite split, and readouts stay exact") {
    val target = 2048L
    // batch b: 400 documents, each token used by a quarter of them and
    // a few tokens new in this batch, so the vocabulary grows
    val texts = (0 until 4).map(b => (0 until 400).map(d =>
      (0 until 12).map(t => s"w${(d * 13 + t * 7) % 700}").mkString(" ") +
        s" b${b}x${d % 40}"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-bytes").toString
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val batchBytes = texts.zipWithIndex.map { case (docs, b) =>
      val stage = new java.io.File(s"$tmp/stage$b")
      docs.zipWithIndex.map { case (t, d) => (b * 1000L + d, t) }
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, f"d$b%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 60000L)
      dst.length()
    }
    assert(batchBytes.forall(_ > 2 * target), batchBytes.toString)
    def ceilDiv(a: Long) = (a + target - 1) / target
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    def regBytes(schema: String) = store.read(schema).inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val tokenCommits = scala.collection.mutable.ArrayBuffer
      .empty[(Registries.RegistryCommit, Long, Int)]
    val dedupFiles = scala.collection.mutable.ArrayBuffer.empty[Int]
    spark.conf.set("spark.graft.store.targetFileBytes", target.toString)
    spark.conf.set("spark.graft.registry.compactSegments", "2")
    try {
      // registry bytes before each commit, and its files after it
      var before = 0L
      Registries.incrementalTokenCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "tok", "s1", s"$tmp/ckpt-tok",
        onCommit = (_, c) => tokenCommits.synchronized {
          tokenCommits += ((c, before, store.dataFileCount("tok")))
          before = regBytes("tok")
        })
        .awaitTermination()
      graft.operators.Dedup.incrementalDedup(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "doc_id", "text", store, "reg", s"$tmp/ckpt-dedup",
        onCommit = (_, _) => dedupFiles.synchronized {
          dedupFiles += store.dataFileCount("reg")
        })
        .awaitTermination()
    } finally {
      spark.conf.unset("spark.graft.store.targetFileBytes")
      spark.conf.unset("spark.graft.registry.compactSegments")
    }
    // seg, seg, cmp, seg at compactEvery = 2
    assert(tokenCommits.map(_._1 match {
      case _: Registries.SegmentAppended => "seg"
      case _: Registries.Compacted => "cmp"
    }) == Seq("seg", "seg", "cmp", "seg"), tokenCommits.toString)
    tokenCommits.zipWithIndex.foreach {
      // a segment is sized by its delta, which holds at most the batch's
      // bytes: above the target it splits
      case ((Registries.SegmentAppended(r), _, _), b) =>
        assert(r.newFiles > 1 && r.newFiles <= ceilDiv(batchBytes(b)),
          s"segment $b: $r, batch ${batchBytes(b)} B")
      // a compaction reads the whole registry and the batch's delta:
      // one file per target size of those bytes, not a fixed count
      case ((Registries.Compacted(_), stored, files), b) =>
        assert(files >= ceilDiv(stored) &&
          files <= ceilDiv(stored + batchBytes(b)),
          s"compaction: $files files from $stored B + batch ${batchBytes(b)} B")
    }
    // the pruned registry's rewrites split its files as it grows
    assert(dedupFiles.length == 4 && dedupFiles.last > dedupFiles.head,
      dedupFiles.toString)
    // and both readouts equal the one-shot aggregates
    val all = texts.flatten
    val tokens = Registries.readTokenCounts(store, "tok").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    assert(tokens == all.flatMap(_.split(" ")).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong })
    val firstIds = texts.zipWithIndex.flatMap { case (docs, b) =>
      docs.zipWithIndex.map { case (t, d) => (t, b * 1000L + d) } }
      .groupBy(_._1).map(_._2.map(_._2).min).toSet
    assert(store.read("reg").collect().map(_.getAs[Long]("doc_id")).toSet ==
      firstIds)
  }

  test("incrementalBigramCounts: adjacent pairs equal the one-shot " +
      "aggregate for any batch split; components ride the key") {
    val rows = Seq(Tuple1("a b a"), Tuple1("b a"), Tuple1("solo"))
      .toDF("text")
    val expected = Map("a b" -> (("a", "b", 1L)),
      "b a" -> (("b", "a", 2L)))
    def run(nFiles: Int): Map[String, (String, String, Long)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incbig")
        .toString
      rows.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      Registries.incrementalBigramCounts(
        StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "text", store, "big", "s1", s"$tmp/ckpt")
        .awaitTermination()
      Registries.readBigramCounts(store, "big").collect()
        .map(r => r.getAs[String]("key") ->
          ((r.getAs[String]("v"), r.getAs[String]("w"),
            r.getAs[Long]("n")))).toMap
    }
    assert(run(1) == expected)
    assert(run(3) == expected)
  }
}
