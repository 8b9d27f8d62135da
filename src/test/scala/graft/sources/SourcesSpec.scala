package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.SparkTestSession

case class KV(k: Long, v: String)

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-store").toString

  test("result store: insert / read / count / exists") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("results", Seq(KV(1, "a"), KV(2, "b")).toDF())
    assert(store.count("results") == 2)
    assert(store.exists("results", "k", 1L))
    assert(!store.exists("results", "k", 99L))
  }

  test("result store: filter DSL reads push down predicates") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("r", Seq(KV(1, "alpha"), KV(2, "beta"), KV(3, "gamma")).toDF())
    val out = store.filterRecords("r", "v__startswith" -> "a")
    assert(out.collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PushedFilters") &&
      plan.contains("StringStartsWith(v,a)"))
  }

  test("result store: time-travel read and rollback restore the previous generation") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("t", Seq(KV(1, "a")).toDF())
    store.overwrite("t", Seq(KV(2, "b"), KV(3, "c")).toDF())
    // both generations on disk (GC keeps current + previous committed)
    val vs = store.versions("t")
    assert(vs.size == 2 && vs == vs.sorted.reverse)
    assert(store.readVersion("t", vs.last)
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
    // RESTORE undoes the overwrite...
    assert(store.rollback("t").contains(vs.last))
    assert(store.read("t").collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
    // ...and is itself undoable (the undone generation was retained)
    assert(store.rollback("t").contains(vs.head))
    assert(store.read("t").count() == 2)
    // unknown version is a loud error, not an empty frame
    intercept[IllegalArgumentException](store.readVersion("t", "v99999999"))
  }

  test("result store: generation diff = Snapshot.diff over time-travel reads") {
    // the audit a refresh pipeline runs after a commit: what did this
    // generation change vs the previous one?
    val store = new ResultStore(spark, tmpDir())
    store.overwrite("t", Seq(KV(1, "a"), KV(2, "b"), KV(3, "c")).toDF())
    store.overwrite("t", Seq(KV(1, "a"), KV(2, "B"), KV(4, "d")).toDF())
    val prev = store.versions("t").last
    val d = graft.operators.Snapshot.diff(
        store.readVersion("t", prev), store.read("t"), "k", md5(col("v")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("result store: rollback with no history is a no-op") {
    val store = new ResultStore(spark, tmpDir())
    assert(store.rollback("missing").isEmpty)
    store.insert("one", Seq(KV(1, "a")).toDF())
    // a single-generation schema has nothing to restore to
    assert(store.rollback("one").isEmpty)
    assert(store.count("one") == 1)
  }

  test("result store: get enforces exactly-one") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("g", Seq(KV(1, "x"), KV(2, "x")).toDF())
    assert(store.get("g", "k" -> 1L).getAs[String]("v") == "x")
    intercept[NoSuchElementException](store.get("g", "k" -> 42L))
    intercept[graft.core.MultiValueError](store.get("g", "v" -> "x"))
  }

  test("result store: upsert replaces rows by key, keeps others") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("u", Seq(KV(1, "old"), KV(2, "keep")).toDF())
    store.upsert("u", Seq(KV(1, "new"), KV(3, "add")).toDF(), "k")
    val got = store.read("u").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((1L, "new"), (2L, "keep"), (3L, "add")))
  }

  test("result store: merge updates matched, inserts new, deletes marked") {
    import org.apache.spark.sql.functions.col
    val store = new ResultStore(spark, tmpDir())
    store.insert("m", Seq(KV(1, "old"), KV(2, "keep"), KV(3, "drop")).toDF())
    // 1 matched -> update; 3 matched + marked -> delete; 4 unmatched ->
    // insert; 5 unmatched + marked -> no-op (MERGE's conditional arms)
    store.merge("m",
      Seq(KV(1, "new"), KV(3, "DEL"), KV(4, "add"), KV(5, "DEL")).toDF(),
      "k", deleteWhen = Some(col("v") === "DEL"))
    val got = store.read("m").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((1L, "new"), (2L, "keep"), (4L, "add")))
    // merge into an absent schema inserts the non-marked rows
    store.merge("m2", Seq(KV(1, "a"), KV(2, "DEL")).toDF(), "k",
      deleteWhen = Some(col("v") === "DEL"))
    assert(store.read("m2").collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
  }

  test("result store: merge treats a NULL delete condition as not-marked") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("mn", Seq(KV(1, "old"), KV(2, "keep")).toDF())
    // source rows carry a nullable tombstone column; NULL must mean
    // "update", not "delete" (SQL MERGE: UNKNOWN arm condition = false)
    val src = Seq((1L, "new", null.asInstanceOf[java.lang.Boolean]),
                  (3L, "add", null.asInstanceOf[java.lang.Boolean]),
                  (2L, "x", java.lang.Boolean.TRUE))
      .toDF("k", "v", "dead")
    store.merge("mn", src, "k", deleteWhen = Some(col("dead")))
    val got = store.read("mn").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((1L, "new"), (3L, "add")))
    // same contract on the table-absent branch
    store.merge("mn2", src, "k", deleteWhen = Some(col("dead")))
    assert(store.read("mn2").collect().map(_.getAs[Long]("k")).toSet ==
      Set(1L, 3L))
  }

  test("result store: a crash before the pointer flip never loses the table") {
    val dir = tmpDir()
    var crash = true
    val store = new ResultStore(spark, dir) {
      override protected def beforeSwapHook(): Unit =
        if (crash) throw new RuntimeException("injected crash")
    }
    crash = false
    store.insert("t", Seq(KV(1, "a"), KV(2, "b")).toDF())
    crash = true
    // the rewrite dies after writing the new version, before the flip
    intercept[RuntimeException] {
      store.upsert("t", Seq(KV(1, "NEW"), KV(3, "c")).toDF(), "k")
    }
    // old table fully intact — no missing/partial window
    val got = store.read("t").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    // retry succeeds; the stranded (never-committed) version dir is
    // collected, while the previous COMMITTED version survives one
    // commit so in-flight lazy readers keep scanning intact files
    crash = false
    val snapshot = store.read("t") // lazy handle bound to the old version
    store.upsert("t", Seq(KV(1, "NEW"), KV(3, "c")).toDF(), "k")
    val after = store.read("t").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(after == Seq((1L, "NEW"), (2L, "b"), (3L, "c")))
    assert(snapshot.count() == 2) // pre-rewrite handle still whole
    val versions = new java.io.File(s"$dir/t")
      .list((_, n) => n.matches("v\\d{8}")).toSeq.sorted
    assert(versions.size == 2, versions.toString) // current + previous
    // same guarantee on delete
    crash = true
    intercept[RuntimeException](store.delete("t", "k" -> 1L))
    assert(store.count("t") == 3)
  }

  test("result store: append commits atomically and isolates lazy readers") {
    val dir = tmpDir()
    var crash = false
    val store = new ResultStore(spark, dir) {
      override protected def beforeSwapHook(): Unit =
        if (crash) throw new RuntimeException("injected crash")
    }
    store.insert("a", Seq(KV(1, "a")).toDF())
    val snapshot = store.read("a") // lazy handle bound to the pre-append version
    crash = true
    // the append dies after staging the new version, before the flip
    intercept[RuntimeException](store.insert("a", Seq(KV(2, "b")).toDF()))
    assert(store.read("a").collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
    crash = false
    store.insert("a", Seq(KV(2, "b")).toDF())
    assert(store.read("a").orderBy("k").collect()
      .map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L))
    // the lazy pre-append handle scans exactly the files it resolved
    assert(snapshot.count() == 1)
    // appends compound across versions (hard-linked prior files)
    store.insert("a", Seq(KV(3, "c")).toDF())
    assert(store.count("a") == 3)
  }

  test("in-memory KV store: over-cap writes fail loudly, store untouched") {
    val store = new InMemoryKvStore(spark, maxRecordsPerSchema = 3)
    store.insert("s", Seq(KV(1, "a")).toDF(), "k")
    // an oversized batch is refused BEFORE it can displace anything
    intercept[IllegalStateException] {
      store.upsert("s", (2L to 5L).map(i => KV(i, "x")).toDF(), "k")
    }
    assert(store.count("s") == 1)
    // growth to exactly the cap is fine...
    store.upsert("s", Seq(KV(2, "b"), KV(3, "c")).toDF(), "k")
    assert(store.count("s") == 3)
    // ...one more new key is not
    intercept[IllegalStateException](
      store.insert("s", Seq(KV(4, "d")).toDF(), "k"))
    // overwriting existing keys at the cap stays legal (no growth)
    store.upsert("s", Seq(KV(3, "c2")).toDF(), "k")
    assert(store.get("s", 3L).getAs[String]("v") == "c2")
  }

  test("result store: randomized crash injection never diverges from the model") {
    // property form of the crash-safety contract: a random sequence of
    // rewrites, ~1/3 of them crashing between write and pointer flip,
    // must leave the store equal to an in-memory model that only
    // applies the operations that COMMITTED. Any torn/partial/missing
    // state diverges immediately.
    val rnd = new scala.util.Random(20260814)
    var crash = false
    val store = new ResultStore(spark, tmpDir()) {
      override protected def beforeSwapHook(): Unit =
        if (crash) throw new RuntimeException("injected crash")
    }
    val model = scala.collection.mutable.Map.empty[Long, String]
    var committed = false // schema exists in the model
    def df(rows: Seq[(Long, String)]) = rows.map(KV.tupled).toDF()
    // one row per key: the store's upsert/merge contracts are keyed
    def randRows() = (1 to 1 + rnd.nextInt(4)).map(_ =>
      (rnd.nextInt(10).toLong, "v" + rnd.nextInt(5)))
      .groupBy(_._1).map(_._2.head).toSeq

    for (step <- 1 to 25) {
      val rows = randRows()
      crash = rnd.nextInt(3) == 0
      val op = rnd.nextInt(4)
      def attempt(f: => Unit)(applyModel: => Unit): Unit =
        if (crash) intercept[RuntimeException](f)
        else { f; applyModel; committed = true }
      op match {
        case 0 => attempt(store.upsert("p", df(rows), "k")) {
          rows.foreach { case (k, v) => model(k) = v }
        }
        case 1 =>
          val marked = rows.map { case (k, v) =>
            (k, if (rnd.nextBoolean()) "DEL" else v) }
          attempt(store.merge("p", df(marked), "k",
            deleteWhen = Some(col("v") === "DEL"))) {
            marked.foreach {
              case (k, "DEL") => model.remove(k)
              case (k, v)     => model(k) = v
            }
          }
        case 2 if committed =>
          val cut = rnd.nextInt(10).toLong
          attempt(store.delete("p", "k__lte" -> cut)) {
            model.keys.filter(_ <= cut).toSeq.foreach(model.remove)
          }
        case _ => attempt(store.overwrite("p", df(rows))) {
          model.clear(); rows.foreach { case (k, v) => model(k) = v }
        }
      }
      if (committed) {
        val got = store.read("p").collect()
          .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
        assert(got == model.toMap, s"diverged at step $step (crash=$crash)")
      }
    }
  }

  test("mergePruned rewrites touched files only, hard-links the rest") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    val base = (1L to 400L).map(k => KV(k, "v" + k)).toDF()
    store.prunedMerge("t", base, "k", Combine.Replace(), initialFiles = 4)
    val v1 = new java.io.File(s"$root/t/v00000001")
    val v1Files = v1.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(v1Files.length == 4)
    // narrow update: keys 10..20 live in ONE range file
    val upd = (10L to 20L).map(k => KV(k, "UPD")).toDF()
    store.prunedMerge("t", upd, "k", Combine.Replace())
    val v2 = new java.io.File(s"$root/t/v00000002")
    val carried = v1Files.filter { f =>
      val twin = new java.io.File(v2, f.getName)
      twin.exists() && java.nio.file.Files.isSameFile(f.toPath, twin.toPath)
    }
    // 3 of 4 files carried forward as hard links; 1 rewritten
    assert(carried.length == 3)
    // contents are exactly the merged table
    val got = store.read("t").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got.size == 400)
    assert((10L to 20L).forall(k => got(k) == "UPD"))
    assert(got(9L) == "v9" && got(21L) == "v21" && got(400L) == "v400")
  }

  test("mergePruned matches merge on a randomized op sequence") {
    val rnd = new scala.util.Random(20260813)
    val a = new ResultStore(spark, tmpDir()) // merge (full rewrite)
    val b = new ResultStore(spark, tmpDir()) // prunedMerge
    def df(rows: Seq[(Long, String)]) = rows.map(KV.tupled).toDF()
    def randRows() = (1 to 1 + rnd.nextInt(6)).map(_ =>
      (rnd.nextInt(30).toLong, "v" + rnd.nextInt(5)))
      .groupBy(_._1).map(_._2.head).toSeq
    for (step <- 1 to 12) {
      val rows = randRows().map { case (k, v) =>
        (k, if (rnd.nextInt(4) == 0) "DEL" else v) }
      val del = Some(col("v") === "DEL")
      a.merge("p", df(rows), "k", del)
      b.prunedMerge("p", df(rows), "k", Combine.Replace(del))
      val ra = a.read("p").collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      val rb = b.read("p").collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      assert(ra == rb, s"diverged at step $step")
    }
  }

  test("mergePruned: inserts outside every file range, widening, foreign commits") {
    val store = new ResultStore(spark, tmpDir())
    store.prunedMerge("x", (1L to 100L).map(k => KV(k, "a")).toDF(), "k",
      Combine.Replace(), initialFiles = 2)
    // keys beyond every range → pure insert, no stored row lost
    store.prunedMerge("x", Seq(KV(500L, "new")).toDF(), "k", Combine.Replace())
    assert(store.count("x") == 101)
    assert(store.get("x", "k" -> 500L).getAs[String]("v") == "new")
    // widening source falls back to a full rewrite and keeps both cols
    store.prunedMerge("x",
      Seq((7L, "wide", 1.5)).toDF("k", "v", "w"), "k", Combine.Replace())
    val r7 = store.get("x", "k" -> 7L)
    assert(r7.getAs[String]("v") == "wide" && r7.getAs[Double]("w") == 1.5)
    assert(store.get("x", "k" -> 8L).isNullAt(
      store.read("x").columns.indexOf("w")))
    // a foreign commit (overwrite writes no sidecar) still merges
    store.overwrite("x", Seq(KV(1, "o1"), KV(2, "o2")).toDF())
    store.prunedMerge("x", Seq(KV(2, "m2"), KV(3, "m3")).toDF(), "k",
      Combine.Replace())
    val got = store.read("x").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got == Map(1L -> "o1", 2L -> "m2", 3L -> "m3"))
  }

  test("mergePruned: a crash before the flip leaves the old table intact") {
    var crash = false
    val store = new ResultStore(spark, tmpDir()) {
      override protected def beforeSwapHook(): Unit =
        if (crash) throw new RuntimeException("injected crash")
    }
    store.prunedMerge("c", (1L to 50L).map(k => KV(k, "v" + k)).toDF(), "k",
      Combine.Replace(), initialFiles = 2)
    crash = true
    intercept[RuntimeException](
      store.prunedMerge("c", Seq(KV(5L, "X")).toDF(), "k", Combine.Replace()))
    crash = false
    assert(store.get("c", "k" -> 5L).getAs[String]("v") == "v5")
    // and the store recovers: the same merge succeeds afterwards
    store.prunedMerge("c", Seq(KV(5L, "X")).toDF(), "k", Combine.Replace())
    assert(store.get("c", "k" -> 5L).getAs[String]("v") == "X")
    assert(store.count("c") == 50)
  }

  test("insertDistinctPruned: set-union, replay is a no-op, nothing deleted") {
    val store = new ResultStore(spark, tmpDir())
    val base = (1L to 100L).map(k => KV(k, "v" + k)).toDF()
    store.prunedMerge("u", base, "k", Combine.SetUnion, initialFiles = 4)
    // same key, DIFFERENT row → both survive (no delete-by-key)
    val batch = Seq(KV(10L, "other"), KV(10L, "v10"), KV(500L, "new")).toDF()
    val c1 = store.prunedMerge("u", batch, "k", Combine.SetUnion)
    assert(store.count("u") == 102) // v10 dupe dropped, other+new added
    assert(c1.rewrittenFiles <= 2 && c1.carriedFiles >= 3, c1.toString)
    // at-least-once replay: identical batch leaves the table unchanged
    val before = store.read("u").collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    store.prunedMerge("u", batch, "k", Combine.SetUnion)
    val after = store.read("u").collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(before == after)
    // a widening delta is refused by every combine but Replace (a set
    // union, a sum or a min needs the table's exact schema), and the
    // error names the combine that refused it
    Seq(Combine.SetUnion, Combine.Additive(Seq("k"), Seq("v")),
        Combine.Min("v")).foreach { c =>
      val e = intercept[IllegalArgumentException](store.prunedMerge("u",
        Seq((1L, "x", 2.0)).toDF("k", "v", "w"), "k", c))
      assert(e.getMessage.startsWith(s"prunedMerge('u', ${c.productPrefix}): ") &&
        e.getMessage.contains("adds columns w"), e.getMessage)
    }
  }

  test("readForKeys returns exactly the stored rows for the requested keys") {
    val store = new ResultStore(spark, tmpDir())
    store.prunedMerge("rk", (1L to 200L).map(k => KV(k, "v" + k)).toDF(), "k",
      Combine.Replace(), initialFiles = 4)
    val got = store.readForKeys("rk",
      Seq(7L, 42L, 9999L).toDF("k"), "k").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got == Map(7L -> "v7", 42L -> "v42")) // absent key → no row
    // no sidecar (foreign overwrite) still answers correctly
    store.overwrite("rk", Seq(KV(1, "o1"), KV(2, "o2")).toDF())
    val got2 = store.readForKeys("rk", Seq(2L, 3L).toDF("k"), "k").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got2 == Map(2L -> "o2"))
  }

  test("mergeAdditivePruned equals the two-pass readForKeys + " +
      "re-aggregate + upsertPruned shape it replaced, at its pruned cost") {
    // same batch sequence through both shapes: clustered keys so the
    // pruned path actually prunes, overlapping keys so the
    // re-aggregate actually merges, disjoint new keys so the rewrite
    // extends the key space
    val keys = Seq(1L to 40L, 20L to 60L, 55L to 70L)
    val additive = keys.zip(Seq((1L, 10L), (2L, 5L), (1L, 1L))).map {
      case (ks, (d, t)) => ks.map(k => (k, d, t)).toDF("key", "n_docs", "n_tokens")
    }
    // values rise and fall across batches, so the minimum comes from
    // the stored side for some keys and from the batch for others
    val mins = keys.zipWithIndex.map { case (ks, i) =>
      ks.map(k => (k, (k * 7 + i * 13) % 23)).toDF("key", "doc_id")
    }
    def twoPass(reagg: DataFrame => DataFrame, batches: Seq[DataFrame]) = {
      val store = new ResultStore(spark, tmpDir())
      batches.foreach { b =>
        if (!store.hasSchema("reg"))
          store.prunedMerge("reg", b, "key", Combine.Replace(), initialFiles = 4)
        else
          store.prunedMerge("reg",
            reagg(store.readForKeys("reg", b, "key").unionByName(b)), "key",
            Combine.Replace())
      }
      store
    }
    Seq[(Combine, DataFrame => DataFrame, Seq[DataFrame])](
      (Combine.Additive(Seq("key"), Seq("n_docs", "n_tokens")),
        _.groupBy("key").agg(sum("n_docs").as("n_docs"),
          sum("n_tokens").as("n_tokens")),
        additive),
      (Combine.Min("doc_id"), _.groupBy("key").agg(min("doc_id").as("doc_id")),
        mins)).foreach { case (combine, reagg, batches) =>
      val a = new ResultStore(spark, tmpDir())
      val receipts = batches.map(b =>
        a.prunedMerge("reg", b, "key", combine, initialFiles = 4))
      def tbl(s: ResultStore) = s.read("reg")
        .select(batches.head.columns.map(col): _*)
        .collect().map(_.toSeq.map(_.asInstanceOf[Long])).sortBy(_.head).toSeq
      assert(tbl(a) == tbl(twoPass(reagg, batches)), combine.toString)
      // and the one-pass path still prunes: the third batch (55-70)
      // must carry at least one file of the 1-40 range forward
      assert(receipts.last.carriedFiles >= 1, s"$combine $receipts")
    }
  }

  test("cloneSchema: zero-copy clone reads identically, diverges " +
      "independently, carries the pruning sidecar") {
    val store = new ResultStore(spark, tmpDir())
    store.prunedMerge("src", (1L to 100L).map(k => KV(k, "v" + k)).toDF(), "k",
      Combine.Replace(), initialFiles = 4)
    store.cloneSchema("src", "dst")
    // clone reads bit-identically at clone time
    assert(store.read("dst").collect().map(r => r.getLong(0)).sorted
      .sameElements(store.read("src").collect().map(r => r.getLong(0))
        .sorted))
    // the sidecar hard-linked over: the clone's FIRST pruned merge
    // already prunes (carried files > 0 against a 4-file table)
    val c = store.prunedMerge("dst", Seq(KV(1L, "x")).toDF(), "k",
      Combine.Replace())
    assert(c.carriedFiles >= 2, c.toString)
    // divergence is one-way: dst mutated, src untouched
    assert(store.read("dst").filter(col("v") === "x").count() == 1L)
    assert(store.read("src").filter(col("v") === "x").count() == 0L)
    assert(store.count("src") == 100L)
    // a clone is a create, not an overwrite
    intercept[IllegalArgumentException](store.cloneSchema("src", "dst"))
  }

  test("deep time travel: retainVersions keeps a readable history") {
    spark.conf.set("spark.graft.store.retainVersions", "4")
    try {
      val store = new ResultStore(spark, tmpDir())
      for (g <- 1 to 6)
        store.overwrite("h", Seq(KV(g.toLong, s"gen$g")).toDF())
      // 6 commits, newest 4 retained and each one readable (VERSION AS OF)
      val vs = store.versions("h")
      assert(vs.size == 4, vs.toString)
      val gens = vs.map(v => store.readVersion("h", v).collect()
        .map(_.getAs[String]("v")).toSeq)
      assert(gens == Seq(Seq("gen6"), Seq("gen5"), Seq("gen4"), Seq("gen3")),
        gens.toString)
      // rollback still restores the previous generation
      assert(store.rollback("h").isDefined)
      assert(store.read("h").collect().head.getAs[String]("v") == "gen5")
      // dropping back to the default trims history on later commits
      // (the rollback's undone generation survives one extra flip)
      spark.conf.unset("spark.graft.store.retainVersions")
      store.overwrite("h", Seq(KV(8L, "gen7")).toDF())
      store.overwrite("h", Seq(KV(9L, "gen8")).toDF())
      assert(store.versions("h").size == 2, store.versions("h").toString)
      assert(store.read("h").collect().head.getAs[String]("v") == "gen8")
    } finally spark.conf.unset("spark.graft.store.retainVersions")
  }

  test("pruned rewrites split outgrown files so file count tracks size") {
    // with uniform keys a batch touches ~min(batchKeys, files) files,
    // so per-batch write cost is batchKeys × rows-per-file — bounded
    // only if files SPLIT as they outgrow the target size (frozen
    // file counts degrade a mature registry to near-full rewrites)
    spark.conf.set("spark.graft.store.targetFileBytes", "2048")
    try {
      val root = tmpDir()
      val store = new ResultStore(spark, root)
      store.prunedMerge("s",
        (1L to 2000L by 20L).map(k => KV(k, "v" + k)).toDF(), "k",
        Combine.Replace(), initialFiles = 2)
      var maxFiles = 2
      for (b <- 1 to 6) {
        // 100 new keys inside the existing ranges → files grow
        val ins = (1L to 2000L by 20L).map(k => KV(k + b, s"b$b-$k")).toDF()
        val c = store.prunedMerge("s", ins, "k", Combine.Replace())
        maxFiles = math.max(maxFiles, c.totalFiles)
      }
      val dataDir = new java.io.File(s"$root/s/" + store.versions("s").last)
      val nFiles = Option(dataDir.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      assert(nFiles > 2, s"files never split: $nFiles")
      // pruning still works at the grown file count: a single-key
      // upsert rewrites O(1) files and carries the rest
      val c = store.prunedMerge("s", Seq(KV(101L, "X")).toDF(), "k",
        Combine.Replace())
      assert(c.rewrittenFiles <= 2 && c.carriedFiles >= nFiles - 2,
        c.toString)
    } finally spark.conf.unset("spark.graft.store.targetFileBytes")
  }

  test("a growing registry's files split at iterPartitionBytes below " +
      "targetFileBytes, so a narrow batch rewrites few small files") {
    // a registry of R bytes is laid out in files of min(target, max(per,
    // R × per / target)): under target its files hold about one
    // partition's bytes, where the target alone would keep it one file
    // that every batch rewrites whole
    val per = 4096L
    spark.conf.set("spark.graft.store.targetFileBytes", (32 * per).toString)
    spark.conf.set("spark.graft.iterPartitionBytes", per.toString)
    try {
      val root = tmpDir()
      val store = new ResultStore(spark, root)
      val keys = 1L to 8000L by 40L
      store.prunedMerge("s", keys.map(k => KV(k, "v" + k)).toDF(), "k",
        Combine.Replace())
      assert(store.dataFileCount("s") == 1)
      // 200 new keys across the whole range per batch: every file is
      // touched, so each rewrite re-lays the registry out by its bytes
      for (b <- 1 to 8)
        store.prunedMerge("s", keys.map(k => KV(k + b, s"b$b-$k")).toDF(),
          "k", Combine.Replace())
      val dataDir = new java.io.File(s"$root/s/" + store.versions("s").last)
      val files = Option(dataDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      val bytes = files.map(_.length()).sum
      assert(bytes < 32 * per, s"registry reached the target: $bytes B")
      assert(files.length > 1 && files.length >= bytes / (2 * per),
        s"${files.length} files for $bytes B")
      // a single-key upsert rewrites O(1) files and carries the rest
      val c = store.prunedMerge("s", Seq(KV(4001L, "X")).toDF(), "k",
        Combine.Replace())
      assert(c.rewrittenFiles <= 2 && c.carriedFiles >= files.length - 2,
        c.toString)
    } finally {
      spark.conf.unset("spark.graft.store.targetFileBytes")
      spark.conf.unset("spark.graft.iterPartitionBytes")
    }
  }

  test("pruned commits stay batch-sized while the registry grows") {
    // the quadratic-write trap: N incremental batches must not each
    // rewrite the whole registry. 32-file registry, 5-key batches →
    // every commit rewrites at most 5 files (one per key range hit,
    // plus inserts landing in existing ranges), carries the rest.
    val store = new ResultStore(spark, tmpDir())
    store.prunedMerge("reg", (1L to 10000L).map(k => KV(k, "v" + k)).toDF(),
      "k", Combine.Replace(), initialFiles = 32)
    var rows = 10000L
    for (b <- 1 to 6) {
      val upd = Seq(KV(b * 700L, "upd"), KV(b * 1300L, "upd"),
        KV(b * 999L, "upd"), KV(100000L + b, "ins"), KV(200000L + b, "ins"))
        .toDF().as[KV].toDF()
      val c = store.prunedMerge("reg", upd, "k", Combine.Replace())
      // O(batch keys), with a small slack for range-boundary overlap
      // between insert files accreted by earlier batches — NEVER the
      // 32-file registry
      assert(c.rewrittenFiles <= 2 * 5,
        s"batch $b rewrote ${c.rewrittenFiles} files — pruning decayed")
      assert(c.carriedFiles >= c.totalFiles - 2 * 5,
        s"batch $b carried only ${c.carriedFiles}/${c.totalFiles}")
      rows += 2 // 3 updates in place, 2 inserts
      assert(store.count("reg") == rows)
    }
  }

  test("result store: delete by predicate") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("d", Seq(KV(1, "a"), KV(2, "b"), KV(3, "ab")).toDF())
    store.delete("d", "v__contains" -> "a")
    assert(store.read("d").collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
  }

  test("streaming upsert drains a stream into the store") {
    val store = new ResultStore(spark, tmpDir())
    val src = graft.streaming.StreamRunner
      .parquetStream(spark, "/root/testdata/sf0.001/region.parquet")
    val q = store.streamingUpsert(src, "regions", "r_regionkey", tmpDir())
    q.awaitTermination()
    assert(store.count("regions") ==
      graft.Tables.load(spark, "/root/testdata/sf0.001", "region").count())
  }

  test("streaming merge applies CDC arms per micro-batch") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("cdc", Seq(KV(1, "old"), KV(2, "keep"), KV(3, "gone")).toDF())
    // a CDC batch: update 1, tombstone 3, insert 4
    val srcDir = tmpDir()
    Seq(KV(1, "new"), KV(3, "DEL"), KV(4, "add")).toDF()
      .write.mode("overwrite").parquet(s"$srcDir/batch.parquet")
    val stream = graft.streaming.StreamRunner
      .parquetStream(spark, s"$srcDir/batch.parquet")
    val q = store.streamingMerge(stream, "cdc", "k", tmpDir(),
      deleteWhen = Some(col("v") === "DEL"))
    q.awaitTermination()
    val got = store.read("cdc").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(got == Seq((1L, "new"), (2L, "keep"), (4L, "add")))
  }

  test("in-memory KV store: redis hash semantics + filter DSL + streaming") {
    val store = new InMemoryKvStore(spark)
    store.insert("s", Seq(KV(1, "alpha"), KV(2, "beta")).toDF(), "k")
    assert(store.count("s") == 2 && store.exists("s", 1L) && !store.exists("s", 9L))
    // insert refuses an existing key (redis_store insert_record) and
    // leaves the store untouched — validation precedes any mutation
    intercept[graft.core.ObjectExistError](
      store.insert("s", Seq(KV(9, "new"), KV(1, "dup")).toDF(), "k"))
    assert(store.count("s") == 2 && !store.exists("s", 9L))
    // a reordered-column frame aligns; a different column set or a
    // drifted TYPE under the same names refuses
    store.upsert("s", Seq(("gamma2", 3L)).toDF("v", "k"), "k")
    assert(store.get("s", 3L).getAs[String]("v") == "gamma2")
    intercept[IllegalArgumentException](
      store.upsert("s", Seq((4L, "x", "y")).toDF("k", "v", "w"), "k"))
    intercept[IllegalArgumentException](
      store.upsert("s", Seq(("4", "x")).toDF("k", "v"), "k"))
    // update refuses a missing key; upsert takes either arm
    intercept[graft.core.ObjectDoesNotExist](
      store.update("s", Seq(KV(9, "x")).toDF(), "k"))
    store.update("s", Seq(KV(1, "ALPHA")).toDF(), "k")
    store.upsert("s", Seq(KV(3, "gamma")).toDF(), "k")
    assert(store.get("s", 1L).getAs[String]("v") == "ALPHA")
    // filter DSL matches the other stores' compiler
    assert(store.filterRecords("s", "v__contains" -> "a")
      .collect().map(_.getAs[Long]("k")).toSet == Set(2L, 3L))
    store.deleteRecord("s", 2L)
    intercept[graft.core.ObjectDoesNotExist](store.deleteRecord("s", 2L))
    assert(store.read("s").count() == 2)
    // micro-batches drain into the hash
    val src = graft.streaming.StreamRunner
      .parquetStream(spark, "/root/testdata/sf0.001/region.parquet")
    store.streamingUpsert(src, "regions", "r_regionkey", tmpDir())
      .awaitTermination()
    assert(store.count("regions") == 5)
  }

  test("in-memory KV store: a refused first insert registers no schema") {
    val store = new InMemoryKvStore(spark)
    intercept[graft.core.ObjectExistError](
      store.insert("ghost", Seq(KV(1, "a"), KV(1, "b")).toDF(), "k"))
    // the store is truly untouched: no empty table under 'ghost'
    intercept[graft.core.ObjectDoesNotExist](store.read("ghost"))
    assert(store.count("ghost") == 0)
    // and a later insert with a DIFFERENT schema is fine
    store.insert("ghost", Seq((1L, "a", 7L)).toDF("k", "v", "extra"), "k")
    assert(store.count("ghost") == 1)
  }

  test("jdbc store: parameterized type hints survive narrowing writes") {
    // DECIMAL(18,6) carries a comma INSIDE the type — the per-frame
    // hint pruning must split on top-level commas only
    val db = tmpDir() + "/derby"
    val store = new JdbcResultStore(spark, s"jdbc:derby:$db;create=true",
      connProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"),
      writeOptions = Map("createTableColumnTypes" ->
        "v DECIMAL(18,6), w VARCHAR(64)"))
    store.insert("d",
      Seq((1L, BigDecimal("1.5"), "w1"), (2L, BigDecimal("2.5"), "w2"))
        .toDF("k", "v", "w"))
    // narrowing write: only (k, v) — the w entry prunes away, the
    // DECIMAL(18,6) entry stays intact
    store.upsert("d", Seq((1L, BigDecimal("9.25"))).toDF("k", "v"), "k")
    val r = store.read("d").filter(col("k") === 1L).head()
    assert(r.getAs[java.math.BigDecimal]("v").doubleValue() == 9.25)
    assert(r.getAs[String]("w") == "w1") // untouched column preserved
  }

  test("in-memory KV store: concurrent inserts of one key admit exactly one") {
    val store = new InMemoryKvStore(spark)
    store.insert("race", Seq(KV(0, "seed")).toDF(), "k")
    val df = Seq(KV(42, "w")).toDF()
    df.count() // materialize the plan before the threads race
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map(_ => new Thread(() =>
      try { store.insert("race", df, "k"); wins.incrementAndGet() }
      catch { case _: graft.core.ObjectExistError => losses.incrementAndGet() }))
    threads.foreach(_.start()); threads.foreach(_.join())
    // HSETNX under concurrency: one winner, three refusals, no lost
    // updates and no double-success
    assert(wins.get() == 1 && losses.get() == 3)
    assert(store.count("race") == 2)
  }

  test("KV store: two handles over one client endpoint interoperate") {
    // the redis_store.py deployment shape: independent store handles
    // pointed at the same endpoint see each other's records AND
    // schemas (the StructType registry travels through the client)
    val endpoint = new InMemoryHashClient
    val a = new InMemoryKvStore(spark, client = endpoint)
    val b = new InMemoryKvStore(spark, client = endpoint)
    a.insert("shared", Seq(KV(1, "from-a")).toDF(), "k")
    assert(b.exists("shared", 1))
    assert(b.get("shared", 1).getAs[String]("v") == "from-a")
    b.upsert("shared", Seq(KV(2, "from-b")).toDF(), "k")
    assert(a.count("shared") == 2)
    assert(a.read("shared").collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      Seq(1L, 2L))
    // NX refusal works across handles, not just within one
    intercept[graft.core.ObjectExistError](
      b.insert("shared", Seq(KV(1, "steal")).toDF(), "k"))
  }

  test("KV store: all traffic routes through the injected client") {
    val calls = scala.collection.mutable.Buffer.empty[String]
    val spy = new KvHashClient {
      private val inner = new InMemoryHashClient
      def hexists(h: String, f: String) =
        { calls += "hexists"; inner.hexists(h, f) }
      def hget(h: String, f: String) = { calls += "hget"; inner.hget(h, f) }
      def hset(h: String, kvs: Iterable[(String, Array[Byte])]) =
        { calls += "hset"; inner.hset(h, kvs) }
      def hdel(h: String, f: String) = { calls += "hdel"; inner.hdel(h, f) }
      def hlen(h: String) = { calls += "hlen"; inner.hlen(h) }
      def hkeys(h: String) = { calls += "hkeys"; inner.hkeys(h) }
      def hgetall(h: String) = { calls += "hgetall"; inner.hgetall(h) }
    }
    val store = new InMemoryKvStore(spark, client = spy)
    store.insert("t", Seq(KV(1, "a")).toDF(), "k")
    store.get("t", 1)
    store.read("t").count()
    store.deleteRecord("t", 1)
    Seq("hset", "hget", "hgetall", "hdel").foreach(c =>
      assert(calls.contains(c), s"$c never reached the client: $calls"))
  }

  test("csv/json/text round trips") {
    val dir = tmpDir()
    val df = Seq(KV(1, "a"), KV(2, "b")).toDF()
    df.write.option("header", "true").csv(s"$dir/c")
    df.write.json(s"$dir/j")
    assert(Sources.csv(spark, s"$dir/c").count() == 2)
    assert(Sources.json(spark, s"$dir/j").count() == 2)
    assert(Sources.fromRows(spark, Seq(KV(1, "a"))).count() == 1)
  }

  test("binary files + fixed-size chunking (FileProxy semantics)") {
    val dir = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/blob.bin"),
      ("abcde" * 3).getBytes) // 15 bytes
    val files = Sources.binaryFiles(spark, s"$dir/*.bin")
    assert(files.count() == 1)
    val chunks = Sources.binaryChunks(spark, s"$dir/*.bin", chunkSize = 4)
      .orderBy("chunk_no").collect()
      .map(r => new String(r.getAs[Array[Byte]]("chunk")))
    assert(chunks.toSeq == Seq("abcd", "eabc", "deab", "cde"))
  }

  private def derbyStore(): JdbcResultStore = {
    val db = tmpDir() + "/derby"
    new JdbcResultStore(spark, s"jdbc:derby:$db;create=true",
      connProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"),
      // Derby maps StringType to CLOB, which cannot be compared or
      // LIKE'd — pin the column to VARCHAR like a real deployment would
      writeOptions = Map("createTableColumnTypes" -> "v VARCHAR(64)"))
  }

  test("jdbc store: insert / read / count / exists round trip (Derby)") {
    val store = derbyStore()
    store.insert("results", Seq(KV(1, "a"), KV(2, "b")).toDF())
    assert(store.count("results") == 2)
    assert(store.exists("results", "k", 1L))
    assert(!store.exists("results", "k", 99L))
    store.insert("results", Seq(KV(3, "c")).toDF())
    assert(store.count("results") == 3)
  }

  test("jdbc store: filter DSL pushes predicates into the database") {
    val store = derbyStore()
    store.insert("r", Seq(KV(1, "alpha"), KV(2, "beta"), KV(3, "gamma")).toDF())
    val out = store.filterRecords("r", "v__startswith" -> "a")
    assert(out.collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // the LIKE must reach the JDBC relation, not run as a Spark filter
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .toLowerCase.contains("startswith"), plan)
    val gt = store.filterRecords("r", "k__gte" -> 2)
    assert(gt.count() == 2)
  }

  test("jdbc store: MERGE INTO upsert round trip (Derby supports MERGE)") {
    val store = derbyStore()   // jdbc:derby → MERGE path auto-detected
    store.insert("mg", Seq(KV(1, "old"), KV(2, "keep")).toDF())
    store.upsert("mg", Seq(KV(1, "new"), KV(3, "add")).toDF(), "k")
    val rows = store.read("mg").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(rows == Seq((1L, "new"), (2L, "keep"), (3L, "add")))
    // a second merge over the merged state (idempotence of the arms)
    store.upsert("mg", Seq(KV(3, "newer")).toDF(), "k")
    assert(store.get("mg", "k" -> 3).getAs[String]("v") == "newer")
    // the staging table is dropped after the merge
    assert(!store.tableExists("mg__stage"))
    // identifiers are validated before entering DDL
    intercept[IllegalArgumentException](
      store.upsert("bad; DROP TABLE mg", Seq(KV(1, "x")).toDF(), "k"))
    // a CDC-shaped batch with two rows for one key must not trip
    // MERGE's cardinality violation — it dedups per key first
    store.upsert("mg", Seq(KV(7, "first"), KV(7, "second")).toDF(), "k")
    assert(store.read("mg").filter(col("k") === 7L).count() == 1)
    // schema WIDENING routes to the swap fallback instead of a broken
    // MERGE referencing columns the live table lacks
    store.upsert("mg",
      Seq((2L, "keep2", "extra")).toDF("k", "v", "w"), "k")
    val widened = store.read("mg")
    assert(widened.columns.map(_.toLowerCase).toSet == Set("k", "v", "w"))
    assert(widened.filter(col("k") === 2L).head().getAs[String]("v") == "keep2")
    // the very first batch into a fresh table holds the same
    // one-row-per-key contract as every later one
    store.upsert("fresh", Seq(KV(5, "a"), KV(5, "b")).toDF(), "k")
    assert(store.read("fresh").count() == 1)
  }

  test("jdbc store: a narrowing batch preserves untouched columns on both paths") {
    // MERGE's UPDATE arm only sets the columns the source carries; the
    // swap fallback must match, not null-out the rest
    def narrowing(useMergePath: Boolean): (String, String) = {
      val db = tmpDir() + "/derby"
      val store = new JdbcResultStore(spark, s"jdbc:derby:$db;create=true",
        connProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"),
        writeOptions = Map(
          "createTableColumnTypes" -> "v VARCHAR(64), w VARCHAR(64)"),
        useMerge = Some(useMergePath))
      store.insert("n",
        Seq((1L, "v1", "w1"), (2L, "v2", "w2")).toDF("k", "v", "w"))
      store.upsert("n", Seq((1L, "V1NEW")).toDF("k", "v"), "k")
      val r = store.read("n").filter(col("k") === 1L).head()
      (r.getAs[String]("v"), r.getAs[String]("w"))
    }
    assert(narrowing(useMergePath = true) == ("V1NEW", "w1"))
    assert(narrowing(useMergePath = false) == ("V1NEW", "w1"))
  }

  test("jdbc store: upsert merges by key; delete removes by predicate") {
    // force the swap fallback so the non-MERGE dialect path stays covered
    val db = tmpDir() + "/derby"
    val store = new JdbcResultStore(spark, s"jdbc:derby:$db;create=true",
      connProps = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"),
      writeOptions = Map("createTableColumnTypes" -> "v VARCHAR(64)"),
      useMerge = Some(false))
    store.insert("u", Seq(KV(1, "old"), KV(2, "keep")).toDF())
    store.upsert("u", Seq(KV(1, "new"), KV(3, "add")).toDF(), "k")
    val rows = store.read("u").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(rows == Seq((1L, "new"), (2L, "keep"), (3L, "add")))
    // the swap fallback holds the same one-row-per-key contract as the
    // MERGE path for a duplicate-keyed CDC batch
    store.upsert("u", Seq(KV(5, "a"), KV(5, "b")).toDF(), "k")
    assert(store.read("u").filter(col("k") === 5L).count() == 1)
    store.delete("u", "v__contains" -> "e")   // new, keep deleted
    assert(store.read("u").collect().map(_.getAs[Long]("k")).toSet ==
      Set(3L, 5L))
    assert(store.get("u", "k" -> 3).getAs[String]("v") == "add")
  }

  test("jdbc store: partitioned read shards the table") {
    val store = derbyStore()
    store.insert("p", (1L to 100L).map(i => KV(i, s"v$$i")).toDF())
    val df = store.readPartitioned("p", "k", 1, 100, 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
  }

  private def partFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("compact bin-packs small files, content is invariant") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    (0 until 3).foreach { i =>
      store.insert("t",
        (1L to 40L).map(k => KV(i * 100 + k, s"v$i-$k")).toDF()
          .repartition(4))
    }
    val before = store.read("t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    val (nBefore, nAfter) = store.compact("t", targetBytes = 256L << 20)
    assert(nBefore == 12 && nAfter == 1,
      s"expected 12 -> 1 files, got $nBefore -> $nAfter")
    val after = store.read("t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(after == before)
  }

  test("compact hard-links files already at target size") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    // one genuinely larger file (distinct values defeat dictionary
    // compression), then four tiny appends
    store.insert("t", (1L to 5000L).map(k =>
      KV(k, "%07d".format(k) * 8)).toDF().coalesce(1))
    (0 until 4).foreach { i =>
      store.insert("t", Seq(KV(100000L + i, "tiny")).toDF().coalesce(1))
    }
    val cur = store.versions("t").head
    val bigBefore = partFiles(new java.io.File(s"$root/t/$cur"))
      .filter(_.length() >= 20000)
    assert(bigBefore.length == 1, "fixture needs exactly one big file")
    val (nBefore, nAfter) = store.compact("t", targetBytes = 20000L)
    assert(nBefore == 5 && nAfter == 2)
    val newCur = store.versions("t").head
    val twin = partFiles(new java.io.File(s"$root/t/$newCur"))
      .find(f => java.nio.file.Files.isSameFile(
        f.toPath, bigBefore.head.toPath))
    assert(twin.isDefined, "large file must carry forward as a hard link")
    assert(store.count("t") == 5004)
  }

  test("compact is a no-op on an already-compact table") {
    val store = new ResultStore(spark, tmpDir())
    store.insert("t", Seq(KV(1, "a"), KV(2, "b")).toDF().coalesce(1))
    val vs = store.versions("t")
    val (b, a) = store.compact("t")
    assert(b == 1 && a == 1)
    assert(store.versions("t") == vs, "no new generation for a no-op")
  }

  test("overwriteIf: losers refused, winner intact, retry with fresh token") {
    val root = tmpDir()
    val a = new ResultStore(spark, root)
    val b = new ResultStore(spark, root)
    // creation race: None token — first writer wins, second refused
    val v0 = a.overwriteIf("t", Seq(KV(1, "a")).toDF(), None)
    intercept[java.util.ConcurrentModificationException](
      b.overwriteIf("t", Seq(KV(9, "x")).toDF(), None))
    assert(a.committedVersion("t").contains(v0))
    // a reads its token, b commits in between → a's CAS must refuse
    val tokenA = a.committedVersion("t")
    b.overwrite("t", Seq(KV(2, "b")).toDF())
    intercept[java.util.ConcurrentModificationException](
      a.overwriteIf("t", Seq(KV(3, "lost-update")).toDF(), tokenA))
    // the winner's data is untouched by the refused commit
    assert(a.read("t").collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    // retry with a fresh token succeeds
    val v2 = a.overwriteIf("t", Seq(KV(3, "c")).toDF(),
      a.committedVersion("t"))
    assert(a.committedVersion("t").contains(v2))
    assert(a.read("t").collect().map(_.getAs[Long]("k")).toSeq == Seq(3L))
    // refused commits write into UNIQUE staging dirs (never a version
    // name a winner could own) and clean them up on refusal
    val stranded = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.startsWith(".staged-"))
    assert(stranded.isEmpty, stranded.mkString(", "))
  }

  test("compact crash before the pointer flip leaves the table intact") {
    val root = tmpDir()
    val healthy = new ResultStore(spark, root)
    (0 until 3).foreach(i =>
      healthy.insert("t", Seq(KV(i.toLong, s"v$i")).toDF().coalesce(1)))
    val crashy = new ResultStore(spark, root) {
      override protected def beforeSwapHook(): Unit =
        throw new RuntimeException("crash before swap")
    }
    intercept[RuntimeException](crashy.compact("t", targetBytes = 1L << 20))
    // previously committed generation still current and fully readable
    val clean = new ResultStore(spark, root)
    assert(clean.read("t").collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      Seq(0L, 1L, 2L))
    // retry on a healthy store succeeds and compacts
    val (b, a) = clean.compact("t", targetBytes = 1L << 20)
    assert(b == 3 && a == 1)
    assert(clean.count("t") == 3)
  }

  test("compact refuses when a commit lands mid-compaction (no lost update)") {
    val root = tmpDir()
    val healthy = new ResultStore(spark, root)
    (0 until 3).foreach(i =>
      healthy.insert("t", Seq(KV(i.toLong, s"v$i")).toDF().coalesce(1)))
    // inject a racing committer in the window between compact's rewrite
    // and its pointer flip (beforeSwapHook fires exactly there)
    val racer = new ResultStore(spark, root)
    val racing = new ResultStore(spark, root) {
      override protected def beforeSwapHook(): Unit =
        racer.insert("t", Seq(KV(99L, "raced-in")).toDF().coalesce(1))
    }
    intercept[java.util.ConcurrentModificationException](
      racing.compact("t", targetBytes = 1L << 20))
    // the racer's committed row SURVIVES — the stale compaction neither
    // published nor gc'd it
    val clean = new ResultStore(spark, root)
    assert(clean.read("t").collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      Seq(0L, 1L, 2L, 99L))
    // no stranded staging directories
    val stranded = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.startsWith(".staged-"))
    assert(stranded.isEmpty, stranded.mkString(", "))
    // retry from the new generation succeeds
    val (b2, a2) = clean.compact("t", targetBytes = 1L << 20)
    assert(b2 == 4 && a2 == 1)
    assert(clean.count("t") == 4)
  }

  test("commit metadata rides the atomic flip and survives compaction") {
    val store = new ResultStore(spark, tmpDir())
    store.overwriteWithMeta("t", Seq(KV(1, "a")).toDF(),
      Map("batch_id" -> "7", "note" -> "line1\nline2 \"quoted\""))
    assert(store.committedMeta("t") ==
      Map("batch_id" -> "7", "note" -> "line1\nline2 \"quoted\""))
    // a plain commit has no meta
    store.overwrite("u", Seq(KV(2, "b")).toDF())
    assert(store.committedMeta("u").isEmpty)
    // meta carries forward through compaction (re-grouping files must
    // not disarm a streaming sink's replay guard)
    (0 until 3).foreach(i =>
      store.insert("t", Seq(KV(10L + i, s"v$i")).toDF().coalesce(1)))
    store.overwriteWithMeta("t", store.read("t"), Map("batch_id" -> "9"))
    store.compact("t", targetBytes = 1L << 20)
    assert(store.committedMeta("t") == Map("batch_id" -> "9"))
  }

  test("applyBatchOnce: replayed micro-batch ids are skipped exactly-once") {
    import graft.operators.Materialized
    val store = new ResultStore(spark, tmpDir())
    def merge(v: Long): org.apache.spark.sql.DataFrame =
      if (!store.hasSchema("mv")) Seq(("k", v)).toDF("k", "s")
      else store.read("mv").unionByName(Seq(("k", v)).toDF("k", "s"))
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("s").as("s"))
    def total: Long = store.read("mv")
      .agg(org.apache.spark.sql.functions.sum("s")).head().getLong(0)
    assert(Materialized.applyBatchOnce(store, "mv", "s1", 0L)(merge(10)))
    assert(total == 10)
    // crash-replay of batch 0: must NOT double-apply
    assert(!Materialized.applyBatchOnce(store, "mv", "s1", 0L)(merge(10)))
    assert(total == 10)
    // next batch applies; replaying IT is also absorbed
    assert(Materialized.applyBatchOnce(store, "mv", "s1", 1L)(merge(5)))
    assert(!Materialized.applyBatchOnce(store, "mv", "s1", 1L)(merge(5)))
    assert(total == 15)
    // a NEW stream id (rebuild from a fresh checkpoint) applies from
    // batch 0 — a stale marker from the old stream must not silently
    // swallow the new run's leading batches
    assert(Materialized.applyBatchOnce(store, "mv", "s2", 0L)(merge(100)))
    assert(total == 115)
    // the guard now belongs to s2; s1's ids no longer dedupe
    assert(store.committedMeta("mv").get("stream_id").contains("s2"))
  }

  test("applyBatchOnce: a zombie writer racing the same batch is refused at the flip") {
    import graft.operators.Materialized
    val dir = tmpDir()
    val healthy = new ResultStore(spark, dir)
    var raced = false
    // the zombie passes the lock-free pre-check and stages its write;
    // between staging and lock acquisition (beforeSwapHook) the healthy
    // driver lands the SAME (stream, batch) — the zombie's under-lock
    // guard re-check must refuse the flip, never double-apply
    val zombie = new ResultStore(spark, dir) {
      override protected def beforeSwapHook(): Unit =
        if (!raced) {
          raced = true
          assert(Materialized.applyBatchOnce(healthy, "mv", "s1", 0L)(
            Seq(("k", 10L)).toDF("k", "s")))
        }
    }
    val applied = Materialized.applyBatchOnce(zombie, "mv", "s1", 0L)(
      Seq(("k", 10L)).toDF("k", "s"))
    assert(!applied)
    assert(healthy.read("mv").count() == 1)
    assert(healthy.committedMeta("mv") ==
      Map("stream_id" -> "s1", "batch_id" -> "0"))
    // and the refused staging directory did not leak
    assert(!new java.io.File(dir, "mv").listFiles()
      .exists(_.getName.startsWith(".staged-")))
  }

  test("in-memory KV codec round-trips every supported field type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType),
      StructField("b", BooleanType),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(18, 4)),
      StructField("ts", TimestampType),
      StructField("dt", DateType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val ts = java.sql.Timestamp.valueOf("2026-08-14 12:34:56.789123")
    val row = Row(7L, "héllo ✓", true, 2.5,
      new java.math.BigDecimal("1234.5678"), ts,
      java.sql.Date.valueOf("2026-08-14"), Array[Byte](1, 2, -3),
      Seq(1L, null, 3L), Map("a" -> 1.5, "b" -> 2.5), Row(42, null))
    val nulls = Row(8L, null, null, null, null, null, null, null,
      null, null, null)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(row, nulls), st)
    val store = new InMemoryKvStore(spark)
    store.insert("codec", df, "k")
    val got = store.read("codec").orderBy("k").collect()
    assert(got.length == 2)
    val r = got(0)
    assert(r.getAs[String]("s") == "héllo ✓" && r.getAs[Boolean]("b"))
    assert(r.getAs[java.math.BigDecimal]("dec")
      .compareTo(new java.math.BigDecimal("1234.5678")) == 0)
    // micro truncation only (Spark's own timestamp precision)
    assert(r.getAs[java.sql.Timestamp]("ts") == ts)
    assert(r.getAs[java.sql.Date]("dt") == java.sql.Date.valueOf("2026-08-14"))
    assert(r.getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, -3))
    assert(r.getAs[scala.collection.Seq[Any]]("arr").toSeq ==
      Seq(1L, null, 3L))
    assert(r.getAs[scala.collection.Map[String, Double]]("m").toMap ==
      Map("a" -> 1.5, "b" -> 2.5))
    assert(r.getAs[Row]("nested") == Row(42, null))
    val n = got(1)
    assert((1 to 10).forall(n.isNullAt))
  }

  test("KV codec rejects legacy/foreign formats and corrupt length prefixes") {
    import org.apache.spark.sql.types._
    val client = new InMemoryHashClient
    val store = new InMemoryKvStore(spark, client = client)
    store.insert("hard", Seq((1L, "ok")).toDF("k", "s"), "k")
    val field = client.hkeys("hard").head
    val good = client.hget("hard", field).get

    def expectCorrupt(bytes: Array[Byte], clue: String): Unit = {
      client.hset("hard", Seq(field -> bytes))
      val e = intercept[Exception] { store.read("hard").collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString).mkString(" | ")
      assert(msgs.contains("StreamCorruptedException"), s"$clue: $msgs")
    }

    // a legacy ObjectOutputStream record starts with 0xAC (not version 1):
    // explicit version error, not opaque EOF/garbage
    val oos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(oos).writeObject("legacy")
    expectCorrupt(oos.toByteArray, "legacy format")

    // the record tail is the length-prefixed string "ok":
    // [4-byte len][2-byte payload] — the prefix sits 6 bytes from the end
    val lenOffset = good.length - 6

    // negative string length: must throw BEFORE allocating
    val neg = good.clone()
    java.nio.ByteBuffer.wrap(neg).putInt(lenOffset, -1)
    expectCorrupt(neg, "negative length")

    // huge length (a ~2GB allocation request): bounded by remaining bytes
    val big = good.clone()
    java.nio.ByteBuffer.wrap(big).putInt(lenOffset, Int.MaxValue - 2)
    expectCorrupt(big, "oversized length")

    // restore and confirm the store still reads
    client.hset("hard", Seq(field -> good))
    assert(store.read("hard").collect().map(_.getAs[String]("s")).toSeq ==
      Seq("ok"))
  }

  test("commit meta behaves like table properties: every mutation carries it") {
    val store = new ResultStore(spark, tmpDir())
    store.overwriteWithMeta("t", Seq(KV(1, "a")).toDF(),
      Map("stream_id" -> "s", "batch_id" -> "3"))
    // a maintenance upsert/merge/delete/append between stream batches
    // must NOT disarm the replay guard
    store.upsert("t", Seq(KV(2, "b")).toDF(), "k")
    assert(store.committedMeta("t").get("batch_id").contains("3"))
    store.insert("t", Seq(KV(9, "z")).toDF())
    assert(store.committedMeta("t").get("batch_id").contains("3"))
    store.delete("t", "v__eq" -> "z")
    assert(store.committedMeta("t").get("batch_id").contains("3"))
    store.merge("t", Seq(KV(2, "B")).toDF(), "k", deleteWhen = None)
    assert(store.committedMeta("t") ==
      Map("stream_id" -> "s", "batch_id" -> "3"))
    // explicit meta replaces wholesale
    store.overwriteWithMeta("t", Seq(KV(1, "x")).toDF(),
      Map("batch_id" -> "4"))
    assert(store.committedMeta("t") == Map("batch_id" -> "4"))
  }

  test("overwriteIf cleans staging when the data write itself fails") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    store.overwriteIf("t", Seq(KV(1, "a")).toDF(), None)
    val poison = Seq(KV(2, "b")).toDF()
      .withColumn("boom",
        org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.lit("poisoned write")))
    intercept[Exception](
      store.overwriteIf("t", poison, store.committedVersion("t")))
    val stranded = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.startsWith(".staged-"))
    assert(stranded.isEmpty,
      s"failed write leaked staging: ${stranded.mkString(", ")}")
    // committed generation untouched
    assert(store.read("t").collect().map(_.getAs[Long]("k")).toSeq == Seq(1L))
  }

  // ---------------------------------------------------------------
  // transact — the lock-free marker-CAS multi-writer commit path

  private def tableState(store: ResultStore, schema: String): Map[Long, String] =
    store.read(schema).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  test("transact interleavings: A-then-B, B-then-A, and two live threads " +
    "all converge to the serial result") {
    val base = Seq(KV(1, "z"), KV(2, "z"), KV(3, "z"), KV(4, "z"))
    val aSeq = Seq(Seq(KV(2, "a1")), Seq(KV(4, "a2")))
    val bSeq = Seq(Seq(KV(1, "b1")), Seq(KV(3, "b2")))
    val serial = Map(1L -> "b1", 2L -> "a1", 3L -> "b2", 4L -> "a2")
    def fresh(): (ResultStore, String) = {
      val root = tmpDir()
      val s = new ResultStore(spark, root)
      s.upsertContended("t", base.toDF(), "k")
      (s, root)
    }
    // interleaving 1: A1 B1 A2 B2
    val (s1, _) = fresh()
    Seq(aSeq(0), bSeq(0), aSeq(1), bSeq(1)).foreach(rows =>
      s1.upsertContended("t", rows.toDF(), "k"))
    assert(tableState(s1, "t") == serial)
    // interleaving 2: B1 A1 B2 A2
    val (s2, _) = fresh()
    Seq(bSeq(0), aSeq(0), bSeq(1), aSeq(1)).foreach(rows =>
      s2.upsertContended("t", rows.toDF(), "k"))
    assert(tableState(s2, "t") == serial)
    // live contention: two threads race the same store root — every
    // commit goes through the marker CAS, losses rebase and retry
    val (s3, root3) = fresh()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(aSeq, bSeq).map { seq =>
      new Thread(() =>
        try seq.foreach(rows => s3.upsertContended("t", rows.toDF(), "k"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(tableState(s3, "t") == serial)
    // no stranded markers or staging after the dust settles
    val leftovers = new java.io.File(s"$root3/t").listFiles()
      .filter(f => f.getName.startsWith("_TXN-") ||
        f.getName.startsWith(".staged-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("transact claim loss REBASES: the second derivation sees the " +
    "winner's generation, no lost update") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    val racer = new ResultStore(spark, root)
    store.upsertContended("t", Seq(KV(1, "base")).toDF(), "k")
    var calls = 0
    var sawRacerRow = false
    store.transact("t") { cur =>
      calls += 1
      // a foreign commit lands between our snapshot and our claim: the
      // claim's post-create pointer re-check must refuse the slot
      if (calls == 1) racer.upsert("t", Seq(KV(2, "racer")).toDF(), "k")
      val snapshot = cur.get
      if (calls == 2)
        sawRacerRow = snapshot.collect().exists(_.getAs[Long]("k") == 2L)
      snapshot.unionByName(Seq(KV(3, "mine")).toDF())
    }
    assert(calls == 2, "first attempt must lose and re-derive")
    assert(sawRacerRow, "rebase must run against the winner's generation")
    assert(tableState(store, "t") ==
      Map(1L -> "base", 2L -> "racer", 3L -> "mine"))
  }

  test("transact crash between marker claim and pointer flip: table " +
    "intact, live lease blocks the slot, expiry sweeps and recovers") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    store.upsertContended("t", Seq(KV(1, "a")).toDF(), "k")
    val crashy = new ResultStore(spark, root) {
      override protected def beforeSwapHook(): Unit =
        throw new RuntimeException("crash between claim and flip")
    }
    intercept[RuntimeException](
      crashy.upsertContended("t", Seq(KV(2, "b")).toDF(), "k"))
    // the committed table is untouched and the dead claim is stranded
    assert(tableState(store, "t") == Map(1L -> "a"))
    def markers() = new java.io.File(s"$root/t").list()
      .filter(_.startsWith("_TXN-v")).toSeq
    assert(markers() == Seq("_TXN-v00000002"))
    // within the lease the slot is honored (the claimant might be alive
    // mid-commit): a competing writer exhausts its attempts
    intercept[java.util.ConcurrentModificationException](
      store.upsertContended("t", Seq(KV(3, "c")).toDF(), "k",
        maxAttempts = 2))
    assert(tableState(store, "t") == Map(1L -> "a"))
    // lease expired: the sweep clears marker AND strand dir, recovery
    // commits normally
    spark.conf.set("spark.graft.store.txnLeaseMs", "0")
    try {
      store.upsertContended("t", Seq(KV(2, "b2")).toDF(), "k")
      assert(tableState(store, "t") == Map(1L -> "a", 2L -> "b2"))
      assert(markers().isEmpty, "recovered commit must clear its marker")
    } finally spark.conf.unset("spark.graft.store.txnLeaseMs")
    val stranded = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.startsWith(".staged-"))
    assert(stranded.isEmpty, stranded.mkString(", "))
  }

  test("transact fencing: a lease-expired-but-ALIVE claimant is fenced " +
    "at the token verify — loses, rebases, no lost update, no double " +
    "commit") {
    val root = tmpDir()
    val plain = new ResultStore(spark, root)
    plain.upsertContended("t", Seq(KV(1, "base")).toDF(), "k")
    val claimed = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    @volatile var attempts = 0
    // writer A: pauses after its claim + staged move, RIGHT BEFORE the
    // fencing verify (beforeSwapHook sits exactly there in transact) —
    // the paused-then-resumed zombie the lease alone cannot fence
    val pausing = new ResultStore(spark, root) {
      override protected def beforeSwapHook(): Unit =
        if (attempts == 1) {
          claimed.countDown()
          resume.await(120, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
    }
    spark.conf.set("spark.graft.store.txnLeaseMs", "500")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val a = new Thread(() =>
        try pausing.transact("t") { cur =>
          attempts += 1
          cur.get.unionByName(Seq(KV(2, "a")).toDF())
        } catch { case t: Throwable => errs.add(t) })
      a.start()
      assert(claimed.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached its claim")
      Thread.sleep(600) // A's lease expires while it is paused, alive
      // writer B sweeps A's expired marker, claims the SAME slot, and
      // commits — the scenario where a lease-only protocol lets the
      // resumed A publish over B
      plain.upsertContended("t", Seq(KV(3, "b")).toDF(), "k")
      resume.countDown() // A resumes: token verify fails -> rebase
      a.join(120000)
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      assert(attempts == 2,
        s"A must be fenced on attempt 1 and rebase, got $attempts")
      // B's update SURVIVED (no lost update) and A's landed on top of
      // B's generation (the rebase saw row 3)
      assert(tableState(plain, "t") ==
        Map(1L -> "base", 2L -> "a", 3L -> "b"))
      // nothing stranded: markers released, staging cleaned
      val leftovers = new java.io.File(s"$root/t").listFiles()
        .filter(f => f.getName.startsWith("_TXN-") ||
          f.getName.startsWith(".staged-"))
      assert(leftovers.isEmpty, leftovers.mkString(", "))
    } finally spark.conf.unset("spark.graft.store.txnLeaseMs")
  }

  test("transact zombie NEVER deletes the new owner's generation: a " +
    "claimant resuming after its slot was swept and COMMITTED converts " +
    "to a lost race, winner's data intact") {
    val root = tmpDir()
    val plain = new ResultStore(spark, root)
    plain.upsertContended("t", Seq(KV(1, "base")).toDF(), "k")
    val claimed = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val paused = new java.util.concurrent.atomic.AtomicBoolean(false)
    // writer A pauses INSIDE its successful claim, BEFORE any slot-dir
    // mutation — the window where the old code's rmTree(target) would
    // have destroyed whatever the sweeping winner later put there
    val pausing = new ResultStore(spark, root) {
      override protected def commitPrimitive: CommitPrimitive =
        new CommitPrimitive {
          def tryClaim(d: java.io.File, v: String, b: Option[String],
              cur: () => Option[String], lease: Long): Option[String] = {
            val r = FilesystemCommitPrimitive.tryClaim(d, v, b, cur, lease)
            if (r.isDefined && paused.compareAndSet(false, true)) {
              claimed.countDown()
              resume.await(120, java.util.concurrent.TimeUnit.SECONDS)
              ()
            }
            r
          }
          def verifyClaim(d: java.io.File, v: String, t: String) =
            FilesystemCommitPrimitive.verifyClaim(d, v, t)
          def release(d: java.io.File, v: String, t: String) =
            FilesystemCommitPrimitive.release(d, v, t)
        }
    }
    spark.conf.set("spark.graft.store.txnLeaseMs", "500")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val a = new Thread(() =>
        try pausing.transact("t") { cur =>
          cur.get.unionByName(Seq(KV(2, "a")).toDF())
        } catch { case t: Throwable => errs.add(t) })
      a.start()
      assert(claimed.await(120, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(600) // A's lease expires while it holds the claim
      // B sweeps A's marker, claims the SAME slot, commits, and FLIPS:
      // the slot's directory is now the live committed generation
      plain.upsertContended("t", Seq(KV(3, "b")).toDF(), "k")
      val bGen = plain.committedVersion("t").get
      resume.countDown()
      a.join(120000)
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      // B's generation was never touched: still committed OR retained,
      // its rows intact, and A's update landed on top via rebase
      assert(tableState(plain, "t") ==
        Map(1L -> "base", 2L -> "a", 3L -> "b"))
      assert(plain.readVersion("t", bGen).count() == 2L,
        "winner's generation directory must survive the zombie")
    } finally spark.conf.unset("spark.graft.store.txnLeaseMs")
  }

  test("deep retention horizon: pinned generation reads survive commits " +
    "inside the horizon; age floor keeps young generations beyond the " +
    "count; past both horizons GC reclaims") {
    // COUNT horizon: retain 4 — a reader pinned to generation 1 must
    // scan intact files while 3 more commits land on top of it
    val store = new ResultStore(spark, tmpDir())
    spark.conf.set("spark.graft.store.retainVersions", "4")
    try {
      store.overwrite("t", Seq(KV(1, "g1")).toDF())
      val g1 = store.committedVersion("t").get
      val pinned = store.readVersion("t", g1) // lazy handle, pinned scan
      for (i <- 2 to 4) store.overwrite("t", Seq(KV(1, s"g$i")).toDF())
      assert(pinned.select("v").as[String].collect().toSeq == Seq("g1"),
        "pinned read inside the horizon must see its generation intact")
      assert(store.versions("t").length == 4)
      // every retained generation serves VERSION AS OF + the change feed
      val walked = store.versions("t").reverse.map(v =>
        store.readVersion("t", v).select("v").as[String].head())
      assert(walked == Seq("g1", "g2", "g3", "g4"))
      assert(store.diffVersions("t", g1, store.committedVersion("t").get)
        .count() == 2L) // delete g1 row + insert g4 row
      // one more commit pushes g1 past the count horizon: reclaimed
      store.overwrite("t", Seq(KV(1, "g5")).toDF())
      assert(!store.versions("t").contains(g1))
      assert(store.versions("t").length == 4)
    } finally spark.conf.unset("spark.graft.store.retainVersions")
    // AGE floor: count horizon stays at the default 2, but a 1-hour
    // minimum age keeps every young generation through a rapid burst
    // of commits — the churn case where count alone would reclaim a
    // seconds-old generation under a live reader
    val s2 = new ResultStore(spark, tmpDir())
    spark.conf.set("spark.graft.store.retainMinAgeMs", "3600000")
    try {
      for (i <- 1 to 5) s2.overwrite("t", Seq(KV(1, s"g$i")).toDF())
      assert(s2.versions("t").length == 5,
        s"age floor must retain the whole young burst: ${s2.versions("t")}")
      assert(s2.versions("t").reverse.map(v =>
        s2.readVersion("t", v).select("v").as[String].head()) ==
        Seq("g1", "g2", "g3", "g4", "g5"))
    } finally spark.conf.unset("spark.graft.store.retainMinAgeMs")
    // age floor EXPIRED (epsilon age): behavior degrades to the count
    // horizon exactly — no unbounded disk growth once readers age out
    val s3 = new ResultStore(spark, tmpDir())
    spark.conf.set("spark.graft.store.retainMinAgeMs", "1")
    try {
      for (i <- 1 to 5) {
        s3.overwrite("t", Seq(KV(1, s"g$i")).toDF())
        Thread.sleep(5)
      }
      assert(s3.versions("t").length == 2, s3.versions("t").toString)
    } finally spark.conf.unset("spark.graft.store.retainMinAgeMs")
  }

  test("diffVersions: multiset change feed — unchanged rows cancel, " +
    "updates are delete+insert pairs, duplicates diff by count") {
    val store = new ResultStore(spark, tmpDir())
    store.upsert("t", Seq(KV(1, "a"), KV(2, "b"), KV(3, "c"),
      KV(3, "c")).toDF(), "k") // k=3 twice: multiset content
    val v1 = store.committedVersion("t").get
    // update k=2, delete one of the k=3 duplicates, insert k=4
    store.overwrite("t", Seq(KV(1, "a"), KV(2, "B"), KV(3, "c"),
      KV(4, "d")).toDF())
    val v2 = store.committedVersion("t").get
    val got = store.diffVersions("t", v1, v2)
      .select("op", "k", "v").as[(String, Long, String)]
      .collect().toSet
    assert(got == Set(
      ("delete", 2L, "b"), ("delete", 3L, "c"), // ONE of the dup pair
      ("insert", 2L, "B"), ("insert", 4L, "d")), got.toString)
    // identical generations diff to empty
    assert(store.diffVersions("t", v2, v2).isEmpty)
  }

  test("restoreVersion: forward-moving restore — new generation, " +
      "history intact, meta carried, undoable") {
    val store = new ResultStore(spark, tmpDir())
    spark.conf.set("spark.graft.store.retainVersions", "5")
    try {
      store.overwriteWithMeta("t", Seq(KV(1, "a"), KV(2, "b")).toDF(),
        Map("gen" -> "1"))
      store.overwriteWithMeta("t", Seq(KV(1, "A"), KV(3, "c")).toDF(),
        Map("gen" -> "2"))
      store.overwriteWithMeta("t", Seq(KV(9, "z")).toDF(),
        Map("gen" -> "3"))
      val gens = store.versions("t").sorted
      assert(gens.size == 3)
      val v4 = store.restoreVersion("t", gens.head)
      // a NEW generation, not a pointer flip backwards
      assert(v4 > gens.last && store.committedVersion("t").contains(v4))
      assert(store.versions("t").size == 4)
      // current state == generation 1's state, meta carried with it
      assert(store.read("t").as[KV].collect().sortBy(_.k).toSeq ==
        Seq(KV(1, "a"), KV(2, "b")))
      assert(store.committedMeta("t").get("gen").contains("1"))
      // the undone generation 3 stays readable behind it
      assert(store.readVersion("t", gens.last).as[KV].collect().toSeq ==
        Seq(KV(9, "z")))
      // restoring the pre-restore current is the undo
      store.restoreVersion("t", gens.last)
      assert(store.read("t").as[KV].collect().toSeq == Seq(KV(9, "z")))
      assert(store.committedMeta("t").get("gen").contains("3"))
      // a missing version refuses
      intercept[IllegalArgumentException](
        store.restoreVersion("t", "v99999999"))
    } finally spark.conf.unset("spark.graft.store.retainVersions")
  }

  test("erasure workflow: pruned DELETE forgets the keys, the registry " +
      "absorbs the negative delta without a rebuild") {
    val store = new ResultStore(spark, tmpDir())
    val raw = Seq((1L, 10L, "a", 2.0), (2L, 10L, "a", 3.0),
      (3L, 20L, "a", 5.0), (4L, 20L, "b", 7.0), (5L, 30L, "b", 11.0))
      .toDF("event_id", "user_id", "typ", "v")
    store.prunedMerge("raw", raw, "event_id", Combine.Replace(),
      initialFiles = 2)
    store.prunedMerge("stats",
      raw.groupBy("typ").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,4)")).as("total")), "typ",
      Combine.Replace())
    // forget user 20 (keys 3 and 4, touching both types)
    val erased = store.read("raw").filter(col("user_id") === 20L)
    val delta = erased.groupBy("typ").agg(count(lit(1)).as("__dn"),
      sum(col("v").cast("decimal(18,4)")).as("__dt"))
    store.prunedMerge("stats",
      store.read("stats").join(delta, Seq("typ"))
        .select(col("typ"), (col("n") - col("__dn")).as("n"),
          (col("total") - col("__dt")).as("total")), "typ",
      Combine.Replace())
    store.prunedMerge("raw", erased.select("event_id"), "event_id",
      Combine.Replace(deleteWhen = Some(lit(true))))
    assert(store.read("raw").select("event_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 5L))
    val stats = store.read("stats").select("typ", "n", "total")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue()))).toMap
    assert(stats("a") == ((2L, 5.0)) && stats("b") == ((1L, 11.0)),
      stats.toString)
  }

  test("restoreVersion crash before the flip leaves the table intact") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    store.overwrite("t", Seq(KV(1, "a")).toDF())
    store.overwrite("t", Seq(KV(2, "b")).toDF())
    val old = store.versions("t").sorted.head
    val crashy = new ResultStore(spark, root) {
      override protected def beforeSwapHook(): Unit =
        throw new RuntimeException("crash before swap")
    }
    intercept[RuntimeException](crashy.restoreVersion("t", old))
    // still on generation 2, fully readable; a healthy retry succeeds
    val clean = new ResultStore(spark, root)
    assert(clean.read("t").as[KV].collect().toSeq == Seq(KV(2, "b")))
    clean.restoreVersion("t", old)
    assert(clean.read("t").as[KV].collect().toSeq == Seq(KV(1, "a")))
  }

  // ---------------------------------------------------------------
  // ConditionalPutCommitPrimitive — the true-conditional-put impl:
  // the same claim-pause-sweep-resume races as the filesystem specs
  // above, proving (a) the trait contract is sufficient WITHOUT a
  // lease, and (b) the verify→flip window the filesystem impl
  // documents is structurally closed here.

  private def withConditionalPut[T](body: => T): T = {
    spark.conf.set("spark.graft.store.commitPrimitive", "conditional-put")
    try body
    finally spark.conf.unset("spark.graft.store.commitPrimitive")
  }

  test("conditional-put: a live claimant paused past ANY lease is " +
    "never swept — it commits on its first attempt (verify→flip " +
    "window closed), the contender is refused while the claim lives") {
    withConditionalPut {
      val root = tmpDir()
      val plain = new ResultStore(spark, root)
      plain.upsertContended("t", Seq(KV(1, "base")).toDF(), "k")
      val claimedL = new java.util.concurrent.CountDownLatch(1)
      val resume = new java.util.concurrent.CountDownLatch(1)
      @volatile var attempts = 0
      // A pauses right before the fencing verify (beforeSwapHook sits
      // exactly there in transact) — the same interleaving that FENCES
      // a lease-expired claimant on the filesystem impl
      val pausing = new ResultStore(spark, root) {
        override protected def beforeSwapHook(): Unit =
          if (attempts == 1) {
            claimedL.countDown()
            resume.await(120, java.util.concurrent.TimeUnit.SECONDS)
            ()
          }
      }
      // a 1 ms "lease": the conditional-put impl must IGNORE it —
      // liveness is structural, not time-based
      spark.conf.set("spark.graft.store.txnLeaseMs", "1")
      try {
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val a = new Thread(() =>
          try pausing.transact("t") { cur =>
            attempts += 1
            cur.get.unionByName(Seq(KV(2, "a")).toDF())
          } catch { case t: Throwable => errs.add(t) })
        a.start()
        assert(claimedL.await(120, java.util.concurrent.TimeUnit.SECONDS),
          "writer A never reached its claim")
        Thread.sleep(50) // any time-based lease is long expired now
        // B cannot take A's live claim: bounded attempts are refused
        // (on the filesystem impl this exact interleaving has B WIN
        // and A fenced — the documented contract difference)
        intercept[java.util.ConcurrentModificationException](
          plain.upsertContended("t", Seq(KV(3, "b")).toDF(), "k",
            maxAttempts = 2))
        resume.countDown()
        a.join(120000)
        assert(errs.isEmpty, errs.toArray.mkString("; "))
        assert(attempts == 1,
          s"nothing can fence a live conditional-put claimant; A must " +
            s"commit on attempt 1, took $attempts")
        assert(tableState(plain, "t") == Map(1L -> "base", 2L -> "a"))
        // with A's flip past the slot, B's retry claims cleanly
        plain.upsertContended("t", Seq(KV(3, "b")).toDF(), "k")
        assert(tableState(plain, "t") ==
          Map(1L -> "base", 2L -> "a", 3L -> "b"))
      } finally spark.conf.unset("spark.graft.store.txnLeaseMs")
    }
  }

  test("conditional-put: a CRASHED claim blocks its slot until the " +
    "lifecycle expire (no silent sweep), then recovery commits; the " +
    "strand never becomes visible") {
    withConditionalPut {
      val root = tmpDir()
      val store = new ResultStore(spark, root)
      store.upsertContended("t", Seq(KV(1, "a")).toDF(), "k")
      val crashy = new ResultStore(spark, root) {
        override protected def beforeSwapHook(): Unit =
          throw new RuntimeException("crash between claim and flip")
      }
      intercept[RuntimeException](
        crashy.upsertContended("t", Seq(KV(2, "b")).toDF(), "k"))
      assert(tableState(store, "t") == Map(1L -> "a"))
      // the dead claim holds the slot — a competitor's bounded
      // attempts surface loudly instead of silently diverging
      intercept[java.util.ConcurrentModificationException](
        store.upsertContended("t", Seq(KV(3, "c")).toDF(), "k",
          maxAttempts = 2))
      assert(tableState(store, "t") == Map(1L -> "a"))
      // lifecycle policy / operator action frees slot + strand dir
      ConditionalPutCommitPrimitive.expire(
        new java.io.File(s"$root/t"), "v00000002")
      store.upsertContended("t", Seq(KV(2, "b2")).toDF(), "k")
      assert(tableState(store, "t") == Map(1L -> "a", 2L -> "b2"))
      val stranded = new java.io.File(s"$root/t").listFiles()
        .filter(_.getName.startsWith(".staged-"))
      assert(stranded.isEmpty, stranded.mkString(", "))
    }
  }

  test("conditional-put: two live threads over one root converge to " +
    "the serial result, no stranded claims") {
    withConditionalPut {
      val root = tmpDir()
      val store = new ResultStore(spark, root)
      store.upsertContended("t",
        Seq(KV(1, "z"), KV(2, "z"), KV(3, "z"), KV(4, "z")).toDF(), "k")
      val aSeq = Seq(Seq(KV(2, "a1")), Seq(KV(4, "a2")))
      val bSeq = Seq(Seq(KV(1, "b1")), Seq(KV(3, "b2")))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(aSeq, bSeq).map { seq =>
        new Thread(() =>
          try seq.foreach(rows => store.upsertContended("t", rows.toDF(), "k"))
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      assert(tableState(store, "t") ==
        Map(1L -> "b1", 2L -> "a1", 3L -> "b2", 4L -> "a2"))
      val leftovers = new java.io.File(s"$root/t").listFiles()
        .filter(f => f.getName.startsWith("_TXN-") ||
          f.getName.startsWith(".staged-"))
      assert(leftovers.isEmpty, leftovers.mkString(", "))
    }
  }

  test("q40/q51 gate queries run green under BOTH commit primitives " +
    "with identical results") {
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q40_cas_commit", "q51_concurrent_writers")) {
      val fn = graft.SparkEntry.queries(name)
      val fsRows = fn(spark, sf).collect().map(_.toString).toSeq
      val cpRows = withConditionalPut {
        fn(spark, sf).collect().map(_.toString).toSeq
      }
      assert(fsRows == cpRows, s"$name diverged across commit primitives")
      assert(fsRows.nonEmpty, s"$name returned no rows")
    }
  }

  test("filesystem sweep: a strand directory that became the COMMITTED " +
    "generation between the pointer snapshot and the sweep is never " +
    "deleted (stale-snapshot rmTree hazard)") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    store.upsertContended("t", Seq(KV(1, "a")).toDF(), "k")
    val dir = new java.io.File(s"$root/t")
    // construct the hazard directly at the primitive: an expired
    // foreign marker on v00000002 whose generation ALREADY committed
    // (its _COMMITTED marker is stamped and the live pointer reaches
    // it) while the sweeping claimant still holds the OLD pointer
    // snapshot (base = v00000001). Before the r15 fix the sweep
    // decided "not committed" from that stale snapshot and rmTree'd
    // the winner's live generation.
    store.upsertContended("t", Seq(KV(2, "b")).toDF(), "k") // commits v2
    val marker = new java.io.File(dir, "_TXN-v00000002")
    java.nio.file.Files.write(marker.toPath, "zombie-token".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    assert(marker.setLastModified(1000L)) // ancient — lease long gone
    // sweep runs inside a claim whose cur0 SNAPSHOT (first pointer
    // read) is the stale base v1 — the flip to v2 landed between that
    // read and the sweep; later reads see the truth
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val token = FilesystemCommitPrimitive.tryClaim(
      dir, "v00000002", Some("v00000001"),
      () => if (reads.incrementAndGet() == 1) Some("v00000001")
            else Some("v00000002"),
      leaseMs = 1L)
    // the claim itself loses (post-create pointer re-check sees v2)
    assert(token.isEmpty)
    // but the committed generation SURVIVED the sweep
    assert(new java.io.File(dir, "v00000002").isDirectory,
      "sweep deleted the committed generation from a stale snapshot")
    assert(tableState(store, "t") == Map(1L -> "a", 2L -> "b"))
    assert(!marker.exists(), "the dead marker itself is swept")
  }

  test("transact move-refused exit keeps the claim: a markerless " +
    "strand at the next slot is reaped by THIS writer's own lease " +
    "sweep — self-heals inside one transact call, never a permanent " +
    "wedge") {
    val root = tmpDir()
    val store = new ResultStore(spark, root)
    store.upsertContended("t", Seq(KV(1, "a")).toDF(), "k")
    // a markerless UNCOMMITTED strand occupying the next slot — the
    // state external interference (or a release-on-move-refused bug)
    // would leave. It is invisible to the marker-iterating claim sweep
    // until a claimant parks its own marker on the slot: releasing
    // that marker on the move refusal would strip the slot of the only
    // thing the sweep can see, looping claim→refuse→release to
    // ConcurrentModificationException forever.
    val strand = new java.io.File(s"$root/t/v00000002")
    assert(strand.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(strand, "junk.txt").toPath, "not a commit")
    spark.conf.set("spark.graft.store.txnLeaseMs", "200")
    try {
      // early attempts claim the slot and are refused at the move;
      // HOLDING the marker across the refusals is what lets the
      // claim-phase sweep find an expired claim, reap marker AND
      // strand together, and commit — inside one retry budget
      store.upsertContended("t", Seq(KV(2, "b")).toDF(), "k")
      assert(tableState(store, "t") == Map(1L -> "a", 2L -> "b"))
      assert(!new java.io.File(strand, "junk.txt").exists(),
        "the strand contents must be reaped, not adopted into the " +
          "committed generation")
    } finally spark.conf.unset("spark.graft.store.txnLeaseMs")
  }
}
