package layerbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The benchmark's JVM side: one closed-loop client driving graft through
  * its public entry points, writing a raw run record (set-up time, one
  * entry per operation with its wall time and result hash, per-layer
  * counters and spans when traced) for `run.py` to turn into metrics.
  *
  * {{{
  * Main --workload curation_kernels|registry_ingest
  *      --seed N --passes N --trace 0|1 --cpus N
  *      --data DIR --out DIR [--queries a,b,c] [--preland N]
  * }}}
  */
object Main {
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final class Run(val spark: SparkSession, val opts: Map[String, String]) {
    val out: String = opts("out")
    val data: String = opts("data")
    val traced: Boolean = opts("trace") == "1"
    val tracer = new Tracer(spark, traced)
    val ops = mutable.Buffer[Map[String, Any]]()
    val passes = mutable.Buffer[Map[String, Any]]()
    val extra = mutable.LinkedHashMap[String, Any]()
    val verify = s"$out/verify"

    /** Timed passes of an untraced run. The count is fixed before the run
      * starts (from `--seconds` and a nominal pass time), never from how
      * fast passes go: later passes run warmer code, so stopping on a
      * clock would let a slow host change what is averaged. */
    val passCount: Int = opts("passes").toInt
    /** Traced runs alternate blocks of `passCount` untraced and traced
      * passes, so the tracing overhead is measured inside the run on the
      * same mix (a registry's compaction round lands in both); only
      * traced passes feed the per-layer counters. */
    def tracedPass(pass: Int): Boolean = traced && (pass / passCount) % 2 == 1
    /** Runs pass `pass` and records it with its clocks (`Clocks.lap`); a
      * traced pass waits for the listener bus after the clocks stop. */
    def timedPass(pass: Int, info: => Map[String, Any] = Map.empty)(f: => Unit): Unit = {
      val on = tracedPass(pass)
      if (on) tracer.install()
      try {
        val c = Clocks.now()
        f
        passes += Map("pass" -> pass, "traced" -> on) ++ c.lap() ++ info
      } finally if (on) { tracer.drain(); tracer.uninstall() }
    }
    /** Total timed passes: doubled when traced (half run untraced). */
    val totalPasses: Int = passCount * (if (traced) 2 else 1)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val out = opts("out")
    Files.createDirectories(Paths.get(out))

    // setup: process start to session up, tables registered and one
    // warm-up action done
    val spark = setUp(workload, opts)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(spark, opts)
    val t0 = System.nanoTime()
    workload match {
      case "curation_kernels" => queryList(run)
      case "registry_ingest" => RegistryIngest(run)
      case other => sys.error(s"unknown workload $other")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    if (run.traced) {
      Files.write(Paths.get(s"$out/spans.jsonl"),
        run.tracer.spans.map(json.writeValueAsString).toSeq.asJava)
    }
    val counters = run.tracer.counters.asScala.map { case (k, m) =>
      k -> m.asScala.toMap }.toMap
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cpus" -> opts("cpus").toInt,
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> run.ops,
      "passes" -> run.passes,
      "counters" -> counters) ++ run.extra
    json.writeValue(new java.io.File(s"$out/run.json"), record)
    spark.stop()
  }

  private def setUp(workload: String, opts: Map[String, String]): SparkSession = {
    val s = graft.Sessions.local(opts("cpus"), "layerbench")
    if (workload == "registry_ingest")
      s.read.parquet(s"${opts("data")}/stream").groupBy("source").count()
        .collect()
    else {
      graft.Tables.registerAll(s, opts("data"))
      s.table("region").groupBy("r_name").count().collect()
    }
    s
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the JIT compiler threads, from /proc/self/task (ns). */
  def jitNanos: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
          new String(Files.readAllBytes(t.toPath.resolve("schedstat")))
            .split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread ended
    }.sum
  }

  /** Wall, process CPU and JIT compiler CPU clocks (ns), and the count of
    * classes Spark's code generator has compiled, at one instant. Where
    * the kernel accounts steal time apart (paravirt steal accounting), no
    * CPU clock counts time the host steals or time spent waiting for a
    * core, so CPU figures hold on a busy host where wall ones do not. */
  final case class Clocks(wall: Long, cpu: Long, jit: Long, codegen: Long) {
    /** Since this instant: wall seconds (`s`), work CPU seconds (`cpu_s`:
      * every thread but the JIT compiler's, i.e. driver, executor tasks,
      * Janino and GC), JIT compiler CPU seconds (`jit_s`) and generated
      * classes compiled (`codegen_classes`). */
    def lap(): Map[String, Any] = {
      val n = Clocks.now()
      Map("s" -> (n.wall - wall) / 1e9,
        "cpu_s" -> ((n.cpu - cpu) - (n.jit - jit)) / 1e9,
        "jit_s" -> (n.jit - jit) / 1e9,
        "codegen_classes" -> (n.codegen - codegen))
    }
  }
  object Clocks {
    def now(): Clocks = Clocks(System.nanoTime(), os.getProcessCpuTime,
      jitNanos,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Order-independent hash over every column of the result: row count
    * plus the exact (decimal) sum of a per-row 64-bit hash. Computing it
    * materializes every column, so projection pruning cannot skip work. */
  def resultHash(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = df.col(s"`${f.name}`")
      (f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }).as(s"c$i")
    }
    val h: Column = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Per-operation state release, as `graft.Bench` does between runs:
    * cached plans, persisted RDDs and streaming memory-sink views. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_out_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage)
      .linesIterator.take(1).mkString}"

  def oracleJson(path: String, names: Seq[String]): Unit =
    json.writeValue(new java.io.File(path),
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)

  /** curation_kernels: a fixed list of registered queries.
    * An untimed warm-up pass computes each result hash and dumps the
    * result for the oracle check, then one more untimed pass runs; timed
    * passes re-run every query in list order. The order is
    * fixed: every pass compiles its generated classes anew, how many of
    * them depended on the order, and a per-pass shuffle made that cost
    * (and the JIT work on the new classes) vary from pass to pass. */
  def queryList(run: Run): Unit = {
    import run._
    val names = opts("queries").split(",").toSeq
    val fns = graft.SparkEntry.queries
    val w0 = System.nanoTime()
    val warm = names.map { n =>
      val r = try {
        // one execution: the dump the oracle checks, hashed back
        fns(n)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$verify/$n")
        Map("name" -> n, "hash" -> resultHash(spark.read.parquet(s"$verify/$n")))
      } catch { case t: Throwable => Map("name" -> n, "error" -> errorOf(t)) }
      release(spark)
      r
    }
    extra("warmup") = warm
    // one more untimed pass: the first timed pass would otherwise still be
    // on the JIT's warm-up ramp, where its CPU varies most between runs
    for (n <- names) {
      resultHash(fns(n)(spark, data))
      release(spark)
    }
    extra("warmup_s") = (System.nanoTime() - w0) / 1e9
    oracleJson(s"$verify/oracle_sql.json", names)

    for (pass <- 0 until totalPasses) timedPass(pass) {
      names.foreach { n =>
        val id = s"p$pass/$n"
        var h: String = null
        var err: String = null
        var buildS = 0.0
        val c = Clocks.now()
        tracer.span("op", id) {
          try {
            val df = tracer.span("operators.build")(fns(n)(spark, data))
            buildS = (System.nanoTime() - c.wall) / 1e9
            h = tracer.span("action")(resultHash(df))
          } catch { case t: Throwable => err = errorOf(t) }
        }
        val lap = c.lap()
        release(spark)
        ops += Map("id" -> id, "name" -> n, "kind" -> "query",
          "pass" -> pass, "traced" -> tracedPass(pass), "build_s" -> buildS,
          "hash" -> h, "error" -> err) ++ lap
      }
    }
    if (traced) {
      extra("kernels") = Kernels(spark)
      extra("dsl") = flagshipDsl(run)
    }
  }

  /** Times `Pipeline.fromPointy` (the DSL parse) and `start` (the runner
    * building the lazy stage graph) for the flagship script. */
  def flagshipDsl(run: Run): Map[String, Any] = {
    val parse = mutable.Buffer[Double]()
    val start = mutable.Buffer[Double]()
    for (_ <- 0 until 10) {
      val t0 = System.nanoTime()
      val p = graft.core.Pipeline.fromPointy("flagship", graft.Flagship.pointy,
        graft.Flagship.registry(run.data))
      val t1 = System.nanoTime()
      p.start(run.spark)
      val t2 = System.nanoTime()
      parse += (t1 - t0) / 1e6
      start += (t2 - t1) / 1e9
    }
    Map("parse_ms" -> parse, "runner_s" -> start)
  }
}

/** Rows per second of each `CodegenFallback` kernel, called through its
  * public column wrapper over the generated corpus columns: a timed
  * projection whose output is hashed, so the kernel runs on every row. */
object Kernels {
  import graft.functions.TextKernelExpressions._
  import graft.functions.VectorExpressions.pq_encode
  import graft.operators.Bpe.{bpeSegmentCount, mergeBigram}

  def apply(spark: SparkSession): Map[String, Double] = {
    val docs = spark.table("documents").select("text").cache()
    val words = docs.select(explode(split(col("text"), " ")).as("w")).cache()
    val syms = words.select(split(col("w"), "").as("sym")).cache()
    val vecs = spark.table("embeddings").select("embedding").cache()
    val rnd = new scala.util.Random(7)
    val codebook = Array.fill(16 * 64)(rnd.nextFloat() - 0.5f)
    val merges = Seq(("a", "g"), ("ag", "g"), ("s", "t"), ("e", "r"))
    val t = col("text")
    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("WordShingles", docs, word_shingles(t, 3)),
      ("WordNGrams", docs, word_ngrams(t, 3)),
      ("WordNGramsOnly", docs, word_ngrams_only(t, 2)),
      ("MinHashSig", docs, minhash_sig(word_shingles(t, 3), 16)),
      ("PortableMinHash", docs, portable_minhash(word_shingles(t, 3), 8)),
      ("SimHash", docs, simhash(t)),
      ("WinnowFingerprints", docs, winnow_fingerprints(t, 5, 4, portable = true)),
      ("CdcChunks", docs, cdc_chunks(t, 16, 8)),
      ("PqEncode", vecs, pq_encode(col("embedding"), codebook, 8)),
      ("MergeBigram", syms, mergeBigram(col("sym"), "a", "g")),
      ("BpeSegmentCount", words, bpeSegmentCount(col("w"), merges)))
    val out = cases.map { case (name, df, k) =>
      val rows = df.count().toDouble
      def once(): Double = {
        val t0 = System.nanoTime()
        df.select(xxhash64(k).as("h"))
          .agg(sum(col("h").cast("decimal(38,0)"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // codegen and JIT warm-up
      s"functions.$name.rows_per_s" -> rows / once()
    }.toMap
    Seq(docs, words, syms, vecs).foreach(_.unpersist(blocking = true))
    out
  }
}

/** registry_ingest: each round lands one micro-batch file, refreshes the
  * three registries with AvailableNow, then reads each one out. The
  * final readouts are dumped for the one-shot oracle check. */
object RegistryIngest {
  import Main._

  def apply(run: Main.Run): Unit = {
    import run._
    val files = new java.io.File(s"$data/stream").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val in = Paths.get(s"$out/in")
    val root = s"$out/store"
    val ckpt = s"$out/ckpt"
    Files.createDirectories(in)
    val store = new graft.sources.ResultStore(spark, root)
    // the token registry compacts on every 2nd commit (default: 8), so
    // that each run's few timed rounds hold compactions
    spark.conf.set("spark.graft.registry.compactSegments", "2")

    var landed = 0
    var landedBytes = 0L
    def land(): Unit = {
      val src = files(landed).toPath
      val tmp = Paths.get(s"$out/.landing")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, in.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landedBytes += Files.size(src)
      landed += 1
    }

    def receipt(schema: String, c: graft.sources.PrunedCommit): Unit = {
      tracer.addHere("sources.files_rewritten", c.rewrittenFiles)
      tracer.addHere("sources.files_carried", c.carriedFiles)
      tracer.addHere("sources.commits", 1)
    }
    def segment(schema: String, c: graft.streaming.Registries.RegistryCommit): Unit =
      c match {
        case graft.streaming.Registries.SegmentAppended(r) =>
          tracer.addHere("sources.files_rewritten", r.newFiles)
          tracer.addHere("sources.files_carried", r.carriedFiles)
          tracer.addHere("sources.segment_mb", r.newBytes / 1e6)
          tracer.addHere("sources.commits", 1)
        case graft.streaming.Registries.Compacted(_) =>
          tracer.addHere("sources.compactions", 1)
          tracer.addHere("sources.commits", 1)
      }
    def prunedRead(opened: Int, total: Int): Unit = {
      tracer.addHere("sources.pruned_files_opened", opened)
      tracer.addHere("sources.pruned_files_total", total)
    }
    def stream: DataFrame =
      graft.streaming.StreamRunner.parquetStream(spark, in.toString, 1)

    val registries: Seq[(String, () => org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
      "neardup" -> (() => graft.operators.Dedup.incrementalNearDup(
        stream, "doc_id", "text", store, "sigs", "pairs", s"$ckpt/neardup",
        shingleN = 3, numHashes = 8, bands = 2,
        onCommit = receipt, onPrunedRead = prunedRead)),
      "stats" -> (() => graft.streaming.Registries.incrementalSourceStats(
        stream, "source", "text", store, "stats", "stats", s"$ckpt/stats",
        onCommit = receipt)),
      "tokens" -> (() => graft.streaming.Registries.incrementalTokenCounts(
        stream, "text", store, "tok", "tok", s"$ckpt/tokens",
        onCommit = segment)))
    // the dashboards: the st15 / st16 / st19 readouts, whose registered
    // oracles recompute them one-shot over every landed document
    val readouts: Seq[(String, String, String, () => DataFrame)] = Seq(
      ("neardup", "pairs", "st15_incremental_neardup",
        () => store.read("pairs").orderBy("id_a", "id_b")),
      ("stats", "stats", "st16_incremental_stats",
        () => store.read("stats").orderBy("key")),
      ("tokens", "tok", "st19_token_registry",
        () => graft.streaming.Registries.readTokenCounts(store, "tok")
          .orderBy(col("n").desc, col("key")).limit(25)
          .select(col("key").as("token"), col("n"))))

    def storeBytes: Long = {
      val p = Paths.get(root)
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    }

    /** One refresh of every registry, then one readout of each. */
    def round(pass: Int, timed: Boolean): Unit = {
      registries.foreach { case (reg, start) =>
        val id = s"r$pass/$reg"
        var err: String = null
        val c = Clocks.now()
        tracer.span("refresh", id) {
          try start().awaitTermination()
          catch { case t: Throwable => err = errorOf(t) }
        }
        val lap = c.lap()
        if (timed) ops += Map("id" -> id, "name" -> reg, "kind" -> "commit",
          "pass" -> pass, "traced" -> tracedPass(pass), "error" -> err) ++ lap
      }
      readouts.foreach { case (reg, schema, _, read) =>
        val id = s"r$pass/$reg.readout"
        var err: String = null
        var h: String = null
        var files = 0
        val c = Clocks.now()
        tracer.span("readout", id) {
          try {
            files = store.dataFileCount(schema)
            h = resultHash(read())
          } catch { case t: Throwable => err = errorOf(t) }
        }
        val lap = c.lap()
        if (timed) ops += Map("id" -> id, "name" -> reg, "kind" -> "readout",
          "pass" -> pass, "traced" -> tracedPass(pass), "files" -> files,
          "hash" -> h, "error" -> err) ++ lap
      }
      release(spark)
    }

    // untimed warm-up round: the pre-landed batches commit one by one,
    // absorbing codegen and moving the registries to a steady state
    val w0 = System.nanoTime()
    (0 until opts("preland").toInt).foreach(_ => land())
    round(-1, timed = false)
    extra("warmup_s") = (System.nanoTime() - w0) / 1e9
    // a timed round lands one file, then refreshes and reads out; the
    // store-size walk runs outside its clocks
    for (pass <- 0 until totalPasses if landed < files.length) {
      val before = storeBytes
      timedPass(pass, Map("file" -> files(landed - 1).getName,
        "store_growth_mb" -> (storeBytes - before) / 1e6)) {
        land()
        round(pass, timed = true)
      }
    }

    // final state for the oracle: every registry's readout over all
    // landed batches
    readouts.foreach { case (_, _, q, read) =>
      read().coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
    }
    oracleJson(s"$verify/oracle_sql.json", readouts.map(_._3))
    extra("registry_oracles") = readouts.map(r => r._1 -> r._3).toMap
    extra("landed_files") = landed
    extra("landed_bytes") = landedBytes
    extra("store_bytes") = storeBytes
    extra("rounds_exhausted") = landed >= files.length
  }
}
