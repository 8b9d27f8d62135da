package graft

import org.apache.spark.sql.SparkSession

/** Session defaults shared by Verify / Bench / tests.
  *
  * These mirror what a production deployment would set cluster-wide:
  * AQE on (runtime re-planning, skew-join handling), shuffle partitions
  * sized to the executor count instead of the 200 default, UTC session
  * time, and the legacy nanos conf so TIMESTAMP(NANOS) parquet (the
  * events table) loads as Long instead of erroring.
  */
object Sessions {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // iterative operators checkpoint per round when a checkpoint dir is
    // configured; let the ContextCleaner delete superseded round files
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // the ContextCleaner only unregisters shuffles/broadcasts when a GC
    // proves them unreachable, and its own GC kick defaults to every
    // 30 MINUTES — a long-lived driver running hundreds of queries
    // accumulates thousands of dead shuffle registrations and broadcast
    // blocks between kicks, and every later multi-stage job pays for
    // them (the r14 driver sweep measured aq44 at 8.6× its isolated
    // steady; the gradient was monotone in session age). One minute
    // bounds the backlog at ~a query's worth; the periodic System.gc()
    // runs on the cleaner thread, off every query's timed path.
    .config("spark.cleaner.periodicGC.interval", "1min")
    // The app/SQL status stores retain finished-job roll-ups, per-task
    // rows, and — per SQL execution — the full formatted plan string
    // plus its metric graph, sized for a human browsing a UI (1000
    // jobs / 1000 stages / 100k tasks / 1000 SQL executions). This
    // library's iterative operators launch dozens of executions per
    // query, so a long-lived driver fills those stores within a few
    // queries and then holds them for the session: pure heap pressure
    // (and, with async tracking, trimming that lags behind exactly the
    // many-small-jobs bursts that overflow it) taxing repeat runs of
    // multi-job queries — the r15 driver sweep measured aq44 at 4×
    // its quiet steady with run3 > run1 > isolated. Nobody is
    // browsing: keep minutes of history, not hours. The status APIs
    // stay functional, just with a shorter horizon.
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.ui.retainedDeadExecutors", "10")
    .config("spark.sql.ui.retainedExecutions", "25")
    // Spark keeps compiled generated classes in one JVM-wide LRU of 100
    // entries. A curation pass (dq15/dq18/sq9/tq42) cycles through about
    // 185 distinct classes and a registry refresh round through about
    // 155, so an LRU of 100 never hits: every pass paid Janino again,
    // then ran the fresh classes interpreted until the JIT caught up.
    // 2000 holds either working set ten times over. Its cost, measured
    // at the end of a 360-query Verify sweep at sf0.01 on 4 cores:
    // metaspace 235 MB used against 224 MB with Spark's defaults, while
    // the sweep compiled 6180 classes instead of 10633.
    // Static: read once, when the first class is compiled.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    // Spark 4.1 gives every cloned session (one per AvailableNow refresh
    // of a streaming registry) its own executor classloader, and that
    // classloader is part of the codegen cache key, so each refresh
    // compiled its executor-side classes again although the cache held
    // them (a one-file refresh of the source-stats registry: 12 classes,
    // 0 without isolation). graft adds no per-session jars or files, so
    // there is nothing to isolate. Only takes effect at session creation.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // Without Hadoop's native library the local file system forks a
    // `chmod` after every file create and mkdir and a `readlink` for
    // every rename through FileContext (the streaming checkpoint
    // manager): an 8-round registry_ingest benchmark run forked 2,520
    // processes, 24 with these set. graft's subclasses do both through
    // java.nio. Hadoop caches the FileSystem per scheme, so these only
    // take effect when set before the JVM's first local FileSystem.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sources.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.NioLocalFs].getName)

  def local(cpus: String, appName: String): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus))
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
