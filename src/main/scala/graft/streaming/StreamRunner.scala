package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Pipeline

/** Structured Streaming surface (SURVEY §2.11 + §7.1 step 7).
  *
  * The reference's "streaming" is chunked ingestion + interval
  * scheduling; the real streaming semantics (event-time windows,
  * watermarks, stateful aggregation) are the capability extension the
  * BASELINE "stream-processor" category asks for. Everything here rides
  * the micro-batch engine:
  *
  *  - `runPipelinePerBatch` is the BatchPipeline analog at cluster scale:
  *    each micro-batch runs the full Pointy pipeline via foreachBatch,
  *    with the batch DataFrame bound as the `batch` input;
  *  - window builders produce the standard tumbling / sliding / session
  *    aggregations with a watermark for state eviction;
  *  - `intervalTrigger` maps the reference's APScheduler interval
  *    trigger onto Trigger.ProcessingTime (cron stays driver-side,
  *    Scheduler below).
  */
object StreamRunner {

  /** File-source stream over a directory of parquet (schema pinned from a
    * driver-side footer read, [[graft.sources.ParquetFooters.schemaOf]],
    * else from a batch peek — readStream requires one).
    * `maxFilesPerTrigger` bounds micro-batch size, the analog of the
    * reference's chunked file ingestion
    * (nexus/default_batch_processors.py:28-54). A `ts` column
    * is normalized to micros TimestampType ([[graft.Tables.normalizeTs]])
    * so stream-side event-time logic sees the same canonical type as
    * batch scans, whatever the writer encoded. */
  def parquetStream(
      spark: SparkSession,
      path: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = graft.sources.ParquetFooters.schemaOf(spark, path)
      .getOrElse(spark.read.parquet(path).schema)
    // FileStreamSource force-sets basePath to the path itself when it is
    // not a glob — which errors on a single FILE path (the testdata
    // layout). An exact-match glob ([x] character class on the last
    // char) sidesteps that branch without matching anything extra.
    val f = new java.io.File(path)
    val sourcePath =
      if (f.isFile) s"${path.init}[${path.last}]" else path
    graft.Tables.normalizeTs(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourcePath))
  }

  /** Tumbling/sliding event-time aggregation with watermark. */
  def windowedAgg(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      windowLen: String,
      slide: Option[String],
      keys: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None    => window(col(tsCol), windowLen)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy((win +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Session-window aggregation (gap-based, stateful). */
  def sessionAgg(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      gap: String,
      keys: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Run a Pointy pipeline once per micro-batch: the scale-out
    * BatchPipeline (nexus/pipeline.py:1002-1299) re-expressed as
    * foreachBatch. The micro-batch DataFrame is bound to the `batch`
    * input; results land wherever the pipeline's sink stage writes. */
  def runPipelinePerBatch(
      stream: DataFrame,
      mkPipeline: () => Pipeline,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val p = mkPipeline()
        p.start(batch.sparkSession,
          Map("batch" -> batch, "batch_id" -> batchId),
          forceRerun = true)
        ()
      }
      .start()

  /** Interval trigger (APScheduler `interval` analog). */
  def intervalTrigger(seconds: Long): Trigger =
    Trigger.ProcessingTime(s"$seconds seconds")

  /** Routing column [[quarantineStream]] adds to its single table:
    * every stored row carries which arm the predicate sent it to. */
  val ArmCol = "__arm"
  val CleanArm = "clean"
  val QuarantineArm = "quarantined"

  /** The valid rows of a [[quarantineStream]] table, arm column
    * dropped — the downstream-facing "clean table" view. */
  def cleanRows(store: graft.sources.ResultStore, schema: String)
      : DataFrame =
    store.read(schema).filter(col(ArmCol) === CleanArm).drop(ArmCol)

  /** The violating rows of a [[quarantineStream]] table WITH their
    * full payload, arm column dropped — inspectable and replayable
    * into the pipeline after a fix. */
  def quarantinedRows(store: graft.sources.ResultStore, schema: String)
      : DataFrame =
    store.read(schema).filter(col(ArmCol) === QuarantineArm).drop(ArmCol)

  /** Streaming expectations with quarantine routing — the DLT
    * `expect_or_quarantine` shape: each micro-batch splits on the
    * violation predicate (NULL evaluations are violations, the
    * [[graft.operators.Profile.expectations]] contract), valid rows
    * route to the [[CleanArm]] and violators to the [[QuarantineArm]]
    * WITH the batch preserved — nothing is silently dropped, failed
    * rows stay inspectable and replayable after a fix ([[cleanRows]] /
    * [[quarantinedRows]] are the two views).
    *
    * Both arms land in ONE table ([[ArmCol]] carries the routing) and
    * therefore ONE generation flip per micro-batch: the split is
    * atomic — no crash window where the clean arm committed but the
    * quarantine arm didn't (the torn-batch hazard of a two-table
    * design), and the per-batch commit machinery (manifest, sidecar,
    * pointer flip) is paid once instead of twice. The commit is the
    * idempotent set-union insert ([[graft.sources.ResultStore
    * .prunedMerge]] with [[graft.sources.Combine.SetUnion]]): the
    * predicate is deterministic, so an at-least-once replayed
    * micro-batch re-inserts identical (row, arm) tuples and the table
    * is unchanged — no txn marker needed. Empty batches skip the
    * commit.
    *
    * Scale shape per batch: one predicate evaluation fused into the
    * batch scan (a `when`, not two filtered passes), one
    * batch-footprint pruned commit keyed on `keyCol`, with the
    * batch's shuffles sized by its bytes
    * ([[graft.operators.Lineage.microBatch]]). The first commit
    * range-partitions the batch into files sized by its bytes (the
    * store's layout rule, [[graft.sources.ResultStore]]), at least
    * `registryPartitions`; a later one re-range-partitions just the
    * rewritten rows, splitting files that outgrew the rule's size. */
  def quarantineStream(
      stream: DataFrame,
      violation: org.apache.spark.sql.Column,
      keyCol: String,
      store: graft.sources.ResultStore,
      schema: String,
      checkpoint: String,
      registryPartitions: Int = 1): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Lineage.microBatch(batch) {
          val bad = coalesce(violation, lit(true))
          val routed = graft.operators.Lineage.cutLocal(
            batch.withColumn(ArmCol,
              when(bad, lit(QuarantineArm)).otherwise(lit(CleanArm))))
          if (routed.take(1).nonEmpty) {
            store.prunedMerge(schema, routed, keyCol,
              graft.sources.Combine.SetUnion, registryPartitions)
            ()
          }
        }
      }
      .start()
}

/** Thin driver-side scheduler for the reference's cron/interval/date
  * trigger triad (nexus/mixins/schedule.py:46-131). Spark has no cron
  * trigger; production deployments schedule externally — this stays
  * deliberately minimal (SURVEY §7.4 risk 7, non-core). Cron parsing
  * and next-fire computation live in [[Cron]] as pure, fake-clock-
  * testable functions; the scheduler only turns them into delays.
  */
final class Scheduler {
  private val exec =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-scheduler"); t.setDaemon(true); t
    })

  def every(intervalSec: Long)(fn: => Unit)
      : java.util.concurrent.ScheduledFuture[_] =
    exec.scheduleAtFixedRate(() => fn, intervalSec, intervalSec,
      java.util.concurrent.TimeUnit.SECONDS)

  def at(epochMs: Long)(fn: => Unit)
      : java.util.concurrent.ScheduledFuture[_] =
    exec.schedule(new Runnable { def run(): Unit = fn },
      math.max(0, epochMs - System.currentTimeMillis()),
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Cancel handle for a self-rescheduling cron job. */
  final class CronJob private[Scheduler] () {
    @volatile private[Scheduler] var current:
        java.util.concurrent.ScheduledFuture[_] = _
    @volatile private[Scheduler] var cancelled = false
    def cancel(): Unit = {
      cancelled = true
      val c = current
      if (c != null) c.cancel(false)
    }
  }

  /** Run `fn` on a classic 5-field cron expression. Each firing
    * schedules the next from the post-run clock, so a run longer than
    * the gap skips the missed slots instead of piling up. */
  def cron(expr: String)(fn: => Unit): CronJob = {
    val c = Cron.parse(expr)
    val job = new CronJob
    def scheduleNext(): Unit = if (!job.cancelled) {
      val now = java.time.LocalDateTime.now()
      val delayMs = java.time.Duration.between(now, c.next(now)).toMillis
      job.current = exec.schedule(new Runnable {
        def run(): Unit =
          if (!job.cancelled) { try fn finally scheduleNext() }
      }, math.max(0, delayMs), java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    scheduleNext()
    job
  }

  def shutdown(): Unit = exec.shutdownNow()
}
