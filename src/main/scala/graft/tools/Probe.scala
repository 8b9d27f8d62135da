package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Dev probe: where does a registered query's time go? For each named
  * query, one warm-up run (absorbs codegen) and a state release, then
  * one instrumented run, printed as one summary line
  *
  *   wall      — driver-observed wall seconds,
  *   jobs/stages/tasks — scheduling volume,
  *   jobWall   — Σ per-job (end − start): the gap to `wall` is driver
  *               work (analysis, planning, between-action loops),
  *   taskRun   — Σ task executorRunTime (compute, all cores),
  *   fetch     — Σ shuffle fetch wait,
  *   shufMB    — shuffle bytes written,
  *   gc        — Σ task JVM GC time,
  *   batches + the streaming progress `durationMs` sections summed
  *               over the run's micro-batches (triggerExecution,
  *               addBatch, queryPlanning, walCommit, ...), if any,
  *
  * followed by one `[job]` line per Spark job: id, wall, tasks run and
  * call site — which actions a multi-action operator launches.
  *
  * jobWall ≫ taskRun/cores ⇒ scheduling-bound (many tiny tasks);
  * wall ≫ jobWall ⇒ driver-bound.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.tools.Probe sq22_assoc_rules st16_incremental_stats"
  *
  * A/B a setting with SPARK_GRAFT_EXTRA_CONF="key=value;key=value"
  * (e.g. `spark.sql.adaptive.enabled=false`).
  */
object Probe {

  /** One Spark job of an instrumented run; `tasks` counts the tasks
    * that ended before the job did, `site` is the call site of the SQL
    * action that launched it (else of the job itself). */
  final case class Job(id: Int, wallS: Double, tasks: Int, site: String)

  /** One instrumented run. `jobs` counts job starts, `jobList` holds
    * the jobs that ended; `sections` sums each streaming progress
    * event's `durationMs` in seconds, largest first. */
  final case class Run(
      name: String,
      wallS: Double,
      jobs: Int,
      stages: Int,
      tasks: Int,
      taskRunS: Double,
      fetchWaitS: Double,
      shuffleWriteMb: Double,
      gcS: Double,
      batches: Int,
      sections: Seq[(String, Double)],
      jobList: Seq[Job]) {
    def jobWallS: Double = jobList.map(_.wallS).sum

    def lines: Seq[String] = {
      val stream =
        if (batches == 0) ""
        else s" batches=$batches" +
          sections.map { case (k, sec) => f" $k=$sec%.2fs" }.mkString
      val summary =
        f"[probe] $name wall=$wallS%.2fs jobs=$jobs stages=$stages " +
          f"tasks=$tasks jobWall=$jobWallS%.2fs taskRun=$taskRunS%.2fs " +
          f"fetch=$fetchWaitS%.2fs shufMB=$shuffleWriteMb%.1f gc=$gcS%.2fs" +
          stream
      summary +: jobList.map(j =>
        f"[job] id=${j.id}%4d ${j.wallS}%7.3fs tasks=${j.tasks}%4d  ${j.site}")
    }
  }

  /** Warm-up run, state release, then one instrumented run of `name`.
    * A failing warm-up is logged and the instrumented run decides; a
    * failing instrumented run throws. The listener is removed and the
    * run's state released either way. */
  def run(spark: SparkSession, sfDir: String, name: String): Run = {
    val fn = graft.SparkEntry.queries(name)
    try fn(spark, sfDir).count()
    catch { case t: Throwable => System.err.println(s"[probe] warmup $name: $t") }
    graft.Bench.releaseRunState(spark)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      rec.drain()
      rec.result(name, wallS)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      graft.Bench.releaseRunState(spark)
    }
  }

  /** Listener-bus delivery is asynchronous and single-threaded per
    * queue; every callback and read synchronizes on the recorder. */
  private final class Recorder extends SparkListener {
    private var events = 0L
    private var jobs, stages, tasks, batches = 0
    private var runMs, fetchMs, gcMs, shuffleBytes = 0L
    private val open = mutable.Map.empty[Int, (Long, String)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val jobTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val ended = mutable.ArrayBuffer.empty[Job]
    private val sections = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val sqlSite = mutable.Map.empty[Long, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      jobs += 1
      // a call site set by the caller (streaming sets one), else the
      // SQL action's: AQE stage jobs run on pool threads, so the job's
      // own call site names no graft frame
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = (prop("callSite.short") ++
        prop("spark.sql.execution.id").flatMap(id => sqlSite.get(id.toLong)) ++
        e.stageInfos.maxByOption(_.stageId).map(_.name))
        .map(_.trim.replaceAll("\\s+", " ")).find(_.nonEmpty).getOrElse("?")
      open(e.jobId) = (e.time, site)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      open.remove(e.jobId).foreach { case (t0, site) =>
        ended += Job(e.jobId, (e.time - t0) / 1e3, jobTasks(e.jobId), site)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { events += 1; stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      tasks += 1
      stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        fetchMs += m.shuffleReadMetrics.fetchWaitTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        gcMs += m.jvmGCTime
      }
    }

    // SQL execution starts carry the action's call site; streaming
    // progress events reach every SparkListener through the context's
    // bus, whichever session started the query
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { sqlSite(s.executionId) = s.description }
      case p: QueryProgressEvent => synchronized {
        events += 1
        batches += 1
        p.progress.durationMs.asScala.foreach { case (k, v) => sections(k) += v }
      }
      case _ =>
    }

    /** Waits until no job is open and no event arrived for half a
      * second (at most a minute). */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var last = -1L
      var quiet = 0
      while (quiet < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val (n, idle) = synchronized((events, open.isEmpty))
        quiet = if (n == last && idle) quiet + 1 else 0
        last = n
      }
    }

    def result(name: String, wallS: Double): Run = synchronized {
      Run(name, wallS, jobs, stages, tasks, runMs / 1e3, fetchMs / 1e3,
        shuffleBytes / 1e6, gcMs / 1e3, batches,
        sections.toSeq.map { case (k, ms) => k -> ms / 1e3 }.sortBy(-_._2),
        ended.sortBy(_.id).toSeq)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-probe")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    graft.Tables.load(spark, sfDir, "region").groupBy("r_name").count().count()
    for (name <- args) {
      try run(spark, sfDir, name).lines.foreach(println)
      catch { case t: Throwable => System.err.println(s"[probe] $name FAILED: $t") }
    }
    spark.stop()
  }
}
