package layerbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a benchmark boundary (op, build, action, refresh,
  * readout, ...) or a listener-derived interval (job, catalyst phase,
  * streaming trigger). Times are epoch milliseconds. `parent` is the id
  * of the enclosing benchmark span; listener spans leave it empty and get
  * it by containment when the span file is rolled up. */
final case class Span(id: Long, name: String, op: String, parent: Long,
    start: Double, end: Double)

/** Spans and per-operation counters, kept in memory and written out once
  * at the end of the run. The operation id of everything the client
  * thread starts rides the `layerbench.op` local property (inherited by
  * streaming query threads); catalyst phases carry no property and are
  * attributed to the operation whose span contains their start. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spanQueue = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = mutable.Stack[Long]()
  @volatile private var op = ""
  /** op id → counter name → value */
  val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()

  def add(opId: String, key: String, v: Double): Unit =
    if (enabled && opId.nonEmpty)
      counters.computeIfAbsent(opId, _ => new ConcurrentHashMap())
        .merge(key, v, (a: Double, b: Double) => a + b)
  def addHere(key: String, v: Double): Unit = add(op, key, v)

  /** Time `f` as a span named `name`; with `opId` it opens a new
    * operation (root span) and tags every Spark job it starts. */
  def span[T](name: String, opId: String = "")(f: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(0L)
    if (opId.nonEmpty) {
      op = opId
      spark.sparkContext.setLocalProperty(Tracer.OpKey, opId)
    }
    stack.push(id)
    val s = nowMs
    try f finally {
      val e = nowMs
      stack.pop()
      if (enabled) spanQueue.add(Span(id, name, op, parent, s, e))
      if (opId.nonEmpty) {
        op = ""
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      }
    }
  }

  def record(name: String, opId: String, start: Double, end: Double): Unit =
    if (enabled) spanQueue.add(Span(nextId.getAndIncrement(), name, opId, 0L,
      start, end))

  /** The operation whose root span contains `ms`, or "" (untimed work). */
  private def opAt(ms: Double): String =
    spanQueue.asScala.find(s => s.parent == 0L && s.op.nonEmpty &&
      s.start <= ms && ms <= s.end).map(_.op).getOrElse("")

  // ---- listeners ---------------------------------------------------------
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val pendingJobs = new java.util.concurrent.atomic.AtomicInteger()
  /** listener events without an operation tag, attributed at drain():
    * (span name, start, end, counters) */
  private val pending = mutable.Buffer[(String, Double, Double, Map[String, Double])]()
  private def defer(name: String, start: Double, end: Double,
      stats: Map[String, Double]): Unit =
    if (enabled) pending.synchronized(pending += ((name, start, end, stats)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val opId = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.OpKey))).getOrElse("")
      if (opId.nonEmpty) {
        pendingJobs.incrementAndGet()
        jobStart.put(e.jobId, (opId, e.time))
        e.stageIds.foreach(s => stageOp.put(s, opId))
        add(opId, "scheduler.jobs", 1)
        add(opId, "scheduler.stages", e.stageInfos.size)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (opId, t) =>
        add(opId, "scheduler.job_wall_s", (e.time - t) / 1e3)
        record("job", opId, t.toDouble, e.time.toDouble)
        pendingJobs.decrementAndGet()
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val opId = stageOp.getOrDefault(e.stageId, "")
      if (opId.nonEmpty && e.taskInfo != null) {
        add(opId, "scheduler.tasks", 1)
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          add(opId, "scheduler.task_wait_s",
            math.max(0L, e.taskInfo.launchTime - s) / 1e3))
        val m = e.taskMetrics
        if (m != null) {
          add(opId, "executor.task_run_s", m.executorRunTime / 1e3)
          add(opId, "executor.task_cpu_s", m.executorCpuTime / 1e9)
          add(opId, "executor.gc_s", m.jvmGCTime / 1e3)
          add(opId, "executor.deser_s", m.executorDeserializeTime / 1e3)
          add(opId, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add(opId, "shuffle.read_mb",
            (m.shuffleReadMetrics.localBytesRead +
              m.shuffleReadMetrics.remoteBytesRead) / 1e6)
          add(opId, "shuffle.fetch_wait_s",
            m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(opId, "scan.read_mb", m.inputMetrics.bytesRead / 1e6)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(n =>
        ph.get(n).foreach(p => defer(s"catalyst.$n", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble, Map(s"catalyst.${n}_s" -> p.durationMs / 1e3))))
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis()).toDouble
      val fallback = Tracer.fallbackNodes(qe.executedPlan)
      defer("", start, start, Map("catalyst.plans" -> 1.0,
        "functions.fallback_nodes" -> fallback.size.toDouble) ++
        fallback.groupBy(identity).map { case (k, v) =>
          s"functions.fallback.$k" -> v.size.toDouble })
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = d.getOrElse("triggerExecution", 0.0)
      defer("streaming.trigger", start, start + trig * 1e3, Map(
        "streaming.batches" -> (if (p.numInputRows > 0) 1.0 else 0.0),
        "streaming.trigger_s" -> trig,
        "streaming.add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "streaming.query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
        "streaming.wal_s" ->
          (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "streaming.source_s" ->
          (d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0))))
    }
  }

  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * every job end, then attributes the buffered catalyst events. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 20000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      if (pendingJobs.get() <= 0) quiet += 1 else quiet = 0
    }
    pending.synchronized {
      pending.foreach { case (name, start, end, stats) =>
        val opId = opAt(start)
        if (name.nonEmpty && opId.nonEmpty) record(name, opId, start, end)
        stats.foreach { case (k, v) => add(opId, k, v) }
      }
      pending.clear()
    }
  }

  def uninstall(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spans: Iterator[Span] = spanQueue.asScala.iterator
}

object Tracer {
  val OpKey = "layerbench.op"

  /** Class names of the `CodegenFallback` expressions in an executed
    * plan, one per occurrence, looking through adaptive wrappers, query
    * stages and subqueries. */
  def fallbackNodes(plan: SparkPlan): Seq[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).flatMap(_.expressions.flatMap(_.collect {
      case f: CodegenFallback => f.getClass.getSimpleName
    }))
  }
}
