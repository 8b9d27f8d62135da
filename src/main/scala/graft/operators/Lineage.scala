package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-cut discipline, shared so every cut site states its intent:
  *
  *  - ITERATIVE frames ([[cut]]/[[cutLazy]]): lineage must be cut every
  *    round (self-reference doubles the logical plan), and on a real
  *    cluster the cut must survive executor loss — a multi-hour loop
  *    cannot re-derive round N from source. So these switch to a
  *    RELIABLE checkpoint (HDFS/object-store write) when the session
  *    has a checkpoint dir configured, local otherwise.
  *  - ONE-SHOT multi-consumer frames ([[cutLocal]]): a frame computed
  *    once and read 2-3 times inside a single query. Lost-executor
  *    blocks just fail that one action, which the caller can retry
  *    from source — paying a full-corpus storage round-trip per call
  *    to insure against that is a bad trade, so these stay LOCAL
  *    even when a checkpoint dir is configured.
  *
  * The reliable path persists BEFORE checkpointing (an unpersisted
  * reliable checkpoint recomputes the frame's whole plan for the write
  * job — documented Spark behavior) and unpersists after; superseded
  * checkpoint files are GC-collected when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on
  * (Sessions.tune sets it).
  */
private[graft] object Lineage {

  /** Round-fusion cadence for AQE-ON iterative trajectories: cut
    * lineage every N-th round instead of every round. A round that
    * references its predecessor exactly ONCE grows the plan linearly
    * while uncut, so the only things a per-round cut buys are
    * (a) bounded lineage for executor-loss recovery and (b) optimizer/
    * codegen input size — both satisfied at a multi-round cadence —
    * while every cut boundary costs per-round scheduling and an
    * |rows|-sized materialization (aq54 measured 75 jobs/run with
    * per-step cuts across its removal trajectories; aq53 1.79→1.43 s,
    * tq25 1.74→1.52 s fused at 4). Two hard preconditions, both
    * measured the expensive way:
    *  - rounds must reference their predecessor exactly once — a
    *    twice-referencing round (dq6's largeStar symmetrization)
    *    DOUBLES the plan per uncut round;
    *  - AQE must be ON over the span. Under `withoutAqe` the static
    *    planner sizes an uncut span from source stats and misplans the
    *    per-round joins into broadcast builds (driver collect each) —
    *    aq44 measured 4.44/4.78/5.82 s at fuse 1/2/4 — while a cut
    *    round's LogicalRDD default estimate keeps them shuffle joins.
    *    AQE-off trajectories keep per-round cuts (pageRankKeyed). */
  val FuseRounds: Int = 4

  /** Eager iterative cut: reliable checkpoint when a dir is configured,
    * eager localCheckpoint otherwise. Use before loops and wherever the
    * next consumer is not an immediate aggregate. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = cached.checkpoint()
      cached.unpersist(blocking = false)
      out
    } else df.localCheckpoint()

  /** [[cut]] for the inside of an iterative loop whose very next
    * statement is an aggregate over the frame (convergence checksum /
    * label sum): the LAZY local checkpoint materializes during that
    * action's own job, so each round costs ONE job instead of two. The
    * reliable-checkpoint path stays eager: a lost-executor-safe write
    * should not be deferred into whatever action happens next. */
  def cutLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) cut(df)
    else df.localCheckpoint(false)

  /** Lazy LOCAL cut for a one-shot multi-consumer frame: materializes
    * during the first consumer's action, blocks are GC-released with
    * the plan, and it deliberately does NOT upgrade to a reliable
    * checkpoint (see the object doc for why). */
  def cutLocal(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Drop the materialized blocks behind a [[cut]]/[[cutLazy]]/
    * [[cutLocal]] frame (a checkpointed Dataset is a [[org.apache.spark
    * .sql.execution.LogicalRDD]] scan — unpersist its RDD). No-op on
    * anything else, async (nothing races: the caller only releases
    * frames whose LAST consumer has already materialized). Without
    * this, checkpoint blocks wait for the GC-driven ContextCleaner —
    * in a long-lived driver running hundreds of queries the stragglers
    * accumulate and tax every later job (the r14 driver sweep measured
    * aq44 at 8.6× its isolated steady from exactly this). */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Lifetime scope for an iterative trajectory's intermediate frames:
    * per-round cuts and shared link frames register here, and
    * [[RoundScope.finish]] (a) EAGERLY materializes the final frame —
    * inside the operator's own conf window, so lazy round checkpoints
    * can never leak into the caller's job under the caller's AQE
    * setting, and the consumer's action is a plain checkpoint scan —
    * then (b) releases every intermediate's blocks deterministically.
    * A trajectory leaves exactly ONE frame's footprint behind instead
    * of O(rounds); Bench/long-lived drivers stop accumulating dead
    * round blocks across queries. */
  final class RoundScope {
    private val frames =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** [[Lineage.cutLocal]], tracked for release at [[finish]]. */
    def local(df: DataFrame): DataFrame = track(Lineage.cutLocal(df))
    /** [[Lineage.cutLazy]] for a per-round frame, tracked for release at
      * [[finish]]. */
    def cutRound(df: DataFrame): DataFrame = track(Lineage.cutLazy(df))
    private def track(df: DataFrame): DataFrame = { frames += df; df }
    /** Eager-cut `out` (reliable-aware — [[Lineage.cut]]), then release
      * every tracked intermediate. The eager cut runs the whole
      * deferred trajectory NOW, so releasing the rounds it consumed is
      * safe by construction. */
    def finish(out: DataFrame): DataFrame = {
      val fin = Lineage.cut(out)
      frames.foreach(Lineage.release)
      frames.clear()
      fin
    }
    /** [[finish]] for a trajectory whose result is already
      * driver-materialized (per-round collects): nothing left to cut —
      * just release every tracked frame's blocks. */
    def releaseAll(): Unit = {
      frames.foreach(Lineage.release)
      frames.clear()
    }
  }

  /** Scale-adaptive shuffle-partition count for an AQE-OFF iterative
    * trajectory (guide §2.2 — fewer, larger partitions): inside a
    * `withoutAqe` window nothing coalesces tiny exchanges, so every
    * per-round |V|-row frame shuffles into the SESSION's partition
    * count — at local[32] that is 32 near-empty tasks per exchange per
    * round, pure scheduling tax (graft.tools.Probe measured aq44 at
    * 373 tasks / 220 core-seconds and aq92 at 559 tasks for frames of
    * a few MB). Like [[Spread]], the count derives from the plan's
    * LEAF input bytes — the pre-execution statistic that is actually
    * reliable — one partition per 4 MB of input (round joins are
    * CPU-moderate hash join + aggregate work, so partitions stay small
    * enough to use the cores: aq92 at 1 partition measured 9.6 s of
    * fully SERIAL round work, at the session's 32 it measured 559
    * near-empty tasks — both ends lose), clamped to the session's
    * configured width so a cluster-scale edge frame keeps full
    * parallelism and only provably-small inputs narrow. Unknown leaf
    * statistics (a lineage-cut LogicalRDD reports its origin plan's
    * join-inflated estimate, or the default) clamp to the session
    * width, i.e. the helper degrades to a no-op, never a misplan. */
  def iterPartitions(df: DataFrame): Int =
    widthFor(df.sparkSession, leafBytes(df))

  /** [[iterPartitions]]'s rule for a plan reading `bytes`: one shuffle
    * partition per [[partitionBytes]], at least 1 and at most the
    * session's width; unknown (non-positive) bytes plan at the
    * session's width. */
  def widthFor(spark: org.apache.spark.sql.SparkSession, bytes: BigInt): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (bytes <= 0) session
    else BigInt(session).min((bytes / partitionBytes(spark)) + 1).toInt.max(1)
  }

  /** Bytes per round partition, `spark.graft.iterPartitionBytes`. */
  def partitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    // parameterised (dev A/B + cluster tuning), 4 MB default — measured
    // at both failure ends in r16 (64 MB serialized aq92's round work;
    // the session's 32 paid 559 near-empty tasks) and re-measured
    // against 1/2 MB in r17 (aq44 flat-to-worse: the per-round frames
    // are latency-bound at this SF, more tasks buy nothing).
    spark.conf.getOption("spark.graft.iterPartitionBytes")
      .map(_.toLong).getOrElse(4L << 20)

  /** The plan's LEAF input bytes, the pre-execution statistic
    * [[iterPartitions]] sizes by. */
  def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The part of [[leafBytes]] that is files on disk: the sizes of the
    * file relations `df` scans. Exact, where any other leaf (a lineage
    * cut, a local relation) reports an estimate. */
  def fileBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        l.stats.sizeInBytes
    }.sum

  /** Input bytes of the registry micro-batch whose window
    * ([[microBatch]]) the current thread runs in, if any. */
  def windowBytes: Option[BigInt] = Option(batchBytes.get)

  // not inherited: a pool thread started inside a window must not keep
  // its bytes
  private val batchBytes = new ThreadLocal[BigInt]

  /** The window of one registry micro-batch: AQE off ([[withoutAqe]])
    * and the batch's own shuffles at [[iterPartitions]] width of
    * `batch`, not at the session's core-wide width. Per-batch fixed
    * cost is what a small micro-batch pays for (a 30 KB batch at the
    * session's width ran about 150 near-empty tasks per round of three
    * registries). A 30 KB batch plans at width 1; a batch above the
    * session's width × [[partitionBytes]] keeps the session's width.
    * The window's bytes ([[windowBytes]]) also size the store's plans
    * and files inside it — the store's layout rule
    * ([[graft.sources.ResultStore]], "Layout of a keyed write"). */
  def microBatch[T](batch: DataFrame)(body: => T): T = {
    val spark = batch.sparkSession
    val bytes = leafBytes(batch)
    withoutAqe(spark) {
      withShufflePartitions(spark, widthFor(spark, bytes)) {
        val outer = batchBytes.get
        batchBytes.set(bytes)
        try body finally batchBytes.set(outer)
      }
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value afterwards. Same single-driver
    * session-conf scoping caveat as [[withoutAqe]]: anything lazy must
    * materialize inside the window. */
  def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `body` with adaptive query execution OFF and restore the
    * session flag afterwards (unset stays unset). AQE materializes
    * every exchange as its own query-stage JOB — the right call for
    * one big shuffle whose runtime stats steer a re-plan, pure
    * scheduling tax for a burst of small actions over tiny frames
    * (iterative score rounds, store-commit manifest jobs: aq92 HITS
    * measured 48 jobs with AQE vs 18 scoped-off, wall time followed).
    * Anything lazy must MATERIALIZE inside the window or its jobs run
    * later under the caller's conf. Session-conf mutation is
    * single-driver-scoped, like withStreamPartitions: the gate and
    * bench run queries sequentially. */
  def withoutAqe[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
