package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive input parallelization for kernel-heavy projections
  * (optimization guide §2.5 input skew / §6 split size).
  *
  * A small parquet table is one file with one row group, and an
  * unsplittable file scans as ONE task — so a CPU-heavy per-row kernel
  * fused into that scan (shingle+MinHash signatures, per-replicate md5
  * draws, deletion neighborhoods, per-vector math) runs on one core no
  * matter how many the session has. Measured on the sf0.1 bench at
  * local[32]: aq84_poisson_bootstrap 6.9 s wall with 7 single-task
  * stages and 6.2 s of single-core compute; dq20/dq22/dq23/dq24/sq27/
  * sq28 all the same shape (tasks ≈ stages in graft.tools.Probe).
  *
  * [[apply]] redistributes the rows across the session's cores BEFORE
  * the kernel — but only when the plan's leaf input is provably small:
  *
  *  - leaf bytes (the optimizer's own file-size statistic, the only
  *    estimate that is reliable before execution) are compared against
  *    `spark.graft.spread.smallInputBytes` (default 256 MB). At or
  *    above the cap this is an exact NO-OP — a cluster-scale scan
  *    already yields hundreds of tasks and must not pay a gratuitous
  *    exchange (the plan is unchanged, not just skipped at runtime);
  *  - below it, the shuffle moves < 256 MB (pennies) and the partition
  *    count derives from the DATA, one partition per ~64 KB of input
  *    scaled by `weight` (a caller-declared row-expansion factor — an
  *    explode ×B multiplies downstream work ×B), capped at the
  *    session's default parallelism. Tiny inputs (sf0.001: tens of KB)
  *    stay single-partition, so small-SF correctness sweeps pay
  *    nothing.
  *
  * Partitioning is HASH on caller-named key columns — deterministic
  * under task retry (no round-robin/rand() reassignment, SPARK-38388)
  * and no sort-before-repartition cost. Callers pass a high-cardinality
  * key (the id column) so the spread is even. Row VALUES are untouched
  * and every downstream aggregate in this repo is partition-order-
  * independent by contract, so results are bit-identical.
  */
private[graft] object Spread {

  /** The adaptive width alone: `Some(k)` (k ≥ 2) when the plan's leaf
    * input is provably small enough that an explicit k-way exchange is
    * cheap and buys kernel parallelism, `None` when the input is large
    * or its size is unknown (lineage-cut frames without honest origin
    * stats report the default/inflated estimate, which lands ≥ cap —
    * the safe degradation). Callers use this to pin a CPU-heavy
    * post-shuffle stage's width with `repartition(k, key)` placed so
    * the downstream keyed operator reuses the exchange. */
  def width(df: DataFrame, weight: Double = 1.0): Option[Int] = {
    val spark = df.sparkSession
    val cap = BigInt(spark.conf
      .getOption("spark.graft.spread.smallInputBytes")
      .map(_.toLong).getOrElse(256L << 20))
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (bytes >= cap || bytes <= 0) None
    else {
      val par = spark.sparkContext.defaultParallelism.toLong
      val k = math.max(1L, math.min(par,
        (bytes.toDouble * weight / 65536.0).toLong + 1L)).toInt
      if (k <= 1) None else Some(k)
    }
  }

  def apply(df: DataFrame, weight: Double, keys: Column*): DataFrame =
    width(df, weight).fold(df)(k => df.repartition(k, keys: _*))

  def apply(df: DataFrame, keys: Column*): DataFrame =
    apply(df, 1.0, keys: _*)
}
