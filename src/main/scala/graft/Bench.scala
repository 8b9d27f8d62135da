package graft

object Bench {

  /** Per-query seconds from a prior bench_results.json line — the
    * committed steady-state reference the noise guard compares fresh
    * medians against. "err" entries and malformed input parse to
    * absent. Kept regex-based (flat map, no nested braces): no JSON
    * lib on the classpath by design. */
  def committedQueries(json: String): Map[String, Double] = {
    val at = json.indexOf("\"queries\"")
    if (at < 0) Map.empty
    else {
      val afterKey = json.drop(at)
      val q = afterKey.slice(afterKey.indexOf('{'), afterKey.indexOf('}') + 1)
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(q)
        .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _))
        .toMap
    }
  }

  /** The driver's BENCH_r10 carried a 19× pure-noise row (aq5_json
    * 6.32 s vs 0.47 s steady): a loaded window can poison the warmup
    * AND all timed runs, so even a median of 3 needs arbitration
    * against the committed steady state. A fresh median more than
    * 1.5× the committed value triggers one re-measurement round.
    * 1.5×, not 3×: r11 measured 1.9–2.8× noise rows (sq20 6.00 vs
    * 3.79 steady, sq22 7.04 vs 4.47, dq5 2.19 vs 1.27) slipping
    * UNDER a 3× trigger and INFLATING the next round's committed
    * baseline — each inflated row then weakens its own guard
    * multiplicatively. The tighter trigger costs at most one extra
    * measurement round for rows in the 1.5–3× band (bounded, and the
    * min-of-medians keeps real regressions visible); sub-noise-floor
    * queries (<0.3 s) are exempt, where 1.5× is sub-100 ms jitter. */
  def needsRemeasure(fresh: Double, committed: Option[Double]): Boolean =
    committed.exists(c => c > 0.0 &&
      (if (c < 0.3) fresh > 3.0 * c else fresh > 1.5 * c))

  /** Second-pass arbitration over the COMPLETED sweep. The r12 driver
    * bench proved the same-window re-measure insufficient: one
    * sustained loaded window poisoned an alphabetically contiguous
    * band (aq45–aq56, committed up to 7.6× steady — aq55 2.28 s vs
    * 0.30 s steady-state run3) because the inline re-measure ran INSIDE
    * the window that produced the spike; min-of-two-poisoned-medians
    * is still poisoned. Temporal separation is the fix: the sweep only
    * RECORDS guard triggers, and every triggered query is re-measured
    * here, after the full sweep has ended — minutes later, a different
    * time window — keeping the min of the two medians. `remeasure` is
    * invoked only after `fresh` is complete in full, which is the
    * property the same-window guard lacked. A genuine regression
    * re-measures slow in the second window too and stays visible. */
  def arbitrateSecondPass(
      fresh: Seq[(String, Double)],
      committed: Map[String, Double],
      remeasure: String => Double): Map[String, Double] = {
    val triggered = fresh.collect {
      case (n, m) if needsRemeasure(m, committed.get(n)) => n
    }.toSet
    fresh.map { case (n, m) =>
      n -> (if (triggered(n)) math.min(m, remeasure(n)) else m)
    }.toMap
  }

  /** Releases one run's executor and catalog state deterministically.
    * Operators localCheckpoint intermediates, and those blocks are
    * otherwise freed only when the ContextCleaner notices the RDD is
    * unreachable (GC-driven). Across ~100 queries × N runs in one
    * session the stragglers accumulate and tax late-sorted queries
    * under memory pressure — each run (warmup included) should be
    * billed for its own plan only. blocking: async removal would race
    * the NEXT run's execution and bill cleanup to the wrong timer.
    * Streaming queries additionally land results in uniquely-named
    * memory-sink temp views (st*_out_<nanos>); each holds its rows in
    * the driver until dropped, so across runs×queries they accumulate
    * and tax later streaming runs (st2 measured 1.2s run1 → ~6s run3
    * before this). */
  private[graft] def releaseRunState(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_out_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, "graft-bench")

    // absorb session/JIT/codegen warmup outside per-query timings: one
    // tiny end-to-end action through parquet + agg + shuffle machinery
    Tables.load(spark, sfDir, "region").groupBy("r_name").count().count()

    // dev-only filter for targeted profiling: SPARK_GRAFT_ONLY=dq6,dq7
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // Single-shot per-query timings on a contended box carry ±2-3x tail
    // noise (measured: identical-code consecutive full-bench runs swung
    // sq2 1.87→6.42→1.99s). Each query therefore runs N times and the
    // reported number is the per-query MEDIAN — the only statistic that
    // survived four rounds of cross-run comparison. With warmup on (the
    // default since r7) the one-time Janino/whole-stage codegen compile
    // cost lives in warmup_run; first_run is then just the first timed
    // steady-state sample (kept for cross-round continuity — r6 and
    // earlier first_run values INCLUDE compile cost, r7+ do not).
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n == 0) 0.0
      else if (n % 2 == 1) s(n / 2)
      else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // a query that THROWS must never be billed a wall time: an
    // analysis-time failure fails fast (~0.1s) and would read as a
    // 10-20× "speedup" in cross-round comparison (this happened — the
    // round-5 NTZ regression showed st1-st4 at 0.09-0.19s). Failed
    // queries report the string "err" instead and are excluded from
    // total/median/p90.
    // one untimed warm-up execution per query before the timed runs: it
    // absorbs the one-time Janino/whole-stage codegen compile (sq14's
    // k-means trajectory alone compiles ~2s of kernels) so the timed
    // median measures steady-state plan cost. The warm-up wall time is
    // still recorded (warmup_run) — compile cost is real signal about
    // plan complexity, it just must not pollute the steady-state stat.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    // the committed artifact (read BEFORE this run overwrites it) is
    // the noise guard's steady-state reference; absent/fresh queries
    // simply skip the guard
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_results.json")
    val committed: Map[String, Double] =
      try committedQueries(java.nio.file.Files.readString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", outFile))))
      catch { case _: Throwable => Map.empty }
    // one timed-median measurement of a query: N runs, per-run state
    // release, failures flagged (the timed loop is the arbiter of
    // "err" — see below)
    def measure(name: String,
                fn: (org.apache.spark.sql.SparkSession, String) =>
                  org.apache.spark.sql.DataFrame): (Seq[Double], Boolean) = {
      var failed = false
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case t: Throwable =>
          failed = true
          System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: " +
            String.valueOf(t.getMessage).linesIterator.take(1).mkString)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        releaseRunState(spark)
        dt
      }
      (times, failed)
    }
    val sweep = selected.map { case (name, fn) =>
      // a warmup failure is LOGGED but does not mark the query failed:
      // transient box noise in the untimed run must not discard N valid
      // timed measurements — the timed loop is the arbiter of "err".
      // A failed warmup records NO warmup time (time-to-crash would
      // read cross-round as the compile cost collapsing).
      val warm = if (!warmup) None else {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          System.err.println(s"[bench] $name warmup failed (timed runs " +
            s"decide): ${t.getClass.getName}: " +
            String.valueOf(t.getMessage).linesIterator.take(1).mkString)
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        releaseRunState(spark)
        if (ok) Some(dt) else None
      }
      val (times, failed) = measure(name, fn)
      (name,
        if (failed) None else Some(median(times)),
        if (failed) None else Some(times.head),
        if (failed) None else warm)
    }
    // noise guard, second pass: the sweep only RECORDS guard triggers
    // (fresh median >1.5× committed, >3× below the 0.3 s floor); every
    // triggered query is re-measured HERE, after the entire sweep has
    // completed — a different time window, which is what the r12
    // same-window re-measure lacked (one sustained loaded window wrote
    // a contiguous 4–8× band straight through the inline guard).
    val fnByName = selected.toMap
    val freshMedians = sweep.flatMap { case (n, m, _, _) => m.map(n -> _) }
    val arbitrated = arbitrateSecondPass(freshMedians, committed, name => {
      val fresh = freshMedians.toMap.apply(name)
      System.err.println(f"[bench] $name sweep median $fresh%.2fs over " +
        f"the guard vs committed ${committed(name)}%.2fs — second-pass " +
        "re-measure")
      val (times2, failed2) = measure(name, fnByName(name))
      // a second-pass failure keeps the sweep value: the sweep's timed
      // loop already proved the query runs, so a crash here is box
      // trouble, not code
      if (failed2) fresh else median(times2)
    })
    val results = sweep.map { case (n, m, f, w) =>
      (n, m.map(v => arbitrated.getOrElse(n, v)), f, w)
    }
    def jsonMap(kv: Seq[(String, Option[Double])], absent: String): String =
      kv.map { case (k, v) =>
        "\"" + k + "\":" + v.map(_.toString).getOrElse(absent)
      }.mkString("{", ",", "}")
    val qs = jsonMap(results.map(r => (r._1, r._2)), "\"err\"")
    val firstRuns = jsonMap(results.map(r => (r._1, r._3)), "\"err\"")
    // a missing warmup (disabled, or the query failed outright) is
    // null, NOT "err" — the failure sentinel belongs to the timed map
    val warmRuns = jsonMap(results.map(r => (r._1, r._4)), "null")
    val ok = results.flatMap(_._2)
    val nErr = results.count(_._2.isEmpty)
    val total = ok.sum
    // context for reading `total` across rounds: the query set GROWS with
    // coverage, so per-query stats are the comparable signal
    val sorted = ok.sorted
    // nearest-rank with rounding (a floored index reports ~p89 for p90
    // at n=73 and biases the median low on even n)
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.round((sorted.size - 1) * p).toInt)
    // stdout gets the contract line in its COMPACT form: summary fields
    // FIRST, then the per-query map, and no first_run/warmup maps — a
    // truncated capture of the line then still yields the totals, and
    // the whole line is ~3x shorter (~12 KB vs ~34 KB at 360 queries).
    // The full record (all three maps) is persisted to bench_results.json
    // below, unchanged in shape, so cross-round per-query history and the
    // noise guard's committed reference lose nothing.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""runs_per_query":$runs,""" +
      s""""n_queries":${results.size},"n_err":$nErr,"median_sec":${pct(0.5)},""" +
      s""""p90_sec":${pct(0.9)},"sf":"$sfDir","queries":$qs}"""
    println(line)
    // the driver's artifact keeps only a truncated stdout tail (BENCH_r05
    // and r06 both lost every per-query timing to it) — persist the full
    // record to a file so the per-query map survives the round
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""first_run":$firstRuns,"warmup_run":$warmRuns,""" +
      s""""runs_per_query":$runs,""" +
      s""""n_queries":${results.size},"n_err":$nErr,"median_sec":${pct(0.5)},""" +
      s""""p90_sec":${pct(0.9)},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine)
    catch { case t: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${t.getMessage}")
    }
    spark.stop()
  }
}
