package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need REPRODUCIBLE splits: the same row must
  * land in the same split on every engine, every run, every cluster
  * size. RNG-based sampling (`df.sample`) is none of those. Instead the
  * split key is a content hash: md5 of (salt, id), whose first 8 hex
  * chars give a uniform 32-bit bucket — identical in Spark and DuckDB,
  * so the assignment itself is oracle-checkable. Narrow (no shuffle),
  * trivially parallel at any scale.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from md5(salt || id). */
  def hashBucket(id: Column, salt: String, buckets: Int): Column =
    (conv(substring(md5(concat(lit(salt), id.cast("string")).cast("binary")),
      1, 8), 16, 10).cast("long") % buckets).cast("int")

  /** train/val/test label for one id — a pure Column function, usable on
    * any id-bearing column (e.g. both sides of a pair) without a join. */
  def splitLabel(
      id: Column,
      salt: String,
      trainPerMille: Int,
      valPerMille: Int): Column = {
    val b = hashBucket(id, salt, 1000)
    when(b < trainPerMille, "train")
      .when(b < trainPerMille + valPerMille, "val")
      .otherwise("test")
  }

  /** Assign train/val/test by per-mille thresholds (e.g. 900/50/50). */
  def split(
      df: DataFrame,
      idCol: String,
      salt: String,
      trainPerMille: Int,
      valPerMille: Int): DataFrame =
    df.withColumn("split",
      splitLabel(col(idCol), salt, trainPerMille, valPerMille))

  /** Per-group quota cap (domain frequency capping): keep at most `cap`
    * rows per group, preferring rows by salted content hash so the kept
    * subset is an unbiased, reproducible draw — not "first N in storage
    * order". One shuffle on the group key; hot groups are bounded by the
    * window's own spilling and AQE skew handling, and the cap means the
    * output per group is O(cap) regardless of group size. */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      salt: String,
      cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(hashBucket(col(idCol), salt, 1 << 30), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Deterministic weighted (importance) sampling: keep a row with
    * probability `weight` (in [0,1], e.g. a quality score) — but decided
    * by the salted content hash, not an RNG, so the draw is reproducible
    * on any engine/cluster/run. Narrow, no shuffle. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      salt: String,
      weight: Column): DataFrame =
    df.filter(
      hashBucket(col(idCol), salt, 1000000).cast("double") / 1e6 < weight)

  /** Keep ~perMille/1000 of rows, deterministically. */
  def deterministicSample(
      df: DataFrame, idCol: String, salt: String, perMille: Int): DataFrame =
    df.filter(hashBucket(col(idCol), salt, 1000) < perMille)

  /** Group-aware split: the label hashes the GROUP key, so every row
    * of a group (site, domain, dedup cluster) lands in the SAME split —
    * near-identical members of one group cannot straddle train/test.
    * This prevents dq9's cross-split-leakage failure mode at assignment
    * time rather than detecting it afterwards. Narrow projection, no
    * shuffle. */
  def groupedSplit(
      df: DataFrame,
      groupCol: String,
      salt: String,
      trainPerMille: Int,
      valPerMille: Int): DataFrame =
    df.withColumn("split",
      splitLabel(col(groupCol), salt, trainPerMille, valPerMille))

  /** Token-budget selection: keep each group's docs in salted-hash
    * order until the cumulative token count passes `budget` — "give me
    * ~N tokens per domain", the mixture-building primitive stated in
    * tokens rather than documents. The cumulative sum is monotone
    * (token counts are non-negative), so the kept set is exactly the
    * greedy hash-ordered prefix; one shuffle on the group key. */
  def tokenBudgetSelect(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      tokensCol: String,
      salt: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(hashBucket(col(idCol), salt, 1 << 30), col(idCol))
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Keep each group's top `frac` quantile by score (per-domain quality
    * filtering: "top 30% of every domain"): percent_rank over
    * (score desc, id) per group, kept while <= frac. The id tie-break
    * makes the cut deterministic on any engine; the rank arithmetic
    * ((rank-1)/(count-1)) is integer-derived, so the kept set is
    * exactly reproducible. One shuffle on the group key. */
  def topQuantilePerGroup(
      df: DataFrame,
      groupCol: String,
      score: Column,
      idCol: String,
      frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0,1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(score.desc, col(idCol))
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") <= frac)
      .drop("__pr")
  }

  /** Resample a corpus toward a target group mixture (domain
    * rebalancing): each group's keep-rate is
    * min(1, targetShare·total / groupCount) — downsample
    * over-represented domains, keep under-represented ones whole
    * (upsampling is a policy decision left to the caller) — decided per
    * row by the salted content hash, so the draw is exactly
    * reproducible. `targetShares` defaults to uniform across the
    * observed groups. Scale shape: one cheap groupBy-count (rows =
    * number of domains), rates broadcast back, then a narrow map-side
    * filter — the corpus itself is never shuffled. */
  def mixtureResample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      salt: String,
      targetShares: Map[String, Double] = Map.empty): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    // a NULL group key (unlabeled domain) is its own group — keyed by
    // None so it can neither NPE here nor collide with a real value
    val groups = counts.collect()
      .map(r => Option(r.get(0)).map(_.toString) -> r.getAs[Long]("__n"))
      .toMap
    val total = groups.values.sum.toDouble
    val shares: Map[Option[String], Double] =
      if (targetShares.nonEmpty) targetShares.map { case (k, v) => (Option(k): Option[String]) -> v }
      else groups.keys.map(_ -> 1.0 / groups.size).toMap
    val rate = shares.toSeq
      .collect { case (g, share) if groups.contains(g) => (g, share) }
      .foldLeft(lit(0.0)) { case (acc, (g, share)) =>
        val cond = g match {
          case Some(v) => col(groupCol).cast("string") === v
          case None    => col(groupCol).isNull
        }
        when(cond, least(lit(1.0), lit(share * total / groups(g).toDouble)))
          .otherwise(acc)
      }
    df.filter(
      hashBucket(col(idCol), salt, 1000000).cast("double") / 1e6 < rate)
  }

  /** Temperature-scaled domain mixture (the multilingual-training
    * recipe — mT5/XLM-R style): target share ∝ p_g^α, flattening the
    * observed distribution toward uniform as α → 0 while α = 1 keeps
    * it unchanged. Rates and the per-row draw are [[mixtureResample]]'s
    * (salted-hash Bernoulli, corpus never shuffled); only the target
    * shares differ. α = 0.5 (the common default) computes via sqrt —
    * IEEE-exact on every engine, so the kept set has an exact SQL twin;
    * other α use Math.pow, whose last-ulp is library-specific (engine
    * API, no oracle claim). The share normalizer sums in group-key
    * order so the oracle's `list_sum(list(... ORDER BY g))` replays the
    * same double left-to-right. */
  def temperatureResample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      salt: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => Option(r.get(0)).map(_.toString) -> r.getAs[Long]("__n"))
      .toMap
    require(!counts.keySet.contains(None),
      "temperatureResample needs a non-null group column")
    val total = counts.values.sum.toDouble
    val keys = counts.keys.flatten.toSeq.sorted
    val w = keys.map { k =>
      val p = counts(Some(k)) / total
      k -> (if (alpha == 0.5) math.sqrt(p) else math.pow(p, alpha))
    }
    val wTot = w.foldLeft(0.0)(_ + _._2)
    mixtureResample(df, groupCol, idCol, salt,
      w.map { case (k, v) => k -> v / wTot }.toMap)
  }

  /** Mixture-design report: per-group document/token counts, token
    * share, and the corpus-level token-distribution entropy — the
    * numbers a training-mixture decision starts from (which domains
    * dominate, how concentrated the corpus is; entropy ln(k) = perfectly
    * balanced over k groups, 0 = single-domain).
    *
    * Scale shape: one (group)-aggregation (map-side combined,
    * group-cardinality output, lineage-cut once — it feeds the total,
    * the entropy aggregate, AND the final projection), lazy broadcast
    * 1-row totals, no driver action. Entropy terms p·ln(p) round to
    * 10dp and sum as DECIMAL (order-independent, the tq8 discipline);
    * a zero-token group contributes 0 by the 0·ln(0) := 0 convention
    * rather than a NaN. */
  def mixtureReport(
      df: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val g = df
      .select(col(groupCol).as("grp"),
        graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long").as("__nt"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
      .transform(Lineage.cutLocal)
    val tot = broadcast(g.agg(sum(col("n_tokens")).as("__tot")))
    val p = col("n_tokens").cast("double") / col("__tot")
    val ent = broadcast(g.crossJoin(tot)
      .select(when(col("n_tokens") === 0, lit(0.0))
        .otherwise(round(p * log(p), 10)).cast("decimal(28,10)").as("__e"))
      .agg(round(-sum(col("__e")).cast("double"), 6).as("entropy_nats")))
    g.crossJoin(tot).crossJoin(ent)
      .select(col("grp").as(groupCol), col("n_docs"), col("n_tokens"),
        round(p, 6).as("token_share"), col("entropy_nats"))
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * score each RAW-pool document by how target-like it is under hashed
    * n-gram bag-of-words language models, and keep the top `topK`.
    * Features are word unigrams + bigrams with multiplicity, hashed
    * into `buckets` bins (the paper's hashed feature space); each
    * model is the add-1-smoothed bucket distribution of its corpus
    * half, and a document's weight is Σ_grams log p_target(bucket) −
    * log p_raw(bucket) — the log importance ratio.
    *
    * Scale shape: the gram stream shuffles twice, both bounded — a
    * groupBy(bucket) whose output is ≤ `buckets` rows, and a
    * groupBy(doc_id) for per-doc weights. The bucket-ratio model is a
    * ≤`buckets`-row broadcast; corpus totals ride a 1-row broadcast
    * cross-join (no driver action). Top-K runs as orderBy+limit →
    * TakeOrderedAndProject, never a global sort. The gram stream comes
    * from the WordNGrams native kernel (one compiled pass per doc) —
    * the HOF shingle composition costs interpreted per-element lambdas,
    * the trap NOTES_BUILD documents. Engine portability:
    * the bucket hash is the md5-prefix hashBucket used by every split
    * in this file, and each per-bucket log-ratio term rounds to 6dp
    * DECIMAL before the per-doc sum, so summation order cannot move
    * the result (tq8's rule), and the exact sum rounds to 4dp before
    * the cast to double: a double rounds a …5 tie differently per
    * engine. */
  def importanceWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      buckets: Int,
      salt: String,
      topK: Int): DataFrame = {
    // the n-gram kernel + hash fuse into the doc scan — a single-file
    // table runs them on ONE core (aq26 measured 8 single-task
    // stages); Spread redistributes small scans before the kernel and
    // is an exact no-op at scale (weight 2: uni+bigram row expansion)
    val grams = Lineage.cutLocal(
      Spread(docs, 2.0, col(idCol))
        .select(col(idCol).as("doc_id"), isTarget.as("is_t"),
          explode(graft.functions.TextKernelExpressions
            .word_ngrams(col(textCol), 2)).as("gram"))
        .select(col("doc_id"), col("is_t"),
          hashBucket(col("gram"), salt, buckets).as("bucket")))
    val cnts = grams.groupBy("bucket").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
    val tot = broadcast(cnts.agg(sum("ct").as("tt"), sum("cr").as("tr")))
    val ratio = broadcast(cnts.crossJoin(tot)
      .select(col("bucket"),
        round(log((col("ct") + 1).cast("double") / (col("tt") + buckets))
          - log((col("cr") + 1).cast("double") / (col("tr") + buckets)), 6)
          .cast("decimal(18,6)").as("term")))
    val scored = grams.filter(!col("is_t"))
      .join(ratio, "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("term").as("w"))
      .orderBy(col("w").desc, col("doc_id"))
      .limit(topK)
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("w").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(rk))
      .select(col("doc_id").as(idCol), col("n_grams"),
        round(col("w"), 4).cast("double").as("weight"), col("rank"))
  }

  /** Deterministic proportional interleave — the global TRAINING ORDER
    * of a multi-source mixture, computed scale-out. Weighted-fair-
    * queueing virtual finish times: the k-th document of source s gets
    * integer key `k * (L / w_s)` (L = lcm of the weights), and the
    * schedule is ascending key — a source with twice the weight appears
    * twice as often at every prefix of the stream, which is exactly the
    * "interleave datasets by ratio" contract of a training data loader
    * (and unlike RNG mixing, reproducible on any engine/cluster).
    *
    * Integer keys mean no float compares; sources absent from
    * `weights` get weight 1. Per-source ranks come from
    * [[Packing.groupedRank]] (two-phase prefix sum — no per-source
    * global window), the schedule head from TakeOrdered (no global
    * sort); only the returned `topN` rows see the position window.
    * Output: (position, source-col, id-col, vkey). */
  def interleaveSchedule(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weights: Map[String, Long],
      topN: Int): DataFrame = {
    require(weights.values.forall(_ > 0), "weights must be positive")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (weights.values.toSeq :+ 1L).reduce((a, b) => a / gcd(a, b) * b)
    val mult = weights.foldLeft(lit(lcm)) { case (acc, (g, wt)) =>
      when(col(groupCol) === g, lit(lcm / wt)).otherwise(acc)
    }
    val keyed = Packing.groupedRank(df, groupCol, idCol, Nil)
      .withColumn("vkey", col("rank") * mult)
    val head = keyed
      .orderBy(col("vkey"), col(groupCol), col(idCol))
      .limit(topN)
      .transform(Lineage.cutLocal)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("vkey"), col(groupCol), col(idCol))
    head
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("position"), col(groupCol), col(idCol), col("vkey"))
      .orderBy("position")
  }

  /** Cross-source quantile calibration (quantile normalization): map
    * every row's metric onto the CORPUS-WIDE distribution by rank —
    * source A's "top decile" and source B's "top decile" land on the
    * same calibrated value even when their raw scales differ (the
    * classic fix for mixing quality/length scores across crawls whose
    * scorers drift). Each row gets its within-source quantile bucket
    * `((rank−1)·k) div n` and the corpus-wide exact interpolated
    * quantile at that bucket's midpoint as its calibrated value.
    *
    * Determinism contract: ranks come from the packed INTEGER key
    * `value·10⁸ + id` (unique, both engines sort it identically —
    * requires `0 ≤ id < 10⁸` and integer `value`); buckets are the
    * aq20 integer floor-div cuts; the k midpoint probabilities are the
    * same Scala doubles in both plans and the quantiles interpolate
    * identically (aq6 parity).
    *
    * Scale shape: one [[Packing.groupedRank]] pass (range-partition
    * prefix-sum rank — NO per-source single-partition sort), one
    * corpus-wide percentile aggregate broadcast back as a k-element
    * array — nothing else touches the data. */
  def quantileCalibrate(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      valueCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 2 && k <= 1000, "k in [2, 1000]")
    val mids = (0 until k).map(b => (2 * b + 1).toDouble / (2 * k))
    val packed = df.select(col(groupCol), col(idCol), col(valueCol),
      (col(valueCol).cast("long") * lit(100000000L) +
        col(idCol).cast("long")).as("__pack"))
    val ranked = Packing.groupedRank(packed, groupCol, "__pack",
      carryCols = Seq(idCol, valueCol))
    val sizes = ranked.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"))
    val quantiles = df.agg(expr(
      s"percentile($valueCol, array(${mids.map(_ + "d").mkString(", ")}))")
      .as("__qs"))
    ranked
      .join(broadcast(sizes), Seq(groupCol))
      .crossJoin(broadcast(quantiles))
      .withColumn("bucket", expr(s"((rank - 1) * $k) div __n"))
      .select(col(idCol), col(groupCol), col(valueCol), col("bucket"),
        round(element_at(col("__qs"),
          (col("bucket") + 1).cast("int")), 4).as("calibrated"))
      .orderBy(idCol)
  }

  /** Water-filling token-budget allocation across groups — "how many
    * tokens should each source contribute to a B-token training mix":
    * every group is filled to a common water level L, capped by what
    * it actually has, with L solving Σ min(cap_g, L) = B. Small
    * sources contribute everything they have (saturated); large ones
    * are cut to the level — the max-min-fair allocation a mixture
    * plan starts from before taste-weighting
    * ([[mixtureResample]]/[[temperatureResample]] then realize a plan
    * at the row level).
    *
    * Closed form, no iteration: with caps sorted ascending, the
    * boundary is the FIRST index i where
    * (B − Σ_{j<i} cap_j)/(n − i + 1) ≤ cap_i; everything below i
    * saturates, everything at/above gets that level. B ≥ Σ cap makes
    * every group saturated (level undefined — reported NULL).
    *
    * Determinism contract: caps and prefix sums are exact BIGINTs;
    * the level is one pinned double division; allocations round at
    * 6dp; the sort ties on (cap, group) so the boundary index is
    * unique.
    *
    * Scale shape: one grouped aggregate to the caps frame; the sort
    * window runs over the GROUPS frame — dimension-sized (sources,
    * domains), never data-sized. Output one row per group:
    * `(group, cap, allocated, saturated)`. */
  def waterFillBudget(
      df: DataFrame,
      groupCol: String,
      tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val caps = df.groupBy(col(groupCol))
      .agg(sum(col(tokensCol).cast("long")).as("cap"))
    // dimension-sized frame: |groups| rows — the global window is the
    // point (sorting 20 sources in one task is the cheapest plan)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap"), col(groupCol))
    val idx = caps
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__p", sum("cap").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    val tot = broadcast(idx.agg(count(lit(1)).as("__n")))
    val lev = idx.crossJoin(tot).withColumn("__lvl",
      (lit(budget).cast("double") -
        (col("__p") - col("cap")).cast("double")) /
        (col("__n") - col("__i") + 1L).cast("double"))
    // the unique boundary row, carried as a 1-row broadcast (NULL
    // level when the budget covers every cap — nothing is cut)
    val star = broadcast(
      lev.agg(min(when(col("__lvl") <= col("cap").cast("double"),
        col("__i"))).as("__istar")).join(
        lev.select(col("__i").as("__li"), col("__lvl").as("__lstar")),
        col("__istar") === col("__li"), "left")
        .select(col("__istar"), col("__lstar")))
    lev.crossJoin(star)
      .select(col(groupCol), col("cap"),
        round(when(col("__istar").isNull || col("__i") < col("__istar"),
          col("cap").cast("double")).otherwise(col("__lstar")), 6)
          .as("allocated"),
        (col("__istar").isNull || col("__i") < col("__istar"))
          .as("saturated"))
      .orderBy(groupCol)
  }

  /** Effective sample size and design effect of a WEIGHTED sample per
    * group (Kish 1965): ESS = (Σw)²/Σw², deff = n/ESS — "after
    * temperature/mixture re-weighting, how many independent units is
    * this sample actually worth". The honesty check on every weighted
    * pipeline: a 10M-row sample with deff 40 measures like 250k rows,
    * and the allocation planners ([[waterFillBudget]],
    * [[graft.operators.Stats.neymanAllocation]]) should be fed ESS,
    * not raw counts.
    *
    * Determinism contract: Σw and Σw² ride exact decimals (weights
    * cast to decimal(18,6); squares round to 12dp decimal(38,12)
    * before the order-independent sum — 8dp would underflow weights
    * below ~1e-4 to zero and a uniformly-tiny-weight group would
    * report NULL instead of ESS = n); ESS and deff are pinned double
    * expressions rounded at 6dp; a zero-weight group reports NULL via
    * the denominator guard.
    *
    * Scale shape: one grouped aggregate; output is groups-sized. */
  def effectiveSampleSize(
      df: DataFrame,
      groupCol: String,
      weightCol: String): DataFrame = {
    val w = col(weightCol).cast("double")
    val agg = df
      .filter(w.isNotNull && w > 0.0)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(w.cast("decimal(18,6)")).as("__sw"),
        sum(round(w * w, 12).cast("decimal(38,12)")).as("__sww"))
    val sw = col("__sw").cast("double")
    val sww = col("__sww").cast("double")
    val ess = sw * sw / when(sww > 0.0, sww)
    agg.select(col(groupCol), col("n"),
      round(ess, 6).as("ess"),
      round(col("n").cast("double") / when(ess > 0.0, ess), 6).as("deff"))
      .orderBy(groupCol)
  }

  /** Horvitz–Thompson estimation (Horvitz & Thompson 1952) over the
    * [[weightedSample]] draw — the estimator that makes a weighted
    * sample USABLE: having kept row i with probability πᵢ, the
    * unbiased total of any metric is Σ yᵢ/πᵢ over the kept rows, with
    * the Poisson-sampling variance Σ (1−πᵢ)/πᵢ²·yᵢ². Reported beside
    * the EXACT population total, so the gate doubles as a live audit
    * of the estimator's error ("could I have skipped the full scan").
    *
    * Determinism contract: the draw is the salted-hash
    * [[weightedSample]] (exactly reproducible, exactly oracle-able);
    * πᵢ is the caller's weight column (round it — 4dp quality scores
    * are the aq18 shape) CAPPED at 1: a weight above 1 is a certainty
    * inclusion (always kept, contributes yᵢ/1 with zero variance) —
    * without the cap its (1−π)/π² variance term would go NEGATIVE and
    * silently understate ht_se for the whole group. Each yᵢ/πᵢ and
    * variance term rounds to 6dp and sums as DECIMAL (kept-row order
    * differs between engines — the tq8 discipline); estimate and se
    * pin at the readout. Rows with πᵢ ≤ 0 are never kept
    * (hash/10⁶ < 0 is false), so no division guard is needed beyond
    * the draw itself.
    *
    * Scale shape: one filtered grouped aggregate for the kept rows +
    * one grouped aggregate for the exact totals (both map-side
    * partials), joined on the |groups| frame. Returns
    * `(group, n_total, n_kept, actual_total, ht_total, ht_se)`. */
  def horvitzThompson(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      salt: String,
      weight: Column,
      valueCol: String): DataFrame = {
    val y = col(valueCol).cast("double")
    // π capped at 1: the filter below keeps every weight ≥ 1 row
    // anyway (hash/10⁶ < 1 always), so its true inclusion probability
    // IS 1 — estimating with the raw >1 weight would bias the total
    // low and make the variance term negative
    val p = least(weight.cast("double"), lit(1.0))
    val kept = df
      .filter(hashBucket(col(idCol), salt, 1000000).cast("double") /
        1e6 < weight)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(round(y / p, 6).cast("decimal(28,6)")).as("__ht"),
        sum(round((lit(1.0) - p) / (p * p) * y * y, 6)
          .cast("decimal(28,6)")).as("__hv"))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_total"),
        sum(col(valueCol).cast("decimal(18,4)")).as("__at"))
      .join(kept, Seq(groupCol), "left")
      .select(col(groupCol), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(col("__at").cast("double"), 2).as("actual_total"),
        when(col("n_kept") > 0L,
          Readout.pin(col("__ht").cast("double"), 2)).as("ht_total"),
        when(col("n_kept") > 0L,
          Readout.pin(sqrt(greatest(col("__hv").cast("double"),
            lit(0.0))), 2)).as("ht_se"))
      .orderBy(groupCol)
  }
}
