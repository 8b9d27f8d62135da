package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for large-scale corpus curation.
  *
  * Four families (BASELINE.json LLM-data-pipeline extensions):
  *
  *  - exact:   hash-groupBy on a content fingerprint — one shuffle on the
  *             fingerprint, the optimal plan at any scale;
  *  - minhash: shingle → minhash signature → banded LSH → bucket join →
  *             exact-Jaccard verification. No cartesian product anywhere:
  *             candidate generation is an equi-join on (band, key);
  *  - simhash: 64-bit signature with banded Hamming search;
  *  - exact n-gram Jaccard: inverted-index similarity join (join on
  *             shared shingle, count co-occurrences) — exact, and the
  *             oracle for the approximate paths.
  *
  * All built from built-in expressions (codegen'd); signatures are
  * computed per-document in a single projection (embarrassingly
  * parallel). At 100 TB the only shuffles are the band-bucket join
  * (explode factor = number of bands) and the final pair groupBy. Skew
  * guard: `maxShingleDf` drops shingles shared by more than that many
  * documents from the inverted index — stopword-like shingles generate
  * quadratic pair blowup and carry no discriminative signal.
  */
object Dedup {

  // lineage-cut discipline: see graft.operators.Lineage (reliable
  // checkpoint when a dir is configured, local otherwise; iterative
  // self-reference doubles the logical plan per round, so loops MUST cut)
  private def cutLineage(df: DataFrame): DataFrame = Lineage.cut(df)
  private def cutLineageLazy(df: DataFrame): DataFrame = Lineage.cutLazy(df)

  /** Survivor marking for exact dedup: canonical = lowest id per
    * normalized-content fingerprint (deterministic at any parallelism). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", fp)
      .withColumn("is_canonical", row_number().over(w) === 1)
      .withColumn("fingerprint", col("__fp"))
      .drop("__fp")
  }

  /** Shared-PREFIX document clusters — boilerplate/template detection
    * by the cheapest structural signal there is: documents opening
    * with the same first `k` tokens (license headers, scraped nav
    * chrome, form letters) group on one prefix key. Near-dup LSH
    * finds these too, but pays signatures for it; the prefix key is
    * one slice per document and catches the template family even
    * when the BODIES diverge enough to defeat similarity thresholds
    * (a mail-merge corpus shares its first 40 tokens and nothing
    * else). The curation readout feeding a strip-or-drop decision.
    *
    * Returns clusters of `minDocs`+ members:
    * `(prefix, n_docs, min_doc)` ordered by (n_docs desc, prefix),
    * top `topK`.
    *
    * Determinism contract: the key is the literal token string (no
    * hashing to disagree on), counts exact, order pinned with the
    * prefix as tiebreak, TakeOrdered cap.
    *
    * Scale shape: one slice per document (no explode — the prefix
    * derives from `slice(split(...))`), one groupBy on the prefix
    * key, TakeOrderedAndProject for the cap. Docs shorter than `k`
    * tokens carry no full prefix and are excluded (a short doc IS
    * its own prefix — grouping those would report length buckets,
    * not templates). */
  def prefixClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minDocs: Long = 2L,
      topK: Int = 100): DataFrame = {
    require(k >= 1, "prefix length must be at least 1")
    val toks = TextFunctions.wsTokens(lower(col(textCol)))
    df.select(col(idCol).as("__id"), toks.as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(array_join(slice(col("__tk"), 1, k), " ").as("prefix"),
        col("__id"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min("__id").as("min_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("prefix"))
      .limit(topK)
  }

  /** Shared trailing-token boilerplate clusters — [[prefixClusters]]'
    * mirror for the OTHER place template rot lands: footers,
    * signatures, license blobs, "read more" tails. One
    * `slice(split(..), -k)` per doc (no explode), the same
    * count-group-cap shape; `suffix` is the last `k` tokens joined.
    * Reference scope: nshaibu/event_pipeline has no text surface —
    * this is the training-data-curation extension (C4-style
    * boilerplate discovery). */
  def suffixClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minDocs: Long = 2L,
      topK: Int = 100): DataFrame = {
    require(k >= 1, "suffix length must be at least 1")
    val toks = TextFunctions.wsTokens(lower(col(textCol)))
    df.select(col(idCol).as("__id"), toks.as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(array_join(slice(col("__tk"), -k, k), " ").as("suffix"),
        col("__id"))
      .groupBy("suffix")
      .agg(count(lit(1)).as("n_docs"), min("__id").as("min_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("suffix"))
      .limit(topK)
  }

  /** Word-shingle set (distinct n-grams, lower-cased). Native kernel —
    * one compiled pass per document (the composable HOF version costs
    * ~2ms/doc interpreted; see TextKernelExpressions). */
  def shingleSet(text: Column, n: Int): Column =
    graft.functions.TextKernelExpressions.word_shingles(text, n)

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the minimum xxhash64 over the shingle set. Null when the document
    * has no shingles (shorter than n tokens). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.TextKernelExpressions.minhash_sig(shingles, numHashes)

  /** Candidate pairs via banded LSH over minhash signatures, verified
    * with exact Jaccard. With numHashes=64, bands=16 (r=4) the miss
    * probability at J >= 0.8 is (1-0.8^4)^16 < 1e-4 and at J >= 0.95
    * ~1e-12 — the verified output matches the exact similarity join in
    * practice while candidate generation stays an equi-join.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // Spread: the shingle+signature kernel otherwise runs inside a
    // possibly single-task scan stage (guide §2.5 — see Spread)
    val docs = Spread(df, col(idCol))
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .transform(Lineage.cutLocal)

    // one THIN row per (doc, band) — the shingle arrays stay out of the
    // bucket join and the pair dedup shuffle; they are joined back only
    // for the (few) surviving candidates
    val banded = docs
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", transform(slice(col("sig"), b * r + 1, lit(r)),
            v => v.cast("string"))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

    val cand = bucketPairs(banded, Seq("band", "band_key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, docs, threshold)
  }

  /** Row-expansion factor for [[Spread.width]] at the pair stages
    * (bucketPairs' in-bucket expansion, verifyJaccard's per-pair set
    * intersection). The r16 advisor flagged that weight 1.0 may
    * under-partition the quadratic pair work on mid-size corpora
    * (sf0.1's 594 KB documents derive k≈10 of 32 cores), suggesting a
    * declared expansion weight like poissonBootstrap's B. MEASURED
    * AND REJECTED at 4.0 (r17, interleaved stash A/B, run3 medians,
    * two baseline windows BRACKETING the weighted run): dq6 1.92/1.89
    * → 2.37, dq7 1.96/1.85 → 2.36, dq18 1.98/1.93 → 2.23, dq3
    * 1.18/1.40 → 1.52 — consistently worse than BOTH baselines —
    * against only noise-level gains on dq22/dq23/dq29. Unlike
    * poissonBootstrap's exact ×B, the pair fan-out is bucket-density-
    * dependent and at this scale the extra tasks are pure scheduling
    * overhead over near-empty buckets; a corpus whose pair stage is
    * genuinely CPU-starved is also big enough that k reaches the
    * session cap at weight 1.0 (≥2 MB of leaf bytes) or the Spread
    * no-op takes over (≥256 MB, hundreds of scan tasks). Kept 1.0. */
  private val pairExpansionWeight = 1.0

  /** In-bucket pair expansion: one shuffle (groupBy on the bucket key)
    * instead of a two-sided self-join, and the upstream signature kernel
    * runs once instead of twice. Pairs are the ordered combinations of
    * each bucket's id-sorted item list, generated by a double explode
    * (both codegen generators — no interpreted lambdas). Output columns
    * `a`/`b` are structs of (id ++ extraCols) with a.id < b.id.
    *
    * Skew safety: `collect_list` holds one bucket in a single
    * (non-spillable) aggregation buffer, so buckets above
    * `maxBucketInMemory` rows — boilerplate explosions where thousands
    * of near-identical docs share a signature — take the classic
    * self-join path instead, which is quadratic in OUTPUT rows but
    * spills through the shuffle. The bucket-size window rides the same
    * hash partitioning the groupBy needs, so the split adds no extra
    * shuffle to the common path. */
  private[graft] def bucketPairs(
      rows: DataFrame,
      bucketCols: Seq[String],
      extraCols: Seq[String] = Nil,
      maxBucketInMemory: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val item = struct((col("id") +: extraCols.map(col)): _*)
    val bk = bucketCols.map(col)
    // oversized-bucket detection via a partitionBy-only window count:
    // it rides the SAME hash shuffle the groupBy needs, evaluates the
    // upstream (signature kernels, prefix ranking) exactly once, and
    // WindowExec spills its per-group buffer — a separate count
    // aggregate would recompute the whole upstream for the probe
    // CPU-width pin for the in-bucket expansion (r16): AQE's
    // byte-based coalescing sizes the post-shuffle stage for shuffle
    // overhead, but the pair explosion + downstream verification are
    // CPU-bound per ROW — on small corpora the whole stage coalesced
    // to 1-3 tasks. An explicit keyed repartition is exempt from
    // coalescing and both the window and the groupBy below reuse it
    // (same keys — no extra exchange); Spread.width no-ops at scale.
    // pairExpansionWeight stays 1.0 — a heavier weight was measured
    // and rejected (see its scaladoc for the r17 A/B numbers).
    val rows2 = Spread.width(rows, pairExpansionWeight)
      .fold(rows)(k => rows.repartition(k, bk: _*))
    val sized = rows2.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(bk: _*)))

    val small = sized.filter(col("__bn") <= maxBucketInMemory)
      .groupBy(bk: _*)
      .agg(sort_array(collect_list(item)).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(col("xs"), posexplode(col("xs")))
      .select(col("col").as("a"),
        explode(slice(col("xs"), col("pos") + 2, size(col("xs")))).as("b"))

    val big = sized.filter(col("__bn") > maxBucketInMemory)
    val bigPairs = big.select(bk :+ item.as("a"): _*)
      .join(big.select(bk :+ item.as("b"): _*), bucketCols)
      .filter(col("a.id") < col("b.id"))
      .select("a", "b")

    small.union(bigPairs)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the full shingle sets. */
  private def verifyJaccard(
      candidates: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    // same CPU-width pin as bucketPairs: the per-pair set intersection
    // is the expensive part and must not run in a byte-coalesced
    // 1-task stage; the id_a join reuses the exchange.
    // pairExpansionWeight stays 1.0 (measured-and-rejected at 4.0 —
    // see its scaladoc)
    Spread.width(docs, pairExpansionWeight).fold(candidates)(k =>
      candidates.repartition(k, col("id_a")))
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(inter / uni, 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard similarity join via inverted index: explode
    * distinct shingles, equi-join on shingle, count co-occurrences, then
    * |A∩B| / (|A|+|B|-|A∩B|). Exact (recall 1) — the oracle for the LSH
    * path. `maxShingleDf` drops ultra-common shingles (df > cap) from
    * pair GENERATION only; Jaccard is still computed on full sets, so
    * results are exact as long as every qualifying pair shares at least
    * one sub-cap shingle. Pass None for strict exactness. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // lazily checkpointed: the shingle kernel would otherwise re-run for
    // the inverted index, the frequency count, and both verification
    // joins. localCheckpoint (not persist) so the blocks are GC-released
    // when the result is dropped — a lazy operator can never unpersist
    // on its caller's behalf, and pinned cache entries would accumulate
    // across queries and micro-batches.
    val docs = Spread(df, col(idCol)).select(col(idCol).as("id"),
      shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .transform(Lineage.cutLocal)

    var inverted = docs.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    maxShingleDf.foreach { cap =>
      val dfCount = Window.partitionBy("shingle")
      inverted = inverted
        .withColumn("__df", count(lit(1)).over(dfCount))
        .filter(col("__df") <= cap).drop("__df")
    }

    // Verification accepts round(J,4) >= t, i.e. true J >= t - 5e-5 —
    // every pruning bound below must use that effective threshold, or a
    // pair just under t that ROUNDS to t gets pruned here yet accepted
    // by the oracle. The extra 1e-6 inside ceil() keeps double error on
    // an exactly-integer product from bumping the bound a whole unit.
    val tEff = threshold - 0.00005

    // PPJoin-style prefix filtering (Xiao et al., WWW'08): order each
    // document's shingles by ascending global frequency; if
    // J(A,B) >= t then |A∩B| >= ceil(t·|A|), so any qualifying partner
    // shares at least one of A's first (|A| - ceil(t·|A|) + 1) shingles.
    // Only prefixes enter the pair-generation join — candidate volume
    // drops ~(1-t)² while staying EXACT (verification uses full sets).
    val freq = inverted.groupBy("shingle").agg(count(lit(1)).as("__freq"))
    val wDoc = Window.partitionBy("id").orderBy(col("__freq"), col("shingle"))
    val prefix = inverted
      .join(freq, "shingle")
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <=
        col("n") - ceil(lit(tEff) * col("n") - lit(1e-6)) + 1)
      // a globally-unique shingle cannot be shared, so it generates no
      // candidates — drop AFTER ranking (order must include it) for a
      // typically large, still-exact cut
      .filter(col("__freq") > 1)
      .select("id", "n", "shingle")

    // PPJoin length filter: J(A,B) >= t forces t·|A| <= |B| <= |A|/t,
    // so size-incompatible pairs die before the dedup shuffle and the
    // verification join (at t=0.9 this cuts candidates ~2×)
    val sized = bucketPairs(prefix, Seq("shingle"), extraCols = Seq("n"))
      .filter(least(col("a.n"), col("b.n")) >=
        ceil(lit(tEff) * greatest(col("a.n"), col("b.n")) - lit(1e-6)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(sized, docs, threshold)
  }

  /** The fingerprint-selection stage of [[winnowingPairs]] (Schleimer,
    * Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03 — the MOSS algorithm): hash every
    * positional word n-gram, slide a window of `window` consecutive
    * hashes, keep each window's minimum — the selected set is a
    * position-robust fingerprint with guaranteed density (every
    * `window` consecutive grams contributes at least one fingerprint),
    * so any shared run of `shingleN + window - 1` tokens between two
    * documents is DETECTED regardless of where it sits. Documents with
    * at most `window` grams fingerprint to their single minimum.
    * Returns (id, fingerprints) per document — store these to match
    * future documents against an existing corpus without re-reading it
    * (the incremental counterpart of the pair join); also the seam the
    * randomized differential spec verifies against a pure-Scala
    * reference implementation.
    *
    * Engine-portable hashing (`portable = true`, the default): 32-bit
    * prefix of md5 (the dq4 discipline), so an external SQL engine
    * replays fingerprints bit-for-bit. `portable = false` selects on
    * xxhash64(seed 42) instead — the production hash (no per-gram
    * digest allocation, ~2× selection throughput); same dq13 split of
    * md5-for-oracle / xxhash64-for-production. */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      window: Int = 4,
      portable: Boolean = true): DataFrame = {
    require(shingleN > 0 && window > 0, "shingleN and window must be positive")
    // one compiled pass per document (TextKernelExpressions) — the HOF
    // formulation this replaced paid per-element lambda interpretation
    // AND a CollapseProject trap that recomputed the gram-hash array per
    // window position (O(grams²)/doc; measured 211s -> 1.6s at sf0.1).
    // The lineage cut stays: `fingerprints` is referenced by both
    // size() and explode() downstream, and without the cut the kernel
    // expression inlines into (and recomputes for) each reference.
    Spread(df, col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.TextKernelExpressions.winnow_fingerprints(
          col(textCol), shingleN, window, portable).as("fingerprints"))
      .filter(col("fingerprints").isNotNull)
      .transform(Lineage.cutLocal)
  }

  /** Local-match near-dup pairs over [[winnowingFingerprints]]:
    * complements MinHash (global similarity) with guaranteed detection
    * of shared local runs. Pairs sharing >= `minShared` fingerprints
    * are returned with the overlap coefficient shared / min(|A|, |B|).
    *
    * Scale shape: the pair join is the same inverted-index bucket join
    * every dedup family uses (one shuffle on the fingerprint, thin
    * (id, n) rows, oversized-bucket spill path).
    *
    * Skew guard (`maxFpDf`): min-selection systematically favors
    * globally SMALL hash values, so on a repetitive corpus the same
    * low-hash grams become fingerprints of thousands of documents and
    * the candidate join goes quadratic in the family size — the
    * inverted-index hot-key problem in its sharpest form. Fingerprints
    * shared by more than `maxFpDf` docs are dropped from candidate
    * generation (both sides); such fps separate nothing anyway (they
    * mark boilerplate, which exact/LSH dedup owns). The overlap
    * denominator keeps the FULL fingerprint count, so with a cap in
    * force even identical docs can score < 1.0. */
  def winnowingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      window: Int = 4,
      minShared: Int = 2,
      maxFpDf: Option[Int] = None,
      portable: Boolean = true): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val docs =
      winnowingFingerprints(df, idCol, textCol, shingleN, window, portable)
    var inv = docs.select(col("id"), size(col("fingerprints")).as("n"),
      explode(col("fingerprints")).as("fp"))
    maxFpDf.foreach { cap =>
      // df window rides the same fp hash partitioning the bucket join
      // needs (the dq3 pattern) — no extra shuffle for the probe
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      inv = inv.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df") <= cap).drop("__df")
    }
    bucketPairs(inv, Seq("fp"), extraCols = Seq("n"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"),
        min(col("a.n")).as("__na"), min(col("b.n")).as("__nb"))
      .filter(col("shared_fps") >= minShared)
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        round(col("shared_fps").cast("double") /
          least(col("__na"), col("__nb")), 4).as("overlap"))
  }

  /** Typo-level near-duplicate pairs by bounded edit distance
    * (Levenshtein, unit costs — identical semantics in Spark codegen
    * and the DuckDB oracle). The modality the shingle family misses:
    * two docs differing by scattered single-character edits keep high
    * edit similarity but can share few word shingles.
    *
    * Candidate generation is an equi-join on the normalized
    * `prefixLen`-char prefix plus a length-difference filter — the
    * same recall-heuristic-then-exact-verify shape as LSH banding.
    * Documented recall boundary: an edit INSIDE the first `prefixLen`
    * characters moves the doc to another bucket and the pair is not
    * recalled (spec-pinned); production stacks run this beside the
    * shingle/winnowing families, which own that case.
    *
    * Scale shape: one shuffle on the prefix key, thin (id, len, text)
    * rows; the O(len²) DP runs only on verified candidates. Skew guard
    * (`maxPrefixDf`): a boilerplate opening shared by thousands of
    * docs makes its bucket quadratic — prefixes with df above the cap
    * drop from BOTH sides (they mark template families, which exact
    * dedup owns); the df probe rides the same prefix partitioning as
    * the join (the dq3 pattern). */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      prefixLen: Int = 16,
      maxPrefixDf: Option[Int] = None): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0, "maxDist/prefixLen out of range")
    val t = lower(trim(col(textCol)))
    var b = Spread(df, col(idCol)).select(col(idCol).as("id"), t.as("__t"),
      length(t).as("__len"), substring(t, 1, prefixLen).as("__pfx"))
    maxPrefixDf.foreach { cap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__pfx")
      b = b.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df") <= cap).drop("__df")
    }
    val a = b.select(col("id").as("id_a"), col("__t").as("__ta"),
      col("__len").as("__la"), col("__pfx"))
    val c = b.select(col("id").as("id_b"), col("__t").as("__tb"),
      col("__len").as("__lb"), col("__pfx"))
    a.join(c, Seq("__pfx"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Cross-corpus n-gram overlap: the fraction of `test`'s distinct
    * word n-grams that also appear anywhere in `train` — the scalar
    * contamination metric papers report alongside per-item
    * decontamination (crossContainmentPairs finds WHICH items leak;
    * this measures HOW MUCH of the surface is shared).
    *
    * Scale shape: two distinct-shingle aggregations (map-side
    * combined), one left join on the shingle key (the test side is the
    * small one in every real benchmark-vs-corpus use — at 100 TB the
    * train side dominates and shuffles once on the shingle hash), one
    * 1-row aggregate. */
  def ngramOverlapStats(
      test: DataFrame,
      train: DataFrame,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    def sh(df: DataFrame) = df
      .select(explode(shingleSet(col(textCol), shingleN)).as("shingle"))
      .distinct()
    sh(test)
      .join(sh(train).withColumn("__hit", lit(1)), Seq("shingle"), "left")
      .agg(
        count(lit(1)).as("n_test_shingles"),
        count(col("__hit")).as("n_overlap"),
        // a test side with no shingles at all (every doc shorter than
        // shingleN) is defined as 0.0 overlap, not a NULL from 0/0
        when(count(lit(1)) === 0, 0.0)
          .otherwise(round(count(col("__hit")).cast("double") /
            count(lit(1)), 6)).as("overlap_frac"))
  }

  /** Threshold-calibration curve: histogram of exact n-gram Jaccard over
    * all candidate pairs with J >= `minJaccard` — the distribution a
    * curation run inspects to PICK its dedup threshold before committing
    * to one (a cliff in the histogram separates near-dup families from
    * background similarity). Buckets are [b/10, (b+1)/10) lower bounds;
    * J = 1.0 lands in its own 1.0 bucket.
    *
    * Scale shape: inherits [[ngramJaccardPairs]]'s prefix+length-filtered
    * candidate generation (lower thresholds prune less — that is
    * inherent to asking a wider question), then collapses to a ≤11-row
    * histogram with map-side partial aggregation — the pair set never
    * collects. The bucket index floors `10*J + 1e-6`: J is already
    * rounded to 4dp, so the epsilon only absorbs binary representation
    * error and cannot lift a true 0.X999 into the next bucket. */
  def jaccardHistogram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, shingleN, minJaccard, maxShingleDf)
      .select(floor(col("jaccard") * 10 + 1e-6).cast("int").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("n_pairs"))
      .select((col("__b") / 10.0).as("bucket_lo"), col("n_pairs"))

  /** Directional containment join: pairs (a, b) where a's shingle set is
    * (near-)contained in b's — |A∩B| / |A| >= t. Catches the
    * quote-with-boilerplate and excerpt-of-larger-doc duplicates that
    * symmetric Jaccard misses (|B| >> |A| drives J down but not
    * containment). Prefix filtering applies on the CONTAINED side only
    * (if |A∩B| >= t·|A|, a partner shares one of A's first
    * |A| - ceil(t·|A|) + 1 rarest shingles), so candidates join A's
    * prefix against the inverted index; verification uses full
    * sets and is exact.
    *
    * Scale guard (`maxShingleDf`): candidate volume is
    * Σ_s prefixCount(s)·df(s), so a shingle duplicated across a huge
    * boilerplate family (df in the tens of thousands) makes the
    * candidate join quadratic in the family size. Shingles with
    * df > cap are dropped from BOTH join sides during candidate
    * generation only — results stay exact as long as every qualifying
    * pair shares at least one sub-cap shingle in the contained side's
    * prefix. A family of thousands of identical docs trips the cap and
    * loses its (quadratic, non-discriminative) pairs — run `exact`
    * dedup FIRST, as CurationPipeline does, so byte-identical families
    * never reach this operator. Residual hot keys below the cap are
    * split at runtime by AQE's skew-join handling (Sessions.tune).
    *
    * The default is None (exact) — capping silently drops pairs whose
    * only shared prefix shingle is super-cap, so it is an explicit
    * opt-in at scale-sensitive call sites (ScaleStress passes 1000 for
    * the 2000-copy boilerplate family), never a surprise default. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxShingleDf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Spread(df, col(idCol)).select(col(idCol).as("id"),
      shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .transform(Lineage.cutLocal)

    val inverted = docs.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))

    // same rounding slack as the Jaccard path: verification accepts
    // round(c,4) >= t, i.e. true containment >= t - 5e-5
    val tEff = threshold - 0.00005
    val freq = inverted.groupBy("shingle").agg(count(lit(1)).as("__freq"))
    val cap = maxShingleDf.map(lit(_)).getOrElse(lit(Long.MaxValue))
    // the df-annotated inverted index feeds BOTH candidate sides —
    // checkpoint it once so the shingle-shuffle join doesn't run twice
    val invFreq = inverted.join(freq, "shingle").transform(Lineage.cutLocal)
    // prefix ranking must see ALL shingles (the bound counts positions),
    // so the df cap filters after ranking, alongside the df>1 cut
    val wDoc = Window.partitionBy("id").orderBy(col("__freq"), col("shingle"))
    val prefix = invFreq
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <=
        col("n") - ceil(lit(tEff) * col("n") - lit(1e-6)) + 1)
      .filter(col("__freq") > 1 && col("__freq") <= cap)
      .select(col("id").as("id_a"), col("shingle"))

    // index side drops super-cap shingles too — this is the bound that
    // keeps per-shingle join volume <= prefixCount(s) * cap
    val index = invFreq
      .filter(col("__freq") <= cap)
      .select(col("id").as("id_b"), col("shingle"))

    val candidates = prefix
      .join(index, "shingle")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    candidates
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("containment", round(inter / size(col("sh_a")), 4))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** EXACT substring duplicates: pairs (id_a, id_b) where A's token
    * sequence appears CONTIGUOUSLY inside B's — quoted articles, pages
    * embedded in crawls, prompt+completion pairs sharing the prompt.
    * Shingle-set containment of 1.0 is NECESSARY for a token-substring
    * (every word n-gram of A occurs in B), so candidates come from the
    * same prefix-filtered containment index as [[containmentPairs]] and
    * only surviving candidates ever rejoin their text — the exact
    * contiguity check never touches the corpus cross-product. The
    * comparison runs on case-folded, space-normalized token streams
    * with sentinel padding — the SAME normalization the shingle
    * candidates use — so token boundaries are respected ("a b" is not
    * inside "aa bb"). Docs with fewer than `shingleN` tokens have no
    * shingles and are not detected (same floor as every shingle
    * operator). */
  def substringPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val cands = containmentPairs(df, idCol, textCol, shingleN,
      threshold = 1.0, maxShingleDf = maxShingleDf)
    val norm = df.select(col(idCol), concat(lit(" "),
      array_join(
        graft.functions.TextFunctions.wsTokens(lower(col(textCol))), " "),
      lit(" ")).as("__norm"))
    cands
      .join(norm.select(col(idCol).as("id_a"), col("__norm").as("__na")), "id_a")
      .join(norm.select(col(idCol).as("id_b"), col("__norm").as("__nb")), "id_b")
      .filter(col("__nb").contains(col("__na")))
      .select("id_a", "id_b")
  }

  /** Incremental (streaming) exact dedup against a persisted registry:
    * each micro-batch fingerprints its documents, merges them into the
    * store's (fingerprint → canonical doc_id) table keeping the MINIMUM
    * id per fingerprint, and commits atomically. The min-merge makes
    * the final registry identical to a one-shot batch dedup of the
    * whole corpus REGARDLESS of arrival order or batch boundaries —
    * the invariant that lets a continuously-ingesting pipeline answer
    * "is this new doc a duplicate of anything ever seen" with one
    * registry lookup, no reprocessing.
    *
    * Commit shape (the part that decides 100 TB viability): the
    * registry lives range-partitioned on `fingerprint` and every
    * batch commits through ONE file-pruned min-merge,
    * [[graft.sources.ResultStore.prunedMerge]] with
    * [[graft.sources.Combine.Min]]: it reads only the registry files
    * whose fingerprint range can hold one of THIS batch's
    * fingerprints, takes the per-fingerprint minimum over those rows
    * and the batch, rewrites those files and hard-links the rest.
    * Per-batch write cost is therefore bounded by the batch's key
    * footprint — NOT the registry size — so total write volume over N
    * batches is linear in the corpus, where a read-everything/overwrite
    * commit would be quadratic. At production scale the same body runs
    * against a Delta/Iceberg MERGE (the store's documented swap
    * point); state is one thin row per distinct document, not the
    * corpus. `onCommit` receives each batch's (schema, PrunedCommit)
    * readout — specs assert rewrittenFiles tracks batch keys. */
  def incrementalDedup(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      store: graft.sources.ResultStore,
      schema: String,
      checkpoint: String,
      registryPartitions: Int = 1,
      onCommit: (String, graft.sources.PrunedCommit) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // micro-batch work is a burst of small actions over
        // batch-sized frames: AQE's per-exchange query-stage jobs and a
        // core-wide shuffle width are pure scheduling tax here
        // (Lineage.microBatch's rationale)
        Lineage.microBatch(batch) {
        val mins = Lineage.cutLocal(batch
          .select(col(idCol).cast("long").as("doc_id"),
            TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
          .groupBy("fingerprint").agg(min("doc_id").as("doc_id")))
        // the first commit lays the registry out in disjoint
        // fingerprint ranges, sized by the batch's bytes (the store's
        // layout rule, at least `registryPartitions` files), so later
        // batches touch few files; rewritten files split as they
        // outgrow the rule's size
        val stats = store.prunedMerge(schema, mins, "fingerprint",
          graft.sources.Combine.Min("doc_id"), registryPartitions)
        onCommit(schema, stats)
        }
      }
      .start()

  /** Incremental (streaming) NEAR-dup candidate discovery against a
    * persisted signature registry — [[incrementalDedup]]'s exact-match
    * registry generalized to banded MinHash: each micro-batch
    * signs its documents with the ENGINE-PORTABLE [[portableSigs]]
    * family, finds candidate pairs WITHIN the batch and AGAINST the
    * registry's band keys, merges both tables atomically, and commits.
    *
    * Invariant (what makes it oracle-able): a pair is a candidate iff
    * the two docs share at least one band key — a property of CONTENT
    * only — and each pair is discovered exactly when the later doc
    * arrives (same batch: the in-batch bucket join; later batch: the
    * registry join). The final pair table therefore equals a one-shot
    * batch banded-LSH candidate pass over the whole corpus REGARDLESS
    * of arrival order, batch boundaries, or at-least-once replay (the
    * merge is a set union — idempotent). This is how a continuously
    * ingesting pipeline answers "is this new doc a near-dup of
    * anything ever seen" with one band-key lookup, no reprocessing.
    *
    * Scale shape: per batch, one signature pass over the BATCH (never
    * the registry), and a band-keyed join batch×registry whose
    * registry side is a FILE-PRUNED point lookup, not a scan: the sig
    * table lives range-partitioned on `band_key`, so
    * [[graft.sources.ResultStore.readForKeys]] opens only the files
    * whose key range can contain one of THIS batch's band keys —
    * per-batch read volume is bounded by the batch's band-key
    * footprint (≈ min(batch·bands, files) files under a hash-uniform
    * key space), never O(registry). Total read volume over N batches
    * is linear in the corpus, matching the write side. State is
    * bands·|corpus| thin rows, not text.
    *
    * Commit shape: both registry tables commit FILE-PRUNED, so
    * per-batch write cost is bounded by the batch's key footprint and
    * total write volume stays linear in the corpus. Both are pure
    * set-unions ([[graft.sources.ResultStore.prunedMerge]] with
    * [[graft.sources.Combine.SetUnion]]) — the pair table keyed on
    * `id_a`, the sig table keyed on `band_key` (its read-side join
    * key — a doc's band rows are COMPLETE and deterministic from
    * content, so the previous replace-by-doc semantics equal
    * set-union and a replayed doc re-inserts identical rows, leaving
    * the table unchanged; nothing is ever deleted).
    *
    * PRECONDITION — content is immutable per doc id: the set-union
    * equivalence above holds only because re-seeing an id means
    * re-seeing the same text. Re-ingesting an id with CHANGED content
    * accumulates the old content's band rows forever and keeps
    * producing candidate pairs against text that no longer exists. A
    * corpus with mutable ids must either mint a new id per revision
    * (the usual content-addressed choice) or run a periodic compaction
    * that rewrites the sig table keeping only each id's latest
    * generation of band rows. `onCommit` gets each commit's (schema, PrunedCommit)
    * readout; `onPrunedRead` gets the candidate lookup's
    * (opened, total) file counts — the spec hook pinning that reads
    * track the batch, not the registry. */
  def incrementalNearDup(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      store: graft.sources.ResultStore,
      sigSchema: String,
      pairSchema: String,
      checkpoint: String,
      shingleN: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      registryPartitions: Int = 1,
      onCommit: (String, graft.sources.PrunedCommit) => Unit = (_, _) => (),
      onPrunedRead: (Int, Int) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch-sized frames throughout: AQE off and shuffles sized by
        // the batch for the burst
        Lineage.microBatch(batch) {
        val sigs = Lineage.cutLocal(portableBandKeys(
          portableSigs(
            batch.select(col(idCol).cast("long").as(idCol), col(textCol)),
            idCol, textCol, shingleN, numHashes), bands, r))
        val within = bucketPairs(sigs, Seq("band", "band_key"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        val cross =
          if (!store.hasSchema(sigSchema)) within.limit(0)
          else sigs.join(
              // point lookup by THIS batch's band keys — opens only
              // the sig files whose band_key range can match (the
              // registry is laid out on band_key for exactly this);
              // `sigs` is localCheckpointed above per the readForKeys
              // evaluated-twice contract
              store.readForKeys(sigSchema, sigs, "band_key", onPrunedRead)
                .select(col("doc_id").as("__old"),
                  col("band"), col("band_key")),
              Seq("band", "band_key"))
            .filter(col("id") =!= col("__old"))
            .select(least(col("id"), col("__old")).as("id_a"),
              greatest(col("id"), col("__old")).as("id_b"))
        val pairs = Lineage.cutLocal(within.unionByName(cross).distinct())
        val pairStats = store.prunedMerge(pairSchema, pairs, "id_a",
          graft.sources.Combine.SetUnion, registryPartitions)
        onCommit(pairSchema, pairStats)
        // keyed and laid out on band_key — the READ side's join key —
        // so the candidate lookup above can file-prune; set-union
        // insert (see the commit-shape scaladoc for why replace-by-doc
        // equals set-union here)
        val sigStats = store.prunedMerge(sigSchema,
          sigs.select(col("id").as("doc_id"), col("band"), col("band_key")),
          "band_key", graft.sources.Combine.SetUnion, registryPartitions)
        onCommit(sigSchema, sigStats)
        }
      }
      .start()
  }

  /** Banded-MinHash candidate pairs on the ENGINE-PORTABLE
    * [[portableSigs]] family — the public face of the audit-path
    * candidate generator ([[lshRecallAudit]] grades it,
    * [[incrementalNearDup]] streams it, [[captureRecapture]] crosses
    * it with an independent detector). Production dedup keeps the
    * fast xxhash64 kernel ([[minhashLshPairs]]); this variant exists
    * where cross-engine replayability matters. Returns normalized
    * `(id_a, id_b)` with id_a < id_b. */
  def portableCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = portableBandKeys(
      portableSigs(df, idCol, textCol, shingleN, numHashes),
      bands, numHashes / bands)
    bucketPairs(banded, Seq("band", "band_key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** MinHash Jaccard-ESTIMATOR bias audit — for every banded candidate
    * pair, compare the signature estimate Ĵ = |{i : sigA[i] = sigB[i]}|/k
    * against the EXACT Jaccard of the two shingle sets, and report the
    * mean absolute error and signed bias. [[lshRecallAudit]] grades the
    * BUCKETING (which pairs surface); this grades the ESTIMATOR (how
    * well k hashes measure similarity once a pair surfaces) — together
    * they are the two error sources a production (k, bands) choice
    * trades off, and the bias row is the k-sizing readout ("8 hashes
    * estimate ±0.17 — verify candidates exactly before dropping").
    *
    * Determinism contract: match counts and set intersections are
    * exact integers; Ĵ = m/k is an exact binary rational; exact J
    * rounds to 6dp; each error addend rounds to 6dp decimal before the
    * pair-order-independent sum; the two readouts are single divisions
    * rounded to 6dp.
    *
    * Scale shape: everything past the signature pass is CANDIDATE-
    * sized — two sig rejoins, one inverted-index intersection
    * restricted to candidate pairs (shingle rows join only where a
    * candidate exists), one 1-row readout. Returns ONE row
    * `(n_cand, mae, bias)`. */
  def minhashEstimateAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = Lineage.cutLocal(
      portableSigs(df, idCol, textCol, shingleN, numHashes))
    val cand = Lineage.cutLocal(
      bucketPairs(portableBandKeys(sigs, bands, numHashes / bands),
        Seq("band", "band_key"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b"))
    val est = cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("__sa"), col("__sb"), (a, b) => a === b),
          x => x)).cast("double") / lit(numHashes.toDouble)).as("__est"))
    val sh = df.select(col(idCol).as("id"),
      explode(shingleSet(col(textCol), shingleN)).as("shingle"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("__n"))
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
    val iv = coalesce(col("__i"), lit(0L))
    val jac = round(iv.cast("double") /
      (col("__na") + col("__nb") - iv).cast("double"), 6)
    val per = est
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("__n").as("__nb")), "id_b")
      .select(
        round(abs(col("__est") - jac), 6).cast("decimal(18,6)").as("__ae"),
        round(col("__est") - jac, 6).cast("decimal(18,6)").as("__e"))
    per.agg(count(lit(1)).as("n_cand"),
        sum("__ae").as("__sae"), sum("__e").as("__se"))
      .select(col("n_cand"),
        when(col("n_cand") > 0L, round(
          col("__sae").cast("double") / col("n_cand").cast("double"), 6))
          .as("mae"),
        when(col("n_cand") > 0L, round(
          col("__se").cast("double") / col("n_cand").cast("double"), 6))
          .as("bias"))
  }

  /** Capture–recapture (Lincoln–Petersen with the Chapman 1951
    * correction) dup-population estimate from TWO independent
    * detectors — the coverage audit for the dedup family: when the
    * exact pair truth is unaffordable (the 100 TB regime), two
    * independent candidate generators (MinHash bands, SimHash bands)
    * each capture a sample of the true near-dup population, and the
    * overlap sizes estimate how many dups exist that NEITHER saw:
    *
    *   N̂ = (n_A+1)(n_B+1)/(m+1) − 1,   m = |A ∩ B|,
    *
    * with `union_coverage = |A ∪ B| / N̂` the fraction of the estimated
    * population that at least one detector caught. The ecology/record-
    * linkage estimator applied to dedup QA; [[lshRecallAudit]] grades
    * a detector against exact truth on a SAMPLE — this extrapolates
    * coverage where truth cannot be computed.
    *
    * Determinism contract: set sizes are exact integers; N̂ is one
    * fixed-order double expression rounded to 6dp; coverage derives
    * from the ROUNDED N̂ (NULL-guarded).
    *
    * Scale shape: two pair-keyed distincts and one pair-keyed join —
    * everything is candidate-pair-sized, never corpus-sized; the
    * readout is three 1-row aggregates. Returns ONE row
    * `(n_a, n_b, n_both, n_hat, union_coverage)`. */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame): DataFrame = {
    val a = Lineage.cutLocal(
      pairsA.select(col("id_a"), col("id_b")).distinct())
    val b = Lineage.cutLocal(
      pairsB.select(col("id_a"), col("id_b")).distinct())
    val nHat = round(
      ((col("n_a") + 1L) * (col("n_b") + 1L)).cast("double") /
        (col("n_both") + 1L).cast("double") - 1.0, 6)
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(a.join(b, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_both")))
      .select(col("n_a"), col("n_b"), col("n_both"),
        nHat.as("n_hat"),
        when(nHat > 0.0, round(
          (col("n_a") + col("n_b") - col("n_both")).cast("double") / nHat,
          6)).as("union_coverage"))
  }

  /** Cross-corpus contamination join (decontamination): pairs
    * (doc, bench) where a benchmark item's shingle set is near-contained
    * in a corpus document — |B∩D| / |B| >= t. The GPT-3-style
    * train/test decontamination check: a training doc that embeds a
    * benchmark example (verbatim or lightly edited) must be caught even
    * when the doc is far larger than the example.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval sets),
    * so its exploded inverted index is BROADCAST — the 100 TB corpus
    * explodes its shingles map-side, joins without shuffling the
    * corpus, and only matching (doc, bench, shingle) rows enter the
    * one groupBy shuffle. The shared-shingle count over distinct
    * shingle sets IS |B∩D| exactly, so the result is exact — no
    * candidate/verify split needed. */
  def crossContainmentPairs(
      corpus: DataFrame,
      corpusId: String,
      corpusText: String,
      benchmark: DataFrame,
      benchId: String,
      benchText: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val bIndex = broadcast(benchmark
      .select(col(benchId).as("bench_id"),
        shingleSet(col(benchText), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("bench_id"), size(col("sh")).as("bn"),
        explode(col("sh")).as("shingle")))
    val cSh = corpus.select(col(corpusId).as("doc_id"),
      explode(shingleSet(col(corpusText), shingleN)).as("shingle"))
    cSh.join(bIndex, "shingle")
      .groupBy("doc_id", "bench_id", "bn")
      .agg(count(lit(1)).as("inter"))
      .withColumn("contamination",
        round(col("inter").cast("double") / col("bn"), 4))
      .filter(col("contamination") >= threshold)
      .select("doc_id", "bench_id", "contamination")
  }

  /** Weighted near-dup pairs: TF-IDF cosine over word shingles — the
    * WEIGHTED member of the pair family (Jaccard/containment treat
    * every shingle equally; here rare shingles dominate and boilerplate
    * contributes ~nothing, so template-heavy corpora stop pairing on
    * chrome). Exact over the capped vocabulary: `maxDf` drops shingles
    * above the document-frequency cap from BOTH weights and norms (they
    * carry ~zero idf anyway); within that vocabulary the cosine is
    * exact, not an LSH estimate.
    *
    * Engine-portability discipline: weights round to 6dp DECIMAL, so
    * dots and squared norms are exact sums; the only doubles are the
    * final sqrt/divide, operation-ordered identically in the oracle.
    * Scale shape: one (doc, shingle) aggregation, a broadcast df join,
    * and the shared inverted-index bucket join (one shuffle on the
    * shingle, oversized-bucket spill path) — dots come from
    * shared-shingle rows only; full vectors never materialize. */
  def tfidfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6,
      maxDf: Option[Long] = None): DataFrame = {
    // Gram stream via the compiled exact-n kernel: one tokenize pass
    // per doc, immune to the CollapseProject×HOF re-tokenization trap
    // the former transform+slice+array_join chain sat next to
    // (NOTES_BUILD).
    val grams = Spread(df, col(idCol)).select(col(idCol).as("id"),
      explode(graft.functions.TextKernelExpressions
        .word_ngrams_only(col(textCol), shingleN)).as("tok"))
    val tf = grams.groupBy("id", "tok").agg(count(lit(1)).as("__tf"))
      .transform(Lineage.cutLocal)
    val nDocs = broadcast(tf.select("id").distinct()
      .agg(count(lit(1)).cast("double").as("__n")))
    var dfx = tf.groupBy("tok").agg(count(lit(1)).as("__df"))
    maxDf.foreach(cap => dfx = dfx.filter(col("__df") <= cap))
    // 6dp weights carried as MICROS-SCALED LONGS: round → decimal(18,6)
    // pins the exact 6dp value, ×1e6 in decimal space is then an exact
    // integer. Dots and norms become long-arithmetic sums in the hot
    // pair loop (decimal multiply-accumulate was the measured cost
    // there); the common 1e12 scale cancels in the cosine ratio.
    // Magnitudes: |w_µ| ≤ ~1e8, so a pair dot ≤ grams·1e16 stays far
    // inside Long range for any document this operator targets.
    val w = tf.join(dfx, "tok").crossJoin(nDocs)
      .select(col("id"), col("tok"),
        (round(col("__tf") * log(col("__n") / col("__df")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long").as("w"))
      .transform(Lineage.cutLocal)
    val norms = w.groupBy("id").agg(sum(col("w") * col("w")).as("__n2"))
    bucketPairs(w, Seq("tok"), extraCols = Seq("w"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("__dot"))
      .join(norms.select(col("id").as("id_a"), col("__n2").as("__na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("__n2").as("__nb")), "id_b")
      .withColumn("cosine", round(col("__dot").cast("double") /
        (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))),
        4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Longest contaminated SPAN per corpus document — the metric
    * benchmark-leakage reports quote alongside [[crossContainmentPairs]]
    * (which finds WHICH docs leak and aq25 measures HOW MUCH overall):
    * the longest run of consecutive positional shingles a document
    * shares with ANY benchmark item, reported in tokens
    * (run + shingleN − 1). A doc can share many scattered shingles
    * harmlessly; a 50-token verbatim run is the smoking gun, and only a
    * POSITIONAL run metric separates the two.
    *
    * Scale shape: the benchmark's distinct-shingle set broadcasts (the
    * dq11 shape — the corpus never shuffles to find its matches); only
    * MATCHED positions enter the one per-doc shuffle, where the classic
    * islands trick (pos − row_number) turns consecutive runs into
    * groups. Corpus-side shingling is positional (with multiplicity) —
    * a run is a property of positions, not the distinct set. */
  def contaminationSpans(
      corpus: DataFrame,
      corpusId: String,
      corpusText: String,
      benchmark: DataFrame,
      benchText: String,
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.functions.TextFunctions.wsTokens(lower(col(corpusText)))
    val base = corpus
      .select(col(corpusId).as("doc_id"), toks.as("__tk"))
      .filter(size(col("__tk")) >= shingleN)
      .select(col("doc_id"),
        (size(col("__tk")) - (shingleN - 1)).cast("long").as("n_grams"),
        posexplode(transform(
          sequence(lit(0), size(col("__tk")) - shingleN),
          i => array_join(slice(col("__tk"), i + 1, lit(shingleN)), " "))))
      .select(col("doc_id"), col("n_grams"), col("pos"), col("col").as("shingle"))
      .transform(Lineage.cutLocal)
    val bSet = broadcast(benchmark
      .select(explode(shingleSet(col(benchText), shingleN)).as("shingle"))
      .distinct())
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runs = base.join(bSet, Seq("shingle"), "left_semi")
      .withColumn("__g", col("pos") - row_number().over(w))
      .groupBy("doc_id", "__g").agg(count(lit(1)).as("__run"))
      .groupBy("doc_id").agg(max(col("__run")).as("max_run"))
    base.select("doc_id", "n_grams").distinct()
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(coalesce(col("max_run"), lit(0L)) === 0, lit(0L))
          .otherwise(col("max_run") + (shingleN - 1)).as("span_tokens"))
  }

  /** Duplicate clusters = connected components over a near-dup pair
    * graph: every doc in a component gets `cluster_id` = the component's
    * minimum id (the canonical survivor), plus the component size.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds (near-dup components are clique-like,
    * so 2-3 rounds in practice). Each round is one equi-join + one
    * groupBy-min, both shuffling on node id, with results persisted and
    * the convergence check riding the same materialization. For chain-shaped
    * components (diameter >> rounds) use `duplicateClustersStar` —
    * the Kiveris et al. large-star/small-star contraction below, which
    * converges in O(log n) rounds with the same output contract.
    *
    * Only ids that appear in `pairs` are returned (docs with no near-dup
    * are their own singleton cluster — callers can left-join this result
    * and coalesce to the doc's own id). */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50): DataFrame =
    duplicateClustersWithRounds(pairs, idA, idB, maxRounds)._1

  /** [[duplicateClusters]] plus the number of propagation rounds it
    * took — the observable that lets specs/stress pin the O(diameter)
    * bound against star contraction's O(log n). */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    // Materialize the pair plan ONCE and cut its lineage before anything
    // references it twice: the symmetric edge union reads it from both
    // branches, and every propagation round re-joins it — an unpersisted
    // plan here re-executes the whole upstream candidate-generation +
    // verification subplan per reference (measured: dq7 went 39.8s→~dq6
    // level once this was a checkpoint). localCheckpoint (not persist):
    // a cache entry still carries the full logical plan; the lineage
    // must be CUT so round-over-round plans stay constant-size.
    val e = cutLineage(pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst")))
    // A clean corpus is a valid input: zero pairs → zero clusters (the
    // seed aggregation would otherwise produce an empty labels frame
    // whose decimal sum is NULL and NPE the convergence compare).
    if (e.isEmpty) {
      val spark = pairs.sparkSession
      import spark.implicits._
      return (Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "cluster_id", "cluster_size"), 0)
    }
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (not persist): iterative self-reference doubles the
    // logical plan every round — the lineage must be CUT, not just cached.
    // On a real cluster use reliable checkpoints (setCheckpointDir) so a
    // lost executor can't kill a multi-hour job.
    // Seed with min(id, neighbors) directly — for the clique-like
    // components near-dup graphs produce, that alone is often converged.
    var labels = cutLineageLazy(edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("label")))
    // labels only ever decrease, so sum(label) is strictly monotone and
    // equality means convergence — no per-round join against the old
    // labels just to count changes
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      val next = cutLineageLazy(labels.union(prop)
        .groupBy("id").agg(min("label").as("label")))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      round += 1
    }
    edges.unpersist(blocking = false)
    // a silent partial result would split components invisibly — refuse
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters: label propagation did not converge within " +
        s"$maxRounds rounds (graph diameter exceeds the budget); raise " +
        s"maxRounds or use duplicateClustersStar (O(log n) rounds)")
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    (labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size")), round)
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the planet-scale path `duplicateClusters`
    * documents: O(log n) rounds regardless of component DIAMETER, where
    * min-label propagation needs O(diameter) rounds and dies on chain-
    * shaped components (e.g. containment chains A⊂B⊂C⊂...). Same
    * output contract as duplicateClusters: (doc_id, cluster_id =
    * component min, cluster_size), only ids present in `pairs`.
    *
    * Each round: large-star points every node's larger neighbors at the
    * neighborhood minimum; small-star re-roots each node's smaller
    * neighbors (and itself) at their minimum. Both are one groupBy-min +
    * one join, shuffling on node id; edges stay (child > parent) after
    * round one, so the edge count is bounded by the node count.
    * Convergence = the edge SET is stable across a round, checked by an
    * order-independent content checksum: (count, Σ xxhash64(u,v) as
    * decimal). A plain (Σu, Σv) triple can collide on distinct edge
    * sets ({(3,1),(4,2)} vs {(4,1),(3,2)}); hashing each edge before
    * summing makes such a collision require equal multiset hash sums —
    * vanishing probability — while staying one cheap aggregate (no
    * extra except() join per round). */
  def duplicateClustersStar(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50): DataFrame =
    duplicateClustersStarWithRounds(pairs, idA, idB, maxRounds)._1

  /** Survivor selection by QUALITY, not id: each near-dup cluster keeps
    * its best member — max quality score, ties to the smallest id — the
    * canonicalization real curation wants ([[duplicateClusters]]' min-id
    * cluster label is a stable NAME, but a crawl keeps the FULLEST copy
    * of a page, the highest-quality variant of a doc). Returns one row
    * per multi-member cluster:
    * `(cluster_id, n_members, kept_doc_id, kept_quality)`.
    *
    * Determinism contract: the argmax rides a packed BIGINT
    * `quality·2³² + (2³²−1 − id)` so the keep decision is ONE primitive
    * integer `max` in any engine — no struct-ordering semantics, no
    * float tie. Requires `0 ≤ id < 2³²` and `0 ≤ quality < 2³¹`
    * (enforced in the row path).
    *
    * Scale shape: clusters from [[duplicateClusters]] (component-bounded
    * iterative joins), ONE id-keyed join against the quality frame, one
    * cluster-keyed aggregate with map-side partials — nothing
    * corpus-sized past the join. */
  def qualitySurvivors(
      pairs: DataFrame,
      quality: DataFrame,
      idCol: String,
      qualityCol: String): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val guard = when(
      col(idCol) < 0L || col(idCol) > 4294967295L ||
        col(qualityCol) < 0L || col(qualityCol) > 2147483647L,
      raise_error(concat(lit("qualitySurvivors: id/quality outside the " +
        "packable range for doc "), col(idCol))))
    val packed = quality.select(col(idCol).cast("long").as("doc_id"),
      (coalesce(guard.cast("long"), lit(0L)) +
        col(qualityCol).cast("long") * 4294967296L +
        (lit(4294967295L) - col(idCol).cast("long"))).as("__k"))
    clusters.join(packed, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max(col("__k")).as("__m"))
      .select(col("cluster_id"), col("n_members"),
        (lit(4294967295L) - pmod(col("__m"), lit(4294967296L)))
          .as("kept_doc_id"),
        expr("__m div 4294967296").as("kept_quality"))
      .orderBy("cluster_id")
  }

  /** [[duplicateClustersStar]] plus the number of contraction rounds —
    * specs/stress pin the O(log n) bound with it (a path graph of
    * diameter d must converge in ~log2(d) rounds, not d). */
  private[graft] def duplicateClustersStarWithRounds(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50): (DataFrame, Int) = {
    val e0 = cutLineage(pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .filter(col("u") =!= col("v")))
    if (e0.isEmpty) {
      val spark = pairs.sparkSession
      import spark.implicits._
      return (Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "cluster_id", "cluster_size"), 0)
    }

    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(first(col("u")), min(col("v"))).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .dropDuplicates("u", "v")
    }

    def smallStar(edges: DataFrame): DataFrame = {
      // after largeStar every edge is (child u, parent v) with u > v.
      // No dedup here: each input edge emits at most one row (+one per
      // node from `mins`), so the output is bounded by edges + nodes
      // with or without it — duplicates cost one bounded-multiplicity
      // round-trip and largeStar's own dropDuplicates renormalizes next
      // round, which is cheaper than an extra (u,v) shuffle every round.
      // At the fixpoint every node carries exactly one (node, min) row,
      // so the multiset checksum still detects convergence exactly.
      val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
      val e = edges.join(mins, "u")
      e.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
    }

    def checksum(edges: DataFrame): (Long, java.math.BigDecimal) = {
      val r = edges.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var edges = cutLineageLazy(smallStar(largeStar(e0)))
    var prev = checksum(edges)
    var round = 1
    var converged = false
    while (!converged && round < maxRounds) {
      val next = cutLineageLazy(smallStar(largeStar(edges)))
      val s = checksum(next)
      converged = s._1 == prev._1 && s._2.compareTo(prev._2) == 0
      prev = s
      edges = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClustersStar: contraction did not converge within " +
        s"$maxRounds rounds")

    // labels feeds both the size aggregate and the membership join —
    // the |2E| union + label aggregate computes twice. A cutLocal was
    // MEASURED SLOWER at sf0.1 across the cluster consumers (r17 A/B,
    // run3: dq31 2.29 → 2.55, dq10 1.68 → 2.14): edges is already a
    // checkpoint scan, so the recompute is one cheap agg while the
    // cut adds a materialization job per query. Left uncut.
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    (labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size")), round)
  }

  /** The ENGINE-PORTABLE MinHash signature pass shared by the audit
    * family ([[lshRecallAudit]], [[lshParameterSweep]]) and the
    * incremental near-dup stream: per shingle, x = first 8 md5 hex
    * digits mod p (p = 2³¹−1); hash i is (aᵢ·x + bᵢ) mod p with
    * aᵢ = (2i+1)·1597334677 mod p, bᵢ = (40503·i + 7) mod p — all
    * products below 2⁶², exact in any BIGINT, so a SQL oracle replays
    * the signatures bit-for-bit. Since r17 the whole per-doc pass runs
    * as ONE native kernel ([[graft.functions.TextKernelExpressions
    * .PortableMinHash]], spec-pinned ≡ the composed HOF chain): the
    * HOF form paid an interpreted lambda per (shingle, hash), an md5
    * hex round-trip per shingle, and a lineage-cut materialization
    * whose only job was stopping CollapseProject from re-inlining the
    * md5 into the k-hash lambda. Returns `(id, sig)` with `sig` the
    * length-`numHashes` signature array. */
  private[operators] def portableSigs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64, "numHashes in [1, 64]")
    Spread(df, col(idCol))
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), graft.functions.TextKernelExpressions
        .portable_minhash(col("sh"), numHashes).as("sig"))
  }

  /** Explode a [[portableSigs]] frame into `(id, band, band_key)`
    * rows — band b is the comma-joined slice of `r` signature values
    * starting at position b·r. */
  private[operators] def portableBandKeys(
      sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", transform(slice(col("sig"), b * r + 1, lit(r)),
          v => v.cast("string"))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

  /** LSH recall/precision audit — the EVALUATION harness for the dedup
    * family (sq16/sq17 grade ANN recall; this grades the near-dup
    * pipeline itself): run banded MinHash-LSH candidate generation at
    * the AUDITED parameters (typically weaker than production — fewer
    * hashes/bands, where the bucketing genuinely misses pairs), compare
    * against the exact similarity join as ground truth, and report
    *
    *   recall    = |candidates ∩ truth| / |truth|,
    *   precision = |candidates ∩ truth| / |candidates|.
    *
    * This is how band/hash counts get CHOSEN before a 100 TB run: sweep
    * parameters on a sample, read the recall/cost curve, then ship the
    * cheapest setting above the recall floor.
    *
    * The signatures here are ENGINE-PORTABLE on purpose (the audit is
    * replayable anywhere): per shingle, x = first 8 md5 hex digits mod
    * p (p = 2³¹−1), and hash i is the affine map
    * (aᵢ·x + bᵢ) mod p with aᵢ = (2i+1)·1597334677 mod p,
    * bᵢ = (40503·i + 7) mod p — all products below 2⁶², exact in any
    * BIGINT. (Production candidate generation keeps the fast xxhash64
    * kernel; portability only matters for the audit's cross-engine
    * contract.)
    *
    * Scale shape: signatures are one projection pass (k array-min
    * folds per doc); candidates are the same thin (doc, band)
    * bucket-join as [[minhashLshPairs]]; truth is the exact PPJoin
    * [[ngramJaccardPairs]]; the readout is three 1-row aggregates.
    * Returns ONE row
    * `(n_true, n_cand, n_hit, recall, precision)`. */
  def lshRecallAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val banded = portableBandKeys(
      portableSigs(df, idCol, textCol, shingleN, numHashes), bands, r)
    val cand = bucketPairs(banded, Seq("band", "band_key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .transform(Lineage.cutLocal)
    val truth = Lineage.cutLocal(
      ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
        .select("id_a", "id_b"))
    val hits = cand.join(truth, Seq("id_a", "id_b"))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0L, round(
          col("n_hit").cast("double") / col("n_true").cast("double"), 6))
          .as("recall"),
        when(col("n_cand") > 0L, round(
          col("n_hit").cast("double") / col("n_cand").cast("double"), 6))
          .as("precision"))
  }

  /** LSH parameter SWEEP — [[lshRecallAudit]] run over a grid of
    * (numHashes, bands) settings in one job: every config's recall and
    * precision against the SAME exact-join truth, one row per config —
    * the actual tuning curve ("8×2 gives 0.98 recall at 6× candidate
    * cost; 8×4 gives 0.999 at 30×") that picks production parameters
    * before a 100 TB run.
    *
    * All configs draw from ONE hash family (config k uses hashes
    * 0..k−1) and ONE materialized signature pass at max(k). Candidate
    * generation also runs ONCE, not once per config: a band of r rows
    * matching means every aligned sub-band matches, so every config's
    * candidate set is a subset of the pairs that match at least one
    * ATOMIC band (r = gcd of the configs' row counts, over all max(k)
    * positions). The sweep explodes/self-joins that atomic banding
    * once, rejoins the two signatures per surviving pair, and reads
    * every config off a per-atom equality mask in ONE conditional
    * aggregate — instead of re-exploding and re-self-joining per
    * config. Truth (the exact PPJoin) is also computed once. Returns
    * `(num_hashes, bands, n_true, n_cand, n_hit, recall, precision)`
    * ordered by (num_hashes, bands). */
  def lshParameterSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      configs: Seq[(Int, Int)] = Seq((4, 2), (8, 2), (8, 4), (16, 4)),
      threshold: Double = 0.8): DataFrame = {
    require(configs.nonEmpty, "need at least one (numHashes, bands) config")
    configs.foreach { case (k, b) =>
      require(k >= 1 && k <= 64 && b >= 1 && k % b == 0,
        s"config ($k, $b): bands must divide numHashes, numHashes <= 64")
    }
    val maxK = configs.map(_._1).max
    val sigAll = Lineage.cutLocal(
      portableSigs(df, idCol, textCol, shingleN, maxK))
    val truth = Lineage.cutLocal(
      ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
        .select("id_a", "id_b"))
    // atomic banding: r = gcd of all configs' rows-per-band, so every
    // config band is a run of consecutive atoms and config membership
    // is a pure mask predicate over the atom-equality vector
    val atomR = configs.map { case (k, b) => k / b }
      .reduce((a, b) => BigInt(a).gcd(BigInt(b)).toInt)
    val nAtoms = maxK / atomR
    val atomBanded = portableBandKeys(sigAll, nAtoms, atomR)
    val candSuper = Lineage.cutLocal(
      bucketPairs(atomBanded, Seq("band", "band_key"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b"))
    // rejoin both signatures (pair frame is candidate-sized, tiny next
    // to the corpus) and mark truth membership once
    val marked = candSuper
      .join(sigAll.select(col("id").as("id_a"), col("sig").as("__sa")),
        Seq("id_a"))
      .join(sigAll.select(col("id").as("id_b"), col("sig").as("__sb")),
        Seq("id_b"))
      .withColumn("__mask",
        transform(sequence(lit(0), lit(nAtoms - 1)), bb =>
          slice(col("__sa"), bb * atomR + 1, lit(atomR)) ===
            slice(col("__sb"), bb * atomR + 1, lit(atomR))))
      .join(truth.withColumn("__t", lit(1L)), Seq("id_a", "id_b"), "left")
    def isCand(k: Int, b: Int): Column = {
      val perBand = (k / b) / atomR
      (0 until b).map { band =>
        (0 until perBand).map(a =>
          element_at(col("__mask"), band * perBand + a + 1))
          .reduce(_ && _)
      }.reduce(_ || _)
    }
    val aggs = configs.flatMap { case (k, b) =>
      Seq(
        coalesce(sum(when(isCand(k, b), 1L).otherwise(0L)), lit(0L))
          .as(s"__c_${k}_$b"),
        coalesce(sum(when(isCand(k, b) && col("__t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as(s"__h_${k}_$b"))
    }
    val counts = Lineage.cutLocal(marked.agg(aggs.head, aggs.tail: _*))
    val rows = configs.map { case (k, b) =>
      counts.select(lit(k).as("num_hashes"), lit(b).as("bands"),
        col(s"__c_${k}_$b").as("n_cand"), col(s"__h_${k}_$b").as("n_hit"))
    }
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("num_hashes"), col("bands"), col("n_true"),
        col("n_cand"), col("n_hit"),
        when(col("n_true") > 0L, round(
          col("n_hit").cast("double") / col("n_true").cast("double"), 6))
          .as("recall"),
        when(col("n_cand") > 0L, round(
          col("n_hit").cast("double") / col("n_cand").cast("double"), 6))
          .as("precision"))
      .orderBy("num_hashes", "bands")
  }

  /** 64-bit SimHash from whitespace tokens: per-bit vote of each token's
    * xxhash64 (seed 42), bit set iff the vote is positive. Native kernel
    * (TextKernelExpressions.SimHash) — one compiled pass per document. */
  def simhash64(text: Column): Column =
    graft.functions.TextKernelExpressions.simhash(text)

  /** Engine-portable SimHash signatures: per-token 64-bit hash = the
    * first 16 hex chars of md5(lower token), carried as two unsigned
    * 32-bit halves in longs (hi, lo) so no step ever overflows signed
    * 64-bit — which lets a DuckDB oracle replay the signature exactly
    * (xxhash64 of the fast kernel has no SQL twin; md5 does). Same
    * vote semantics as the kernel: per-bit ±1 across token occurrences,
    * bit set iff the vote is positive. */
  def simhashMd5Sigs(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0)).as("tok"))
    val hashed = toks.select(col("id"),
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long").as("lo"))
    def bit(c: Column, j: Int): Column =
      shiftright(c, j).bitwiseAND(lit(1L))
    val aggs =
      (0 until 32).map(j => sum(bit(col("lo"), j) * 2 - 1).as(s"vl$j")) ++
      (0 until 32).map(j => sum(bit(col("hi"), j) * 2 - 1).as(s"vh$j"))
    val votes = hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
    def assemble(prefix: String): Column =
      (0 until 32).map(j =>
        when(col(s"$prefix$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    votes.select(col("id"),
      assemble("vh").as("sig_hi"), assemble("vl").as("sig_lo"))
  }

  /** Near-dup pairs over the md5 SimHash signatures — the same
    * pigeonhole banding as [[simhashPairs]] on the (hi, lo) form.
    * Fully DuckDB-oracled in the gate (dq4); the xxhash64 kernel path
    * stays the fast default, pinned by the DedupSimilaritySpec
    * differential. */
  def simhashPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucketInMemory: Int = 10000): DataFrame = {
    val sigs = simhashMd5Sigs(df, idCol, textCol)
    val banded = sigs.select(col("id"), col("sig_hi"), col("sig_lo"),
      posexplode(array(
        col("sig_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("sig_lo"), 16).bitwiseAND(lit(0xffffL)),
        col("sig_hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("sig_hi"), 16).bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")
    bucketPairs(banded, Seq("band", "chunk"),
        extraCols = Seq("sig_hi", "sig_lo"),
        maxBucketInMemory = maxBucketInMemory)
      .withColumn("hamming",
        (bit_count(col("a.sig_hi").bitwiseXOR(col("b.sig_hi"))) +
          bit_count(col("a.sig_lo").bitwiseXOR(col("b.sig_lo"))))
          .cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist — see
    * [[hammingPairs64]] for the pigeonhole machinery. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      chunks: Int = 4,
      maxBucketInMemory: Int = 10000): DataFrame =
    hammingPairs64(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sig")),
      "id", "sig", maxDist, chunks, maxBucketInMemory)

  /** Near-dup pairs over ANY precomputed 64-bit signature column
    * (SimHash for text, dHash for images, any locality-preserving
    * fingerprint) by Hamming distance <= maxDist, found by the
    * pigeonhole trick: split the signature into `chunks` bands — any
    * pair within maxDist (< chunks) collides on at least one intact
    * band, so candidate generation is an equi-join on (band, chunk),
    * never a cartesian. */
  def hammingPairs64(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxDist: Int = 3,
      chunks: Int = 4,
      maxBucketInMemory: Int = 10000): DataFrame = {
    require(maxDist < chunks,
      s"pigeonhole needs maxDist < chunks (got $maxDist >= $chunks)")
    val s0 = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val width = 64 / chunks
    val banded = s0.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("sig"), c * width)
          .bitwiseAND(lit((1L << width) - 1)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")

    // one-shuffle in-bucket expansion carrying the signature through the
    // struct so Hamming is computed inline (pairs are cut by distance
    // BEFORE the dedup shuffle)
    bucketPairs(banded, Seq("band", "chunk"), extraCols = Seq("sig"),
        maxBucketInMemory = maxBucketInMemory)
      .withColumn("hamming",
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** C4-style SPAN dedup (Raffel et al. 2020 deduplicate three-sentence
    * spans; here the unit is a fixed `spanWords`-word window, the
    * robust choice for corpora without sentence structure): documents
    * tile into non-overlapping word spans, every span that appeared
    * earlier ANYWHERE in the corpus is dropped, and the survivors
    * reassemble in order. "Earlier" is the total order
    * `(doc id, span index)` — within-doc repeats dedup too, and the
    * keep decision is deterministic, not arrival-order.
    *
    * Returns `(doc_id, n_spans, n_kept, text_dedup)` for every input
    * document (fully-deduplicated docs stay, with `n_kept = 0` and
    * empty text) — the caller decides whether to drop empties.
    *
    * Scale shape: ONE data-sized shuffle, keyed on the span text, for
    * the first-occurrence window (the same shape as exact doc-level
    * dedup, just at span granularity); reassembly shuffles the KEPT
    * spans on the doc id, where each group is bounded by one document.
    * The first-occurrence key packs `(doc_id, span_idx)` into one
    * BIGINT (`doc_id·2²⁰ + idx` — up to 2²⁰ spans/doc, 2⁴³ doc ids) so
    * the min-aggregate is a primitive long min in both engines, no
    * struct comparison semantics to align. */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 5): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    import org.apache.spark.sql.expressions.Window
    val spans = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .withColumn("span_idx", expr(s"__pos div $spanWords"))
      .groupBy("doc_id", "span_idx")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(__pos, __w)))," +
          " x -> x.__w)"), " ").as("span"))
      .withColumn("__ord",
        // the documented packing bounds are ENFORCED: overflowing them
        // would silently corrupt the first-occurrence order, so a doc
        // beyond 2^20 spans (or an id beyond 2^43 / negative) fails
        // the job loudly instead
        when(col("span_idx") < lit(1048576L) &&
          col("doc_id") >= 0 && col("doc_id") < lit(1L << 43),
          col("doc_id") * lit(1048576L) + col("span_idx"))
          .otherwise(raise_error(concat(
            lit("spanDedup packed-key overflow: doc_id="), col("doc_id"),
            lit(" span_idx="), col("span_idx")))))
    val kept = spans
      .withColumn("__first",
        min(col("__ord")).over(Window.partitionBy("span")))
      .filter(col("__first") === col("__ord"))
    val reassembled = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(struct(span_idx, span)))," +
            " x -> x.span)"), " ").as("text_dedup"))
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"(size(split($textCol, ' ')) + ${spanWords - 1})" +
          s" div $spanWords").as("n_spans"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Edit-distance-≤1 self-join via the SymSpell deletion
    * neighborhood (Garbe 2012) — the record-linkage primitive for
    * STRUCTURED keys (names, codes, SKUs): two strings are within one
    * edit (substitution, insertion, deletion) iff they share a member
    * of `{s} ∪ {s minus one char}`, so each row explodes into
    * `len + 1` deletion variants, candidates meet in ONE equi-join on
    * the variant, and exact `levenshtein` verifies the survivors —
    * never a quadratic block join, never a cross join. Returns
    * `(id_a, id_b, dist)` with `id_a < id_b`, dist ∈ {0, 1}.
    *
    * Completeness: for lev ≤ 1 the deletion index is exact —
    * substitution at i ⇒ both rows share the delete-at-i variant;
    * deletion ⇒ the shorter string IS a variant of the longer and its
    * own identity variant. (Distance 2 would need depth-2 deletion
    * neighborhoods — out of contract, `maxDist` is pinned at 1.)
    *
    * Scale shape: one explode (len+1 per row), one variant-keyed
    * equi-join whose group sizes are alphabet-bounded (no hub
    * variants), a candidate `distinct`, and a codegen `levenshtein`
    * on candidates only. Feed the pairs to [[duplicateClusters]] /
    * [[duplicateClustersStar]] for entity resolution when components
    * are known to be small. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      strCol: String): DataFrame = {
    // the empty string has no deletions — and Spark's sequence(1, 0)
    // yields [1, 0] (default step -1), so the empty case must branch
    val vars = Spread(df, col(idCol))
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), explode(expr(
        "if(length(s) = 0, array(s), " +
          "array_union(transform(sequence(1, length(s)), i -> " +
          "concat(substring(s, 1, i - 1), " +
          "substring(s, i + 1, length(s)))), array(s)))")).as("v"))
    // verify BEFORE deduplicating: levenshtein is a cheap codegen
    // kernel on the narrow candidate stream, and the distinct then
    // shuffles three integer columns instead of two id+string pairs
    // (duplicate candidates only arise from equal strings sharing
    // every variant — rare)
    vars.select(col("id").as("id_a"), col("s").as("s_a"), col("v"))
      .join(vars.select(col("id").as("id_b"), col("s").as("s_b"),
        col("v")), Seq("v"))
      .filter(col("id_a") < col("id_b"))
      // the THRESHOLD levenshtein runs the banded early-exit DP
      // (returns -1 above the bound) — ~2x the plain kernel on the
      // million-candidate stream
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), 1).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** LSH parameter planner — the design dial behind
    * [[minhashLshPairs]]'s (bands, rows) choice, evaluated instead of
    * folklore'd: for every factorization b·r = `nPerm`, the banding
    * collision curve P(s) = 1 − (1 − s^r)^b is integrated on a fixed
    * `gridSteps`-midpoint grid against the target `threshold` t,
    * reporting the curve's own threshold s* = (1/b)^(1/r), the
    * false-positive area (∫₀ᵗ P — pairs BELOW the target that still
    * collide and cost verification), the false-negative area
    * (∫ₜ¹ (1−P) — true pairs the index misses), and their sum — the
    * number a pipeline minimizes when it picks the banding. More
    * bands ⇒ s* slides left (recall up, candidate cost up); the table
    * makes the trade explicit.
    *
    * Determinism contract: every power chains through 10dp rounds
    * (x₁ = round(s^r, 10), x₂ = round((1−x₁)^b, 10)) so both engines
    * feed pow bit-identical inputs and the ≤1-ulp libm/JVM pow
    * divergence is quenched at each step; per-cell areas round to
    * 12dp and DECIMAL-sum (grid order differs); readouts pin at 6dp.
    *
    * Scale shape: |divisors(nPerm)| × gridSteps rows — dimension-
    * sized, broadcast-everything. Returns `(bands, rows_per_band,
    * s_star, fp_area, fn_area, total_err)` ordered by bands. */
  def lshPlanner(
      spark: org.apache.spark.sql.SparkSession,
      nPerm: Int,
      threshold: Double,
      gridSteps: Int = 100): DataFrame = {
    require(nPerm >= 1, "need at least one permutation")
    require(threshold > 0.0 && threshold < 1.0, "threshold in (0, 1)")
    require(gridSteps >= 10, "grid too coarse to mean anything")
    import spark.implicits._
    val pairs = (1 to nPerm).filter(nPerm % _ == 0)
      .map(b => (b, nPerm / b)).toDF("bands", "rows_per_band")
    val stepsD = gridSteps.toDouble
    val grid = broadcast(spark.range(gridSteps.toLong)
      .select(((col("id") + 0.5) / stepsD).as("__s")))
    val x1 = round(pow(col("__s"), col("rows_per_band")), 10)
    val x2 = round(pow(lit(1.0) - x1, col("bands")), 10)
    val zero = lit(0).cast("decimal(28,12)")
    pairs.crossJoin(grid)
      .withColumn("__x2", x2)
      .withColumn("__fp", when(col("__s") < threshold,
        round((lit(1.0) - col("__x2")) / stepsD, 12)
          .cast("decimal(28,12)")).otherwise(zero))
      .withColumn("__fn", when(col("__s") >= threshold,
        round(col("__x2") / stepsD, 12).cast("decimal(28,12)"))
        .otherwise(zero))
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("__fp")).as("__fpa"), sum(col("__fn")).as("__fna"))
      .select(col("bands"), col("rows_per_band"),
        graft.operators.Readout.pin(
          pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")),
          6).as("s_star"),
        graft.operators.Readout.pin(col("__fpa").cast("double"), 6)
          .as("fp_area"),
        graft.operators.Readout.pin(col("__fna").cast("double"), 6)
          .as("fn_area"),
        graft.operators.Readout.pin(
          (col("__fpa") + col("__fna")).cast("double"), 6)
          .as("total_err"))
      .orderBy("bands")
  }

  /** Cross-source duplication MATRIX — which sources copy from which:
    * the provenance audit behind any mixture decision (a source pair
    * with heavy near-dup overlap double-counts its mass in the
    * mixture, and the smaller side is usually the scrape). Exact
    * near-dup pairs from [[ngramJaccardPairs]] (the verified-exact
    * join every dq-gate oracles against), each pair attributed to its
    * UNDIRECTED source pair (least/greatest normalization), with the
    * pair count and the mean verified Jaccard per cell. The diagonal
    * (same-source pairs) stays in the matrix — within-source
    * duplication is its own finding.
    *
    * Determinism contract: jaccards are the 4dp-verified values;
    * the mean is a decimal(18,4) sum over them divided once, pinned
    * at 6dp.
    *
    * Scale shape: the pair frame is the near-dup set (small by
    * definition of the threshold); two id-equi-joins against the
    * (id, source) projection and one |source-pairs|-ary aggregate.
    * Returns `(source_a, source_b, n_pairs, mean_jaccard)`. */
  def crossSourceDupMatrix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
    val src = Lineage.cutLocal(
      df.select(col(idCol).as("__id"), col(srcCol).as("__src")))
    pairs
      .join(src.select(col("__id").as("id_a"), col("__src").as("__sa")),
        "id_a")
      .join(src.select(col("__id").as("id_b"), col("__src").as("__sb")),
        "id_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(18,4)")).as("__sj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        Readout.pin(col("__sj").cast("double") / col("n_pairs"), 6)
          .as("mean_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Dedup savings report — the capacity-planning readout behind the
    * whole dedup family: if near-dup clusters (LSH candidates,
    * exact-verified, star-contracted components) keep ONE canonical
    * doc each (smallest id), how many documents and TOKENS does each
    * source actually reclaim? The number that justifies (or kills)
    * running dedup at all, and the per-source skew shows WHERE the
    * duplication lives. Singletons are their own cluster; the keeper
    * is the cluster's smallest id, so the policy is deterministic and
    * the report exact.
    *
    * Scale shape: the cluster frame is the near-dup membership (small
    * by the threshold's definition) left-joined onto the (id, source,
    * token-count) projection; one keeper aggregate on the cluster key;
    * one |sources|-ary roll-up. Returns `(source, n_docs, n_tokens,
    * n_dropped, tokens_dropped, savings_pct)`. */
  def dedupSavings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleN, numHashes,
      bands, threshold)
    val clusters = duplicateClustersStar(pairs)
      .select(col("doc_id").as("__id"), col("cluster_id"))
    val docs = df.select(col(idCol).as("__id"), col(srcCol).as("source"),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
        .as("__nt"))
    // withC feeds both the keeper aggregate and the final roll-up
    // join — the subtree computes twice, like sq22's union arms did.
    // A cutLocal here was MEASURED SLOWER at sf0.1 (r17 A/B, run3:
    // dq30 2.73 → 3.21 s): unlike sq22's tiny support-filtered joint,
    // withC is corpus-sized, so materializing it costs more than the
    // scan+kernel+join recompute. Left uncut deliberately.
    val withC = docs.join(clusters, Seq("__id"), "left")
      .withColumn("__cid", coalesce(col("cluster_id"), col("__id")))
    val keepers = withC.groupBy("__cid").agg(min(col("__id")).as("__keep"))
    withC.join(keepers, "__cid")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").as("n_tokens"),
        count(when(col("__id") =!= col("__keep"), 1L)).as("n_dropped"),
        sum(when(col("__id") =!= col("__keep"), col("__nt"))
          .otherwise(0L)).as("tokens_dropped"))
      .withColumn("savings_pct", when(col("n_tokens") > 0L, Readout.pin(
        col("tokens_dropped").cast("double") * 100.0 /
          col("n_tokens").cast("double"), 4)))
      .orderBy("source")
  }

  /** Cluster-aware train/test split — the FIX for what
    * [[graft.Queries]]' dq9 leakage gate detects: a per-document hash
    * split puts near-duplicates on both sides of the boundary
    * (train/test contamination, the eval-inflation bug), so the split
    * unit here is the near-dup CLUSTER — every document in a
    * component (star-contracted, singletons their own cluster) gets
    * the cluster's deterministic hash label, and cross-split
    * near-dup pairs are ZERO by construction. The report COMPUTES
    * that count anyway (trust, then verify in the same query) beside
    * each split's document and token mass.
    *
    * Scale shape: dq10's cluster machinery + one hash label + one
    * |splits|-ary roll-up; the cross-pair check joins the (small)
    * verified pair set against the labels twice. Returns
    * `(split, n_docs, n_tokens, cross_dup_pairs)`. */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      salt: String,
      trainPct: Int,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct in (0, 100)")
    val pairs = Lineage.cutLocal(minhashLshPairs(df, idCol, textCol,
      shingleN, numHashes, bands, threshold))
    val clusters = duplicateClustersStar(pairs)
      .select(col("doc_id").as("__id"), col("cluster_id"))
    val labeled = Lineage.cutLocal(df
      .select(col(idCol).as("__id"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
          .as("__nt"))
      .join(clusters, Seq("__id"), "left")
      .withColumn("__cid", coalesce(col("cluster_id"), col("__id")))
      .withColumn("split",
        when(graft.operators.Sampling.hashBucket(
          col("__cid"), salt, 100) < trainPct, "train")
          .otherwise("test")))
    val cross = pairs
      .join(labeled.select(col("__id").as("id_a"),
        col("split").as("__sa")), "id_a")
      .join(labeled.select(col("__id").as("id_b"),
        col("split").as("__sb")), "id_b")
      .filter(col("__sa") =!= col("__sb"))
      .agg(count(lit(1)).as("cross_dup_pairs"))
    labeled.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
      .crossJoin(broadcast(cross))
      .orderBy("split")
  }
}
