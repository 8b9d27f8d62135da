package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact; the query side is small and
  *    broadcast, so the plan is a broadcast nested-loop join + per-query
  *    top-k window — linear in corpus size, embarrassingly parallel,
  *    and the right baseline at any scale;
  *  - IVF (inverted-file) ANN: corpus bucketed by nearest centroid at
  *    write time; a query probes only its `nProbe` nearest cells,
  *    cutting scanned vectors by ~K/nProbe. Centroids here are seeded
  *    deterministically (first K vectors by id) — at production scale
  *    they would come from a k-means fit, but the bucketing/probing
  *    plumbing is identical.
  *
  * Dot products use `zip_with` + `aggregate` over doubles — built-in,
  * codegen'd, no UDF. Cosines are rounded to 4 dp BEFORE ranking with an
  * id tie-break, so rankings are reproducible across engines and runs.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double.
    * Uses the native codegen expressions (graft.functions
    * .VectorExpressions) — a tight primitive loop instead of per-pair
    * array materialization; same left-to-right double accumulation as
    * the composable form, so oracle parity is unchanged. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.float_cosine(a, b)

  /** Exact top-k neighbors for each query vector. `queries` should be
    * small (it is broadcast); `corpus` can be arbitrarily large. Self
    * matches are excluded. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    // norms computed once per side, not per pair
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      float_norm(col(vecCol)).as("qn")))
    val c = Spread(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        float_norm(col(vecCol)).as("cn"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        graft.operators.Readout.pin(
          float_dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Top-k with symmetric int8-quantized vectors: the inner loop is an
    * integer dot product (4× less memory traffic than float32, and the
    * shape that hardware-accelerates on a real cluster); the score
    * rescales by both sides' quantization scales and exact float norms:
    * qcosine = int_dot(qa, qb) / (sa * sb * ||a|| * ||b||).
    *
    * Quantization is deterministic (floor(x*scale + 0.5)), so results
    * are exactly reproducible and DuckDB-oracle-able — the approximation
    * vs exact cosine is bounded by the int8 grid, pinned in spec. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_maxabs, float_norm, int8_quantize, int_dot}
    def side(df: DataFrame, idAs: String, pre: String): DataFrame =
      df.select(
        col(idCol).as(idAs),
        int8_quantize(col(vecCol)).as(s"${pre}qv"),
        when(float_maxabs(col(vecCol)) > 0,
          lit(127.0) / float_maxabs(col(vecCol))).otherwise(1.0)
          .as(s"${pre}sc"),
        float_norm(col(vecCol)).as(s"${pre}n"))
    val q = broadcast(side(queries, "query_id", "q"))
    val c = side(corpus, "neighbor_id", "c")
    val score = Readout.pin(
      int_dot(col("qqv"), col("cqv")) /
        (col("qsc") * col("csc") * col("qn") * col("cn")), 4)
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcosine").desc, col("neighbor_id"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "qcosine", "rank")
  }

  /** All pairs with cosine >= threshold, via signed-random-projection
    * LSH candidate generation + exact-cosine verification.
    *
    * Candidate generation: `bands` bands of `rowsPerBand` hyperplane
    * sign bits (Goemans–Williamson: P[sign match] = 1 - θ/π); a pair
    * collides when some band's bits all match, and candidates come from
    * an equi-join on (band, key) — never a cartesian. Verification
    * computes the exact cosine on the surviving pairs, so precision
    * is 1; recall is controlled by the band count.
    *
    * Bands auto-derive from (threshold, rowsPerBand, missProb): with
    * p = 1 - arccos(t)/π, a pair AT the threshold is missed with
    * probability (1-p^r)^b <= missProb; pairs above t are exponentially
    * safer. r should sit near log2(corpus/bucket-target): more bits
    * sharpen buckets but multiply the bands needed for the same recall.
    *
    * Threshold regime matters. LSH's discrimination is the gap between
    * p(t) and p(background): at t=0.9 vs background cos<=0.5, r=16
    * needs only ~138 bands for 1e-5 miss and background pairs collide
    * with ~0.6% probability — the intended regime for semantic dedup
    * (near-identical embeddings). At t=0.45 over a corpus whose
    * background mass sits at cos 0.3-0.4, NO (r, b) separates them
    * with near-1 recall: p(0.45)/p(0.30) = 0.649/0.597, so driving
    * sub-threshold collisions to 0.1 needs r≈53 and b≈1e11 — the
    * candidate set degenerates toward all-pairs (measured: ~50% of all
    * pairs at sf0.1). For exact low-threshold sweeps use
    * [[nearDupPairsBrute]]; it is also the differential baseline in
    * DedupSimilaritySpec. */
  def nearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      rowsPerBand: Int = 11,
      missProb: Double = 1e-5,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorExpressions.{float_dot, float_norm, float_rhp_bands}
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    val first = corpus.select(size(col(vecCol))).limit(1).collect()
    if (first.isEmpty)
      return corpus.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    val dim = first.head.getInt(0)

    val p1 = 1.0 - math.acos(threshold) / math.Pi
    val bands = math.ceil(
      math.log(1.0 / missProb) / math.pow(p1, rowsPerBand)).toInt
    // deterministic Gaussian hyperplanes (java.util.Random is
    // algorithmically pinned, so signatures replay across JVMs)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * rowsPerBand * dim)(rnd.nextGaussian().toFloat)

    // the signature projection is compute-bound (b·r·dim flops per row):
    // a small parquet corpus arrives as a handful of input splits, which
    // would serialize the kernel on a few threads — rebalance first.
    // (A large corpus already has >= defaultParallelism splits and skips
    // the extra shuffle.)
    val spark = corpus.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val src = if (corpus.rdd.getNumPartitions < target)
      corpus.repartition(target) else corpus

    val sigs = src.select(col(idCol).as("id"), col(vecCol).as("v"),
      float_norm(col(vecCol)).as("nrm"),
      float_rhp_bands(col(vecCol), planes, dim, bands, rowsPerBand).as("keys"))
      .transform(Lineage.cutLocal)

    // thin (id, band, key) rows into the bucket join — vectors rejoin
    // only for surviving candidates
    val banded = sigs.select(col("id"), posexplode(col("keys")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")

    val cand = Dedup.bucketPairs(banded, Seq("band", "key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    cand
      .join(sigs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("cosine",
        Readout.pin(
          float_dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** All pairs with cosine >= threshold by brute force — O(n²), exact,
    * oracle-able; the differential baseline for [[nearDupPairs]] and
    * the right plan only when the corpus is small. */
  def nearDupPairsBrute(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      float_norm(col(vecCol)).as("na"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      float_norm(col(vecCol)).as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        Readout.pin(
          float_dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** IVF index with k-means-fitted centroids (spark.ml KMeans, fixed
    * seed): returns (vector rows with cell_id, centroid table).
    *
    * Metric consistency: probing ranks cells by COSINE to the centroid,
    * so the fit runs on L2-NORMALIZED vectors (euclidean k-means on the
    * unit sphere = spherical k-means, monotone in cosine) and the
    * assignment uses the SAME cosine argmax as the probe. (On an
    * already-unit-norm corpus the earlier euclidean `model.transform`
    * assignment coincides almost everywhere, with the same recall —
    * but on unnormalized corpora the two metrics partition differently
    * and the probe would look in the wrong cell.)
    *
    * Recall regime (pinned by the DedupSimilaritySpec IVF recall
    * tests): IVF recall@k is the probability the true neighbors' cells
    * are probed. For neighbors from near-dup FAMILIES (cosine ≥0.9 —
    * the semantic-dedup / retrieval regime ANN exists for) the family
    * shares a cell and recall is ~1 at any nProbe. For BACKGROUND neighbors (a uniform
    * sphere's top-k sits at cosine ~0.3) no partition beats chance:
    * recall ≈ scanned fraction (nProbe/cells), information-
    * theoretically — measured 0.56-0.64 at 25-50% scan, 0.88-0.90 at
    * 75%. Pick (cells, nProbe) from the target scan fraction;
    * DedupSimilaritySpec pins ≥0.8 at a 25% scan on a structured
    * corpus and ≥0.8 at a 75% scan on the uniform one.
    *
    * The fit is one pass over a sampled/bounded corpus in production;
    * assignment is one map-side projection (inline argmax over K cosine
    * kernels — no crossJoin, no shuffle). */
  def ivfIndexKMeans(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      seed: Long = 42L,
      fitFraction: Double = 1.0): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.feature.Normalizer
    val withVec = corpus.withColumn("__raw",
      array_to_vector(col(vecCol).cast("array<double>")))
    // random init (one job) instead of k-means|| (initSteps distributed
    // sampling rounds), bounded iterations: centroid quality for IVF
    // probing converges long before the default 20. The fit reads a
    // bounded SAMPLE at full parallelism — the earlier coalesce(8)
    // capped the fit job's upstream parallelism to 8 partitions, which
    // throttles every fit pass at scale.
    val fitInput = {
      val base =
        if (fitFraction < 1.0) withVec.sample(withReplacement = false,
          fitFraction, seed)
        else withVec
      new Normalizer().setInputCol("__raw").setOutputCol("__features")
        .setP(2.0).transform(base)
    }
    val model = new KMeans()
      .setK(numCells).setSeed(seed).setFeaturesCol("__features")
      .setPredictionCol("__cell")
      .setInitMode("random").setMaxIter(10)
      .fit(fitInput)
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat))
    }.toSeq
    val indexed = corpus.withColumn("cell_id",
      cosineArgmaxCell(col(vecCol), cents))
    val centroids = corpus.sparkSession.createDataFrame(cents)
      .toDF("cell_id", "centroid")
    (indexed, centroids)
  }

  /** Nearest-centroid cell by cosine — the shared assignment kernel for
    * both IVF variants, and the same metric + rounding + tie-break
    * (highest round(sim,4), lowest cell id) the probe side uses: one
    * compiled argmax per row (no crossJoin, no shuffle, no window)
    * whose generated CODE SIZE is constant in k×dim — the centroid
    * matrix rides as a plan reference, where the previous per-centroid
    * `typedLit` struct-max compiled k×dim-sized Janino sources per
    * Lloyd iteration (sq14's dominant first-run cost). Arithmetic,
    * rounding, and tie-break are bit-identical
    * (differential-pinned in VectorKernelSpec). */
  private[operators] def cosineArgmaxCell(
      vec: Column, centroids: Seq[(Long, Array[Float])]): Column =
    graft.functions.VectorExpressions.cosine_argmax_id(vec, centroids)

  /** [[cosineArgmaxCell]] that also returns the winning similarity:
    * a struct `(sim, cell_id)` — same metric, rounding, tie-break, in
    * ONE centroid pass (two sibling kernels would each rescan all k). */
  private[operators] def cosineArgmaxCellWithSim(
      vec: Column, centroids: Seq[(Long, Array[Float])]): Column =
    graft.functions.VectorExpressions.cosine_argmax_struct(vec, centroids)

  /** ANN top-k through a k-means IVF index. */
  def ivfKMeansTopK(
      indexed: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      float_norm(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy("query_id").orderBy(
      col("csim").desc, col("cell_id"))
    val probes = broadcast(q.crossJoin(broadcast(centroids))
      .withColumn("csim", round(cosine(col("qv"), col("centroid")), 4))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "qn", "cell_id"))

    val wRank = Window.partitionBy("query_id").orderBy(
      col("cosine").desc, col("neighbor_id"))
    probes.join(indexed.withColumnRenamed(idCol, "neighbor_id"), "cell_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Readout.pin(
        float_dot(col("qv"), col(vecCol)) /
          (col("qn") * float_norm(col(vecCol))), 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Assign every corpus vector to its nearest centroid cell.
    * Deterministic seed centroids: the `numCells` lowest-id vectors.
    *
    * The centroid table is tiny by construction, so it is collected to
    * the driver and the assignment is ONE map-side projection — an
    * inline argmax over K cosine kernels per row. No crossJoin, no
    * shuffle, no window: the previous plan (crossJoin x K then
    * row_number over id) shuffled K x corpus rows just to pick a max.
    * Ties resolve to the lowest cell id on equal round(sim, 4), same
    * as the window ordering it replaces. */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int): DataFrame = {
    val seeds = corpus.orderBy(col(idCol)).limit(numCells)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (seeds.isEmpty)
      return corpus.select(col(idCol), col(vecCol),
        lit(null).cast("long").as("cell_id")).limit(0)
    // Spread: the argmax-cell kernel (and every downstream cell-join
    // cosine pass that inherits this frame's partitioning) otherwise
    // runs inside a possibly single-task scan stage (guide §2.5)
    Spread(corpus, col(idCol)).select(col(idCol), col(vecCol),
      cosineArgmaxCell(col(vecCol), seeds.toSeq).as("cell_id"))
  }

  /** Hybrid retrieval: lexical TF-IDF candidate generation over the
    * text corpus, then exact cosine rerank of the candidates against a
    * query vector — the classic two-stage retrieval shape (BM25-ish
    * recall, vector precision) used to mine training data.
    *
    * Scale shape: tokenization filters to the query terms BEFORE any
    * aggregation, so only matching (doc, term) rows exist; the global
    * top-`lexTopK` runs as TakeOrderedAndProject (no full sort); and
    * the rerank joins `embeddings` against a candidate set of
    * `lexTopK` rows — broadcast, never a corpus shuffle. Per-term
    * scores round to 6dp and sum as DECIMAL so the lexical score is
    * summation-order independent (engine-portable).
    *
    * The corpus size for IDF is a lazy 1-row aggregate broadcast into
    * the score projection — constructing the frame launches NO job and
    * the count rides the query's own action (its scan prunes to zero
    * columns, a metadata-only parquet pass). Folding it into the `df_`
    * aggregation instead was considered and rejected: keeping every
    * doc visible through the (doc, token) shuffle needs a null-token
    * row per non-matching doc, i.e. a doc-count-sized shuffle where
    * the current one carries only query-term matches. */
  def hybridSearch(
      docs: DataFrame,
      docId: String,
      textCol: String,
      embeddings: DataFrame,
      vecId: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Float],
      lexTopK: Int = 50,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    require(queryTerms.nonEmpty && queryVec.nonEmpty)
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("__n")))
    val toks = docs.select(col(docId).as("doc_id"),
      explode(graft.functions.TextFunctions.wsTokens(lower(col(textCol))))
        .as("token"))
      .filter(col("token").isin(queryTerms: _*))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val lex = tf.join(broadcast(df_), "token")
      .crossJoin(nRow)
      .withColumn("__term",
        round(col("tf") * log(col("__n") / col("df")), 6)
          .cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(round(sum(col("__term")).cast("double"), 4).as("lex_score"))
      .orderBy(col("lex_score").desc, col("doc_id"))
      .limit(lexTopK)
    val qn = math.sqrt(queryVec.map(x => x.toDouble * x).sum)
    val reranked = broadcast(lex)
      .join(embeddings.select(col(vecId).as("doc_id"), col(vecCol).as("__v")),
        "doc_id")
      .withColumn("cosine", Readout.pin(
        float_dot(col("__v"), typedLit(queryVec)) /
          (float_norm(col("__v")) * lit(qn)), 4))
    val w = Window.orderBy(col("cosine").desc, col("doc_id"))
    reranked
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "lex_score", "cosine", "rank")
  }

  /** Product-quantization ANN (Jégou et al., TPAMI'11) — the
    * compressed-domain scan that completes the ANN family: [[bruteForceTopK]]
    * (exact), [[quantizedTopK]] (int8), [[ivfTopK]] (partition pruning),
    * and THIS (memory compression: dim×4 bytes/vector → m×4-byte codes,
    * 8× here, 32× with byte packing — at 100 TB the difference between
    * an in-memory ANN scan and an I/O-bound one).
    *
    * Deterministic codebook (the [[ivfIndex]] discipline): the
    * `kCodebook` lowest-id vectors seed per-subspace centroids; encoding
    * is a compiled per-row kernel (VectorExpressions.PqEncode, squared-L2
    * argmin per subspace, dimension-order double accumulation — exactly
    * SQL-replayable). ADC scoring: the query's per-(subspace, centroid)
    * dot-product table is DRIVER-computed (m × kCodebook × #queries
    * rows, broadcast), each entry rounded to 6dp DECIMAL so the
    * per-candidate sum is order-independent; `candidates` top approx
    * scores rerank under exact cosine.
    *
    * Scale shape: the corpus is read once to encode (projection), the
    * ADC scan touches only (id, s, c) code rows — never vectors; the one
    * shuffle is the per-query top-candidates window, bounded by
    * #queries × corpus codes. Spark ML's trained alternative stays the
    * quality path; this is the engine-exact one. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      kCodebook: Int = 16,
      candidates: Int = 50,
      k: Int = 5,
      maxQueries: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm, pq_encode}
    val spark = corpus.sparkSession
    val seeds = corpus.orderBy(col(idCol)).limit(kCodebook)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val flat = seeds.flatten.toArray

    val codes = corpus
      .select(col(idCol).as("neighbor_id"),
        posexplode(pq_encode(col(vecCol), flat, m)))
      .select(col("neighbor_id"), col("pos").as("s"), col("col").as("c"))

    // the ADC tables live on the DRIVER (|Q| × m × kCodebook rows), so
    // the query side must be a bounded probe set, not a data-sized
    // frame — enforce the contract BEFORE collecting (limit caps the
    // collect itself), mirroring InMemoryKvStore's explicit record cap.
    // An unbounded caller gets this error, not a driver OOM; corpus-
    // sized all-pairs scoring belongs to the bucketed dedup operators.
    val qRaw = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol)).limit(maxQueries + 1).collect()
    require(qRaw.length <= maxQueries,
      s"pqTopK query side exceeds maxQueries=$maxQueries rows — the " +
        "ADC tables are driver-resident (|queries| × m × kCodebook); " +
        "batch the probe set or raise maxQueries deliberately")
    val qRows = qRaw.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // ADC tables on the driver, same arithmetic the oracle replays:
    // left-to-right double dot over the subspace slice, HALF_UP 6dp
    val adcRows = for {
      (qid, qv) <- qRows.toSeq
      s <- 0 until m
      c <- seeds.indices
    } yield {
      var d = 0.0
      var j = 0
      while (j < sub) {
        d += qv(s * sub + j).toDouble * seeds(c)(s * sub + j).toDouble
        j += 1
      }
      (qid, s, c, new java.math.BigDecimal(d).setScale(6,
        java.math.RoundingMode.HALF_UP))
    }
    import spark.implicits._
    val adc = broadcast(adcRows.toDF("query_id", "s", "c", "qd")
      .select(col("query_id"), col("s"), col("c"),
        col("qd").cast("decimal(18,6)").as("qd")))

    val wCand = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = codes.join(adc, Seq("s", "c"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("qd")).as("approx"))
      .withColumn("__rk", row_number().over(wCand))
      .filter(col("__rk") <= candidates)
      .select("query_id", "neighbor_id")

    val qVecs = broadcast(queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"),
        float_norm(col(vecCol)).as("__qn")))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv")),
        "neighbor_id")
      .join(qVecs, "query_id")
      .withColumn("cosine", Readout.pin(
        float_dot(col("__qv"), col("__nv")) /
          (col("__qn") * float_norm(col("__nv"))), 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Full BM25 ranking (Robertson/Spärck Jones; the Lucene `+1` IDF
    * variant, so scores stay positive even for df > N/2):
    *
    *   score(D,Q) = Σ_t ln((N − df + 0.5)/(df + 0.5) + 1) ·
    *                tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * [[hybridSearch]] uses raw TF-IDF as a recall stage; this is the
    * precision-grade lexical scorer (term saturation via k1, document-
    * length normalization via b) used standalone for retrieval-based
    * data mining.
    *
    * Scale shape: ONE corpus pass computes (doc, dl, term) rows
    * pre-filtered to the query terms — dl rides the same rows, so no
    * second pass or corpus join; df is a query-terms-sized broadcast;
    * N/avgdl is a lazy broadcast 1-row aggregate (the sq6 pattern);
    * top-k is TakeOrderedAndProject. Per-term scores round to 6dp and
    * sum as DECIMAL (order-independent); avgdl rounds to 6dp so the
    * one distributed double mean is pinned on both engines. */
  def bm25Search(
      docs: DataFrame,
      docId: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty)
    val stats = broadcast(docs.select(
        size(graft.functions.TextFunctions.wsTokens(lower(col(textCol))))
          .as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"),
        round(avg(col("__dl")), 6).as("__avgdl")))
    val toks = docs.select(col(docId).as("doc_id"),
        graft.functions.TextFunctions.wsTokens(lower(col(textCol)))
          .as("__tk"))
      .select(col("doc_id"), size(col("__tk")).as("dl"),
        explode(col("__tk")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
    val tf = toks.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "token")
      .crossJoin(stats)
      .withColumn("__term", round(
        log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * (k1 + 1)) /
          (col("tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))),
        6).cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(round(sum(col("__term")).cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * doc, candidates that look LEXICALLY similar (top-`lexTopM` by
    * shared word-shingle count — the confusable surface forms) but sit
    * SEMANTICALLY far (bottom-`k` by embedding cosine among those
    * candidates). Exactly the negatives an embedding model learns the
    * most from.
    *
    * Scale shape: the anchor set is small by nature — its exploded
    * shingle index BROADCASTS, the corpus joins map-side (never
    * shuffled for candidates, same shape as crossContainmentPairs),
    * and both windows partition by anchor over at most `lexTopM` rows
    * each. */
  def hardNegatives(
      docs: DataFrame,
      docId: String,
      textCol: String,
      embeddings: DataFrame,
      vecId: String,
      vecCol: String,
      anchors: DataFrame,
      shingleN: Int = 3,
      lexTopM: Int = 20,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val aSh = broadcast(anchors
      .select(col(docId).as("query_id"),
        explode(Dedup.shingleSet(col(textCol), shingleN)).as("shingle")))
    val cSh = docs.select(col(docId).as("neighbor_id"),
      explode(Dedup.shingleSet(col(textCol), shingleN)).as("shingle"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("shared").desc, col("neighbor_id"))
    val candidates = cSh.join(aSh, "shingle")
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(count(lit(1)).as("shared"))
      .withColumn("__lr", row_number().over(wLex))
      .filter(col("__lr") <= lexTopM)
      .drop("__lr")
    val vec = (side: String) => embeddings.select(
      col(vecId).as(side), col(vecCol).as(s"__v_$side"),
      float_norm(col(vecCol)).as(s"__n_$side"))
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cosine").asc, col("neighbor_id"))
    // BOTH embedding joins keep the small side broadcast: the first
    // joins the candidate list, the second joins its (still tiny)
    // result — without the outer hint Catalyst has no size estimate
    // for the intermediate and could plan a full-corpus SMJ
    broadcast(broadcast(candidates).join(vec("query_id"), "query_id"))
      .join(vec("neighbor_id"), "neighbor_id")
      .withColumn("cosine", Readout.pin(
        float_dot(col("__v_query_id"), col("__v_neighbor_id")) /
          (col("__n_query_id") * col("__n_neighbor_id")), 4))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "shared", "cosine", "rank")
  }

  /** Semantic diversity sampling: partition the corpus into IVF cells
    * (deterministic seed centroids) and keep at most `cap` vectors per
    * cell, chosen by salted content hash — an unbiased, reproducible
    * draw per semantic region. The standard curation move for capping
    * over-represented content clusters (boilerplate regions, scraped
    * mirror families) while keeping coverage of the embedding space.
    * One broadcast-argmax projection + one windowed quota — the same
    * shapes as ivfIndex and Sampling.capPerGroup, shuffling once on
    * cell_id. */
  def diversitySample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      cap: Int,
      salt: String): DataFrame =
    Sampling.capPerGroup(
      ivfIndex(corpus, idCol, vecCol, numCells),
      "cell_id", idCol, salt, cap)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into IVF cells,
    * and within each cell drop every vector whose cosine similarity to
    * some LOWER-id vector of the same cell exceeds `threshold`. The
    * paper keeps one random exemplar per semantic-duplicate group; the
    * min-id rule here is the same policy made deterministic, so the
    * whole operator — cluster assignment included (seed centroids, as
    * sq2/sq5) — is exactly oracle-able.
    *
    * Scale shape: the quadratic near-dup check is confined to one cell
    * (Σ|cell|² work, never N²) and runs as a self-equi-join on
    * `cell_id` — one shuffle key both sides, no broadcast of the
    * corpus. Cell count is the knob: K ≈ √N keeps expected cell size
    * √N, so per-cell work stays ~N total; a skewed cell (one dense
    * semantic region) is the same situation as dq8's containment skew
    * and would take the same salted-cap treatment. The anti-join back
    * to the index reuses the `cell_id` partitioning (no extra
    * shuffle under AQE). Cosine runs in the native codegen kernel,
    * rounded to 4dp so the threshold compare is engine-portable. */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      threshold: Double): DataFrame = {
    val idx = Lineage.cutLocal(ivfIndex(corpus, idCol, vecCol, numCells))
    val a = idx.select(col(idCol).as("aid"), col(vecCol).as("av"),
      col("cell_id"))
    val b = idx.select(col(idCol).as("bid"), col(vecCol).as("bv"),
      col("cell_id"))
    val dropped = a.join(b, "cell_id")
      .filter(col("bid") < col("aid"))
      .filter(round(cosine(col("av"), col("bv")), 4) > threshold)
      .select(col("aid").as(idCol))
      .distinct()
    idx.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell_id"))
  }

  /** ANN top-k through the IVF index: each query probes its `nProbe`
    * nearest cells and ranks only vectors in those cells. */
  def ivfTopK(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      nProbe: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = broadcast(
      index.filter(col(idCol) === col("cell_id"))
        .select(col("cell_id"), col(vecCol).as("centroid")))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wProbe = Window.partitionBy("query_id").orderBy(
      col("csim").desc, col("cell_id"))
    val probes = broadcast(q.crossJoin(centroids)
      .withColumn("csim", round(cosine(col("qv"), col("centroid")), 4))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "cell_id"))

    val wRank = Window.partitionBy("query_id").orderBy(
      col("cosine").desc, col("neighbor_id"))
    probes.join(index.withColumnRenamed(idCol, "neighbor_id"), "cell_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Readout.pin(cosine(col("qv"), col(vecCol)), 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** MMR diversity rerank (Carbonell & Goldstein, SIGIR 1998): per
    * query, greedily select `k` of the top-`m` exact-cosine candidates
    * maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — the standard
    * redundancy-aware retrieval head (and, in a training-data pipeline,
    * the "don't fill the context with near-duplicates" selector).
    * Returns `(query_id, rank, vec_id, score)`; rank 1's score is its
    * relevance (empty-S convention), scores round to 6dp for output,
    * ties break on the vec id.
    *
    * Determinism contract: relevances and candidate-candidate sims are
    * 4dp-rounded cosines; every greedy comparison then runs on
    * bit-identical doubles (λ-products of 4dp inputs) in any engine, so
    * the whole greedy TRAJECTORY — not just the final scores — is
    * exactly replayable (the oracle unrolls one CTE pair per round).
    *
    * Scale shape: candidate generation is [[bruteForceTopK]] (broadcast
    * queries — swap in the IVF/PQ paths for recall/speed at corpus
    * scale); everything after operates on |Q|·m-row frames — the m²
    * pairwise-sim join and each greedy round are bounded by the
    * candidate count per query, never by the corpus. The k−1 unrolled
    * rounds are joins on (query, cand) with map-side partials; frames
    * are lineage-cut where consumed across rounds. */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      m: Int = 16,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && m >= k, "need m >= k >= 1")
    require(lambda > 0 && lambda <= 1, "lambda in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}

    val cand = Lineage.cutLocal(
      bruteForceTopK(corpus, queries, idCol, vecCol, m)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel")))
    val vecs = corpus.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      float_norm(col(vecCol)).as("__n"))
    val withVec = cand.join(vecs, col("cand_id") === col("__vid"))
    val aSide = withVec.select(col("query_id"), col("cand_id").as("a_id"),
      col("__v").as("av"), col("__n").as("an"))
    val bSide = withVec.select(col("query_id"), col("cand_id").as("b_id"),
      col("__v").as("bv"), col("__n").as("bn"))
    val sims = Lineage.cutLocal(
      aSide.join(bSide, Seq("query_id"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("sim",
          round(float_dot(col("av"), col("bv")) / (col("an") * col("bn")), 4))
        .select("query_id", "a_id", "b_id", "sim"))

    val wq = Window.partitionBy("query_id")
    var selected = Lineage.cutLocal(
      cand.withColumn("__rn", row_number().over(
        wq.orderBy(col("rel").desc, col("cand_id"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("cand_id").as("sel_id"),
          col("rel").as("score"), lit(1).as("rank")))
    var remaining = cand.join(
      selected.select(col("query_id"), col("sel_id").as("cand_id")),
      Seq("query_id", "cand_id"), "left_anti")

    for (r <- 2 to k) {
      val maxSim = sims
        .join(selected.select(col("query_id"), col("sel_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy("query_id", "a_id").agg(max("sim").as("__max_sim"))
      val pick = Lineage.cutLocal(
        remaining.join(maxSim,
          remaining("query_id") === maxSim("query_id") &&
            col("cand_id") === col("a_id"))
          .drop(maxSim("query_id")).drop("a_id")
          .withColumn("__score",
            lit(lambda) * col("rel") - lit(1 - lambda) * col("__max_sim"))
          .withColumn("__rn", row_number().over(
            wq.orderBy(col("__score").desc, col("cand_id"))))
          .filter(col("__rn") === 1)
          .select(col("query_id"), col("cand_id").as("sel_id"),
            col("__score").as("score"), lit(r).as("rank")))
      selected = Lineage.cutLocal(selected.unionByName(pick))
      remaining = remaining.join(
        pick.select(col("query_id"), col("sel_id").as("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
    }
    selected
      .select(col("query_id"), col("rank"), col("sel_id").as("vec_id"),
        Readout.pin(col("score"), 6).as("score"))
      .orderBy("query_id", "rank")
  }

  /** kNN classification: each query takes the majority label of its
    * `k` nearest labeled neighbors by exact cosine — the baseline
    * weak-labeler / label-propagation head over an embedding corpus
    * (tag unlabeled docs from a labeled seed set). Vote ties break on
    * the smaller label, neighbor ties on the id (via
    * [[bruteForceTopK]]'s 4dp-rounded ranking), so the prediction is
    * deterministic and exactly replayable. Returns
    * `(query_id, label_pred, votes)`.
    *
    * Scale shape: candidate generation is the broadcast-queries brute
    * scan (swap in IVF/PQ at corpus scale); the vote is a |Q|·k-row
    * aggregate + per-query argmax window — bounded by the query count,
    * never the corpus. */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val neighbors = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__lbl"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__lbl"))
    neighbors.join(labels, "neighbor_id")
      .groupBy("query_id", "__lbl")
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__lbl").as("label_pred"), col("votes"))
      .orderBy("query_id")
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019 — the
    * LASER bitext-mining criterion): for each vector on side A, its
    * best side-B counterpart scored by the RATIO of their cosine to
    * the mean of both vectors' k-NN cosine levels,
    *
    *   margin(x,y) = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2),
    *
    * which normalizes away hubness — a pair only survives when it
    * stands OUT of both vectors' neighborhoods, not merely when its
    * raw cosine is high. Pairs with margin > `threshold` return as
    * `(id_a, id_b, cosine, margin)`, margin-desc.
    *
    * Determinism contract: cosines are 4dp-rounded; each avgₖ is a
    * DECIMAL sum of k such values divided once in double; the margin
    * is one double expression of those — bit-identical in any engine,
    * so ranking, threshold, and output all replay exactly.
    *
    * Scale shape: the A×B score frame is the candidate generator
    * (broadcast the smaller side; swap in the IVF path at corpus
    * scale) and is lineage-cut once for its three consumers (k-NN
    * levels per side, forward-best); everything downstream is
    * |A|+|B|-row aggregates and per-x windows. A side with fewer than
    * k counterparts averages over what exists — margins stay honest
    * on thin sides. */
  def mineBitext(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sideA: Column,
      sideB: Column,
      k: Int = 4,
      marginThreshold: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    def side(pred: Column, id: String) = corpus.filter(pred)
      .select(col(idCol).as(id), col(vecCol).as(s"__v_$id"),
        float_norm(col(vecCol)).as(s"__n_$id"))
    val a = broadcast(side(sideA, "id_a"))
    val b = side(sideB, "id_b")
    val cross = Lineage.cutLocal(a.crossJoin(b)
      .withColumn("c", Readout.pin(
        float_dot(col("__v_id_a"), col("__v_id_b")) /
          (col("__n_id_a") * col("__n_id_b")), 4))
      .select("id_a", "id_b", "c"))
    val wA = Window.partitionBy("id_a").orderBy(col("c").desc, col("id_b"))
    val wB = Window.partitionBy("id_b").orderBy(col("c").desc, col("id_a"))
    // divide by the ACTUAL neighbor count (== k whenever a side has
    // ≥k counterparts): a thin side must not understate its k-NN
    // level and silently inflate every margin
    val ka = cross.withColumn("__rk", row_number().over(wA))
      .filter(col("__rk") <= k).groupBy("id_a")
      .agg((sum(col("c").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("__avg_a"))
    val kb = cross.withColumn("__rk", row_number().over(wB))
      .filter(col("__rk") <= k).groupBy("id_b")
      .agg((sum(col("c").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("__avg_b"))
    val fwd = cross.withColumn("__rk", row_number().over(wA))
      .filter(col("__rk") === 1)
    val margin = col("c") / ((col("__avg_a") + col("__avg_b")) / lit(2))
    // the ratio criterion is only meaningful against a POSITIVE
    // neighborhood level: a zero denominator yields NULL (row silently
    // dropped) and a negative one flips the margin's sign, inverting
    // the > test for anti-correlated/zero vectors — exclude such pairs
    // explicitly so degenerate inputs are a defined non-match, not an
    // engine-dependent accident
    fwd.join(ka, "id_a").join(kb, "id_b")
      .filter((col("__avg_a") + col("__avg_b")) > lit(0.0))
      .filter(margin > lit(marginThreshold))
      .select(col("id_a"), col("id_b"), col("c").as("cosine"),
        Readout.pin(margin, 6).as("margin"))
      .orderBy(col("margin").desc, col("id_a"))
  }

  /** Recall@k of an ANN result against the exact ranking — the
    * evaluation harness every approximate index ships with (an index
    * without a measured recall is a rumor). Both inputs are
    * `(query_id, neighbor_id, ...)` top-k frames; output is one row
    * per query: `(query_id, n_hits, recall)`, recall = hits/k.
    * Queries the ANN missed entirely still appear (0 hits).
    *
    * Scale shape: one semi-join on the (query, neighbor) pair + a
    * |Q|-ary aggregate — bounded by |Q|·k rows, never the corpus. */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = Lineage.cutLocal(exact.select("query_id", "neighbor_id"))
    val hits = e
      .join(ann.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    e.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 4)
          .as("recall"))
      .orderBy("query_id")
  }

  /** Embedding OOD scoring by diagonal Mahalanobis distance — the
    * cheap outlier gate an embedding-QA pass runs before trusting a
    * corpus's vectors (broken encoders, zero rows, scale drift all
    * surface as extreme scores): per dimension the corpus mean and
    * sample variance, then each vector scores
    * `Σ_d ((x_d − μ_d)/σ_d)²` — the full-covariance Mahalanobis with
    * the off-diagonal terms dropped (the standard large-scale
    * simplification; a d×d covariance inverse is neither needed nor
    * wanted at 100 TB). Returns the top-k by score,
    * `(vec_id, score)`, ties on the id.
    *
    * Determinism contract: per-dim Σx and Σx² are DECIMAL sums of
    * 6/8dp-rounded doubles; μ/σ² derive in fixed-order double
    * arithmetic (the Welch recipe); each vector's per-dim terms round
    * to 6dp and sum as DECIMAL — every stage order-independent and
    * engine-exact. Constant dimensions (σ² = 0) are excluded from
    * every vector's score rather than dividing by zero.
    *
    * Scale shape: one posexplode pass → dim-bounded stats aggregate
    * (broadcast back), one scoring pass riding the same explode with a
    * dim-bounded join, TakeOrdered top-k. Nothing scales beyond
    * corpus × dim rows with map-side partials. */
  def oodScores(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be positive")
    def exploded = corpus.select(col(idCol).as("vec_id"),
      posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    val stats = broadcast(exploded
      .groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(round(col("x"), 6).cast("decimal(28,6)")).as("__sx"),
        sum(round(col("x") * col("x"), 8).cast("decimal(28,8)"))
          .as("__sxx"))
      .withColumn("__mu", col("__sx").cast("double") / col("__n"))
      .withColumn("__var",
        (col("__sxx").cast("double") - col("__n") * col("__mu") *
          col("__mu")) / (col("__n") - 1))
      .select("dim", "__mu", "__var"))
    exploded.join(stats, "dim")
      .filter(col("__var") > 0.0)
      .select(col("vec_id"),
        round(((col("x") - col("__mu")) / sqrt(col("__var"))) *
          ((col("x") - col("__mu")) / sqrt(col("__var"))), 6)
          .cast("decimal(28,6)").as("__t"))
      .groupBy("vec_id")
      .agg(round(sum(col("__t")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(topK)
  }

  /** GENERATED DuckDB oracle for [[kCenterCoreset]]: the greedy
    * farthest-point trajectory unrolled round by round — `m_r` replays
    * round r's running min-distance column exactly (same
    * 1 − round(cos, 4) distances, same −1 selected-point sentinel,
    * same smallest-id tie-break), so every selection is bit-identical,
    * not approximately equal. */
  def kCenterOracleSql(k: Int): String = {
    val rows = (2 to k).map(r =>
      s"UNION ALL SELECT $r AS rnd, vec_id, mind AS dist FROM c$r")
      .mkString("\n")
    s"""|${kCenterRoundsSql(k)}
        |SELECT 1 AS rnd, (SELECT vec_id FROM s1) AS vec_id,
        |       NULL::double AS dist
        |$rows
        |ORDER BY rnd""".stripMargin
  }

  /** GENERATED DuckDB oracle for [[kCenterAssign]]: the
    * [[kCenterOracleSql]] trajectory plus the nearest-center
    * assignment tail (same 1 − round(cos, 4) distances, smallest
    * center id on ties, per-point 6dp-decimal distance sum). */
  def kCenterAssignOracleSql(k: Int): String = {
    val centers = ((1 to k).map(r =>
      s"SELECT vec_id AS center_id, v, nrm FROM s$r"))
      .mkString("\n  UNION ALL ")
    s"""|${kCenterRoundsSql(k)}
        |, centers AS (
        |  $centers
        |), asg AS (
        |  SELECT p.vec_id, c.center_id,
        |    ${kcDist("p", "c")} AS d,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY ${kcDist("p", "c")}, c.center_id) AS rk
        |  FROM n p, centers c
        |)
        |SELECT center_id, count(*)::bigint AS n_assigned,
        |  max(d) AS max_dist,
        |  round(sum(round(d, 6)::decimal(18,6))::double /
        |        count(*)::double, 6) AS mean_dist
        |FROM asg WHERE rk = 1
        |GROUP BY 1 ORDER BY center_id""".stripMargin
  }

  private def kcDist(a: String, b: String): String =
    s"1.0 - round(list_sum(list_transform(list_zip($a.v, $b.v), " +
      s"p -> p[1] * p[2])) / ($a.nrm * $b.nrm), 4)"

  /** The shared WITH-chain for the k-center oracles: normalized
    * vectors, min-id seed `s1`, and greedy rounds `m_r`/`c_r`/`s_r`
    * replaying [[kCenterCoreset]]'s trajectory exactly. */
  private def kCenterRoundsSql(k: Int): String = {
    require(k >= 1, "k must be at least 1")
    val rounds = (2 to k).map { r =>
      val prevM = if (r == 2) "" else s", m${r - 1} pm"
      val mind =
        if (r == 2) kcDist("p", s"s${r - 1}")
        else s"least(pm.mind, ${kcDist("p", s"s${r - 1}")})"
      val prevJoin =
        if (r == 2) ""
        else s" AND pm.vec_id = p.vec_id"
      s"""|, m$r AS (
          |  SELECT p.vec_id,
          |    CASE WHEN p.vec_id = s${r - 1}.vec_id THEN -1.0
          |         ELSE $mind END AS mind
          |  FROM n p, s${r - 1}$prevM
          |  WHERE TRUE$prevJoin
          |), c$r AS (
          |  SELECT vec_id, mind FROM m$r ORDER BY mind DESC, vec_id LIMIT 1
          |), s$r AS (
          |  SELECT n.vec_id, n.v, n.nrm FROM n JOIN c$r USING (vec_id)
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
        |  FROM embeddings
        |), n AS MATERIALIZED (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), s1 AS (
        |  SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 1
        |)
        |$rounds""".stripMargin
  }

  /** Nearest-center assignment over a [[kCenterCoreset]] skeleton —
    * the coverage readout that makes the coreset actionable: every
    * point assigned to its nearest of the k centers (distance
    * 1 − round(cos, 4), ties to the smallest center id), aggregated
    * to per-center population, worst-case radius, and mean distance.
    * `max(max_dist)` over the output is the k-center objective the
    * greedy traversal 2-approximates; fat `n_assigned` tails tell the
    * curation pipeline where one exemplar stands in for too much
    * corpus.
    *
    * Determinism contract: the trajectory is [[kCenterCoreset]]'s;
    * assignment distances are the same pinned doubles; per-point
    * distances round to 6dp decimal before the order-independent
    * mean sum; max is order-free.
    *
    * Scale shape: ONE corpus pass against the broadcast k-row center
    * frame (the coreset is a codebook), one (point → min) aggregate
    * by center — no pairwise joins, nothing driver-side beyond the
    * k centers. */
  def kCenterAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val coreset = kCenterCoreset(corpus, idCol, vecCol, k)
    val centers = broadcast(
      coreset.select(col("vec_id").as("__cid"))
        .join(corpus.select(col(idCol).cast("long").as("__cid"),
          col(vecCol).as("__cv")), Seq("__cid")))
    val d = lit(1.0) - round(cosine(col("__v"), col("__cv")), 4)
    val best = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .crossJoin(centers)
      .groupBy("__id")
      .agg(min(struct(d.as("d"), col("__cid"))).as("__best"))
      .select(col("__best.__cid").as("center_id"),
        col("__best.d").as("__d"))
    best.groupBy("center_id")
      .agg(count(lit(1)).as("n_assigned"),
        max("__d").as("max_dist"),
        round(sum(round(col("__d"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_dist"))
      .orderBy("center_id")
  }

  /** GENERATED DuckDB oracle for [[mmrRerank]] over the embeddings
    * table with queries `vec_id < nQueries`: one CTE pair per greedy
    * round replays the exact trajectory (same 4dp cosine inputs, same
    * λ-arithmetic — the λ literals interpolate from the same doubles
    * the Spark plan uses, so `1 - λ` round-trips bit-exactly). */
  def mmrOracleSql(
      nQueries: Int, k: Int, m: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1 - lambda).toString
    val rounds = (2 to k).map { r =>
      s"""|, ms$r AS (
          |  SELECT s.query_id, s.a_id, max(s.sim) AS max_sim
          |  FROM sims s JOIN sel${r - 1} p
          |    ON s.query_id = p.query_id AND s.b_id = p.sel_id
          |  GROUP BY 1, 2
          |), pick$r AS (
          |  SELECT query_id, a_id AS sel_id, score, $r AS rank FROM (
          |    SELECT m.query_id, m.a_id,
          |           $lam::double * c.rel - $oneMinus::double * m.max_sim
          |             AS score,
          |           row_number() OVER (PARTITION BY m.query_id
          |             ORDER BY $lam::double * c.rel
          |                      - $oneMinus::double * m.max_sim DESC,
          |                      m.a_id) AS rn
          |    FROM ms$r m
          |    JOIN cand c ON c.query_id = m.query_id AND c.cand_id = m.a_id
          |    LEFT JOIN sel${r - 1} s
          |      ON s.query_id = m.query_id AND s.sel_id = m.a_id
          |    WHERE s.sel_id IS NULL
          |  ) WHERE rn = 1
          |), sel$r AS (
          |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(list_sum(list_transform(list_zip(q.v, c.v),
        |                 p -> p[1] * p[2])) / (q.nrm * c.nrm), 4) AS rel,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
        |                 p -> p[1] * p[2])) / (q.nrm * c.nrm), 4) DESC,
        |               c.vec_id) AS rk
        |  FROM n q JOIN n c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < $nQueries
        |), cand AS (SELECT query_id, cand_id, rel FROM scored WHERE rk <= $m),
        |sims AS (
        |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
        |         round(list_sum(list_transform(list_zip(na.v, nb.v),
        |                 p -> p[1] * p[2])) / (na.nrm * nb.nrm), 4) AS sim
        |  FROM cand a
        |  JOIN cand b ON a.query_id = b.query_id AND a.cand_id != b.cand_id
        |  JOIN n na ON na.vec_id = a.cand_id
        |  JOIN n nb ON nb.vec_id = b.cand_id
        |), sel1 AS (
        |  SELECT query_id, cand_id AS sel_id, rel AS score, 1 AS rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, cand_id) AS rn FROM cand
        |  ) WHERE rn = 1
        |)
        |$rounds
        |SELECT query_id, rank, sel_id AS vec_id,
        |       round(score, 6) + 0.0 AS score
        |FROM sel$k
        |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared basket build for [[coOccurrenceSimilarity]] /
    * [[associationRules]]: one (user)-keyed aggregate collecting each
    * kept user's SORTED distinct item array — the heavy-user cut is a
    * size() filter on the collected array instead of a separate degree
    * aggregate + semi-join (two shuffles of the basket frame saved),
    * and the per-user pair space then explodes from the array with
    * codegen generators instead of a two-sided self-join on `u` (one
    * more basket-frame shuffle saved; the r16 rework, guide §2.3/§2.4
    * "aggregate before you shuffle / remove shuffles outright").
    * The heavy-user cut happens BEFORE any array is buffered: a
    * window `count(*) over (partition by u)` on the distinct frame
    * drops every row of an over-limit user first, so the collect_list
    * aggregation buffer (non-spillable) never sees a pathological
    * user — a 10⁷-distinct-item bot's rows are counted in the
    * window's SPILLABLE row buffer and discarded, where a post-collect
    * size() filter would have materialized the whole array on one
    * reducer (guide §5). The window shares the groupBy(u) exchange
    * (same partitioning key), so the cut costs a sort + one pass, not
    * a shuffle — unlike the pre-r16 degree-aggregate + semi-join shape
    * it replaces, which paid two extra basket-frame shuffles. */
  private def keptBaskets(
      baskets: DataFrame,
      userCol: String,
      itemCol: String,
      maxPerUser: Int): DataFrame =
    Lineage.cutLocal(keptBasketsPlan(baskets, userCol, itemCol, maxPerUser))

  /** The pre-cut [[keptBaskets]] plan — `private[operators]` so the
    * pre-collect heavy-user cut stays structurally pinned (the cut
    * frame itself is a checkpoint scan that hides the build plan). */
  private[operators] def keptBasketsPlan(
      baskets: DataFrame,
      userCol: String,
      itemCol: String,
      maxPerUser: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    (baskets
      // a one-pass sort_array(collect_set(i)) over the raw frame is
      // value-identical and one exchange fewer, but measured 25%
      // SLOWER at local[32] (sq22 run3 4.7 → 5.9 s A/B): map-side
      // partial collect_set builds object-heavy per-user sets in
      // every map partition, where distinct's partials are compact
      // row dedup — the same buffer shape that would hurt at scale.
      // Kept two-pass deliberately (r16 A/B, OPTIMIZATION_r16.md §8).
      .select(col(userCol).as("u"), col(itemCol).as("i")).distinct()
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("u")))
      .filter(col("__n") <= maxPerUser)
      .groupBy("u")
      .agg(sort_array(collect_list(col("i"))).as("__xs")))
  }

  /** Ordered within-basket pairs `(__a < __b)` from a [[keptBaskets]]
    * frame — the double-generator expansion [[graft.operators.Dedup
    * .bucketPairs]] uses, bit-identical to the old `a.u = b.u AND
    * a.i < b.i` self-join because each `__xs` is sorted and distinct. */
  private def basketPairs(kept: DataFrame): DataFrame =
    kept.filter(size(col("__xs")) > 1)
      .select(col("__xs"), posexplode(col("__xs")))
      .select(col("col").as("__a"),
        explode(slice(col("__xs"), col("pos") + 2, size(col("__xs"))))
          .as("__b"))

  /** Item–item co-occurrence similarity over a (user, item) basket
    * frame — the collaborative-filtering kernel ("customers who bought
    * X also bought Y"): for item pairs sharing enough users,
    * `cos(i,j) = n_both / √(nᵢ·nⱼ)` — the cosine of the binary
    * user-incidence vectors. Returns the global top-`topK` pairs.
    *
    * Determinism contract: all counts are exact integers; the cosine
    * is ONE double division with an IEEE sqrt of a sub-2⁵³ integer
    * product, rounded to 6dp; ties in the top-K break on the item
    * pair.
    *
    * Scale shape: the DIMSUM concern is the power user — a user with
    * 10⁵ items contributes 10¹⁰ pairs — so users above `maxPerUser`
    * items are DROPPED before the pair expansion (the documented
    * heavy-user cut every production co-occurrence job applies; their
    * co-occurrence signal is near-zero information anyway). What
    * remains is ONE user-keyed collect ([[keptBaskets]]), the
    * generator pair expansion bounded by maxPerUser² per user, a
    * (pair)-keyed count with map-side partials, a broadcast |items|
    * degree join, and a TakeOrdered head — no global sort. Degrees
    * count only the KEPT users, so the cosine is internally
    * consistent. */
  def coOccurrenceSimilarity(
      baskets: DataFrame,
      userCol: String,
      itemCol: String,
      minSupport: Long = 5L,
      maxPerUser: Int = 200,
      topK: Int = 100): DataFrame = {
    require(minSupport >= 1 && maxPerUser >= 2 && topK >= 1,
      "minSupport >= 1, maxPerUser >= 2, topK >= 1")
    val kept = keptBaskets(baskets, userCol, itemCol, maxPerUser)
    // deg feeds TWO broadcast builds (n_a and n_b): without a cut the
    // physical plan inlines the explode + aggregate subtree once per
    // build and the whole item-incidence pass runs twice (the r16
    // sq20 plan shows both copies). cutLocal computes it once; each
    // broadcast then builds from the |items|-sized checkpoint scan.
    val deg = Lineage.cutLocal(
      kept.select(explode(col("__xs")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n")))
    val pairs = basketPairs(kept)
      .groupBy(col("__a").as("item_a"), col("__b").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(broadcast(deg.select(col("item").as("item_a"),
        col("n").as("n_a"))), Seq("item_a"))
      .join(broadcast(deg.select(col("item").as("item_b"),
        col("n").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_both"),
        col("n_a"), col("n_b"),
        round(col("n_both").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Per-group embedding-centroid drift — "does each label/source/
    * shard occupy the same region of embedding space as the corpus":
    * cosine of every group's mean vector against the GLOBAL mean
    * vector. Low cosine = the group is directionally displaced — the
    * embedding-space analog of [[graft.operators.TextAnalysis
    * .tokenKlDivergence]]'s lexical drift, and the standard cheap
    * monitor for "did this source's content shift under me" before
    * re-clustering 100 TB.
    *
    * Determinism contract: components round to 6dp and sum as
    * decimal(18,6) per (group, dim) — exact, order-independent; the
    * global per-dim sums REUSE the group sums (one aggregate
    * hierarchy, no second data pass); dot/norm addends round to 10dp
    * decimal(28,10) before the dim sum (fixed-order-free), and the
    * final cosine is one pinned double expression rounded to 6dp.
    * Zero-norm centroids report NULL via the denominator guard.
    *
    * Scale shape: ONE pass over the data (posexplode + (group, dim)
    * aggregate); everything after is groups×dims-sized, with the
    * global frame broadcast into the dim join. */
  def centroidDrift(
      emb: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val cells = emb
      .filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col("__g"), col("__d"),
        round(col("__x").cast("double"), 6).cast("decimal(18,6)").as("__v"))
    val per = Lineage.cutLocal(cells.groupBy("__g", "__d")
      .agg(sum("__v").as("__s"), count(lit(1)).as("__n")))
    val global = broadcast(per.groupBy("__d")
      .agg(sum("__s").as("__gs"), sum("__n").as("__gn")))
    val m = col("__s").cast("double") / col("__n").cast("double")
    val gm = col("__gs").cast("double") / col("__gn").cast("double")
    val dec10 = (x: Column) => round(x, 10).cast("decimal(28,10)")
    val dims = per.join(global, Seq("__d"))
      .select(col("__g"), col("__n"),
        dec10(m * gm).as("__dot"),
        dec10(m * m).as("__na"),
        dec10(gm * gm).as("__ng"))
    val agg = dims.groupBy("__g").agg(
      max("__n").as("n_vecs"), // every dim of a group counts the same rows
      sum("__dot").as("__sdot"),
      sum("__na").as("__sna"),
      sum("__ng").as("__sng"))
    agg.select(col("__g").as(groupCol), col("n_vecs"),
      Readout.pin(col("__sdot").cast("double") /
        (sqrt(when(col("__sna").cast("double") > 0.0,
          col("__sna").cast("double"))) *
         sqrt(when(col("__sng").cast("double") > 0.0,
           col("__sng").cast("double")))), 6).as("cos_global"))
      .orderBy(groupCol)
  }

  /** Market-basket association rules over the co-occurrence machinery
    * ([[coOccurrenceSimilarity]]'s basket frame): for every DIRECTED
    * item pair a→b with joint support ≥ `minSupport`,
    *
    *   confidence(a→b) = n_ab / n_a,
    *   lift(a→b)       = n_ab·U / (n_a·n_b)
    *
    * over U kept users — the "customers who bought X also bought Y"
    * readout with the base-rate correction (lift > 1 = genuinely
    * associated, not just popular). Heavy users cut at `maxPerUser`
    * (the DIMSUM bound), top-`topK` by (lift, confidence, pair).
    *
    * Determinism contract: n_a, n_b, n_ab, U are exact integer
    * counts; confidence and lift are pinned double expressions
    * rounded at 6dp; U rides as a broadcast 1-row aggregate — no
    * driver-side count.
    *
    * Scale shape: identical to [[coOccurrenceSimilarity]] — one
    * basket collect with the pre-collect heavy-user cut, the generator
    * pair expansion, one (pair)-keyed count, degree frames broadcast;
    * the direction union doubles only the PAIR frame (already
    * support-filtered and lineage-cut, so it computes once). */
  def associationRules(
      baskets: DataFrame,
      userCol: String,
      itemCol: String,
      minSupport: Long = 5L,
      maxPerUser: Int = 200,
      topK: Int = 100): DataFrame = {
    require(minSupport >= 1 && maxPerUser >= 2 && topK >= 1,
      "minSupport >= 1, maxPerUser >= 2, topK >= 1")
    val kept = keptBaskets(baskets, userCol, itemCol, maxPerUser)
    val users = broadcast(kept.agg(count(lit(1)).as("__users")))
    // same double-build shape as coOccurrenceSimilarity: deg feeds two
    // broadcasts — cut it so the incidence pass runs once
    val deg = Lineage.cutLocal(
      kept.select(explode(col("__xs")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n")))
    // joint feeds BOTH arms of the direction union: uncut, the r16
    // sq22 plan computed the ENTIRE pair expansion + pair-count
    // aggregate (the query's dominant cost — the Σ C(n_u,2) pair
    // exchange) twice, once per arm. cutLocal materializes the
    // support-filtered joint frame (small: pairs with n_both ≥
    // minSupport) once; the union arms re-project the checkpoint scan.
    val joint = Lineage.cutLocal(basketPairs(kept)
      .groupBy(col("__a").as("__lo"), col("__b").as("__hi"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport))
    val directed = joint
      .select(col("__lo").as("antecedent"), col("__hi").as("consequent"),
        col("n_both"))
      .unionByName(joint.select(col("__hi").as("antecedent"),
        col("__lo").as("consequent"), col("n_both")))
    directed
      .join(broadcast(deg.select(col("item").as("antecedent"),
        col("n").as("n_a"))), Seq("antecedent"))
      .join(broadcast(deg.select(col("item").as("consequent"),
        col("n").as("n_b"))), Seq("consequent"))
      .crossJoin(users)
      .select(col("antecedent"), col("consequent"),
        col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round(col("n_both").cast("double") * col("__users").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("confidence").desc,
        col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** Cosine-similarity histogram over the IVF-cell-bounded pair space —
    * the threshold-choosing readout for [[semanticDedup]]: before
    * committing to "drop above 0.92", look at where the within-cell
    * similarity mass actually sits (a bimodal histogram separates
    * near-dups from neighbors; a smooth one says the threshold will
    * slice arbitrarily). The embedding-space analogue of
    * [[graft.operators.Dedup.jaccardHistogram]]'s LSH-candidate view.
    *
    * Determinism contract: cosines are the 4dp kernel values, buckets
    * are ⌊cos/width⌋ (floor toward −∞ on both engines), counts exact;
    * `lo` is the bucket's lower edge at 6dp.
    *
    * Scale shape: the pair space is confined to IVF cells (Σ|cell|²,
    * never N² — [[semanticDedup]]'s bound, same skew caveat), one
    * equi-join on `cell_id`, one grid-sized aggregate (≤ 2/width + 1
    * buckets). */
  def cosineHistogram(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      width: Double = 0.05): DataFrame = {
    require(numCells >= 1 && width > 0.0, "need numCells >= 1, width > 0")
    val idx = Lineage.cutLocal(ivfIndex(corpus, idCol, vecCol, numCells))
    val a = idx.select(col(idCol).as("aid"), col(vecCol).as("av"),
      col("cell_id"))
    val b = idx.select(col(idCol).as("bid"), col(vecCol).as("bv"),
      col("cell_id"))
    a.join(b, "cell_id")
      .filter(col("aid") < col("bid"))
      .select(floor(round(cosine(col("av"), col("bv")), 4) / width)
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .withColumn("lo", round(col("bucket").cast("double") * width, 6))
      .orderBy("bucket")
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) — merge
    * two per-query rankings by Σ 1/(rrfK + rank), the score-free
    * fusion standard hybrid retrieval converged on: ranks are
    * comparable where raw scores (BM25 vs cosine vs int8 dots) never
    * are, the 1/(60+r) tail keeps deep results from dominating, and a
    * doc missing from one list simply contributes nothing. Takes two
    * `(query_id, neighbor_id, rank)` frames (any of the ANN/lexical
    * rankers here produce that shape) and returns the fused top-k per
    * query.
    *
    * Determinism contract: the score is a TWO-term fixed-order double
    * sum of exact-integer reciprocals, rounded at 6dp; the fused rank
    * breaks ties on the smaller neighbor id.
    *
    * Scale shape: one (query, doc)-keyed full-outer join of two
    * already-top-k-bounded frames (both sides |queries|·k rows — the
    * expensive ranking work happened upstream), one per-query window
    * on the fused candidates. */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && rrfK >= 0, "need k >= 1, rrfK >= 0")
    import org.apache.spark.sql.expressions.Window
    val aa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as("__ra"))
    val bb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as("__rb"))
    val fused = aa.join(bb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("__rb")), lit(0.0)),
        6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rrf_score", "rank")
  }

  /** Greedy k-center coreset over an embedding column — farthest-point
    * traversal (Gonzalez 1985, the 2-approximation to the k-center
    * cover): seed with the lowest id, then k−1 times pick the point
    * FARTHEST from everything selected so far (cosine distance
    * 1 − cos). The geometry-coverage answer to "which k exemplars
    * span this corpus" — where [[diversitySample]] spreads a SAMPLE
    * across IVF cells and [[mmrRerank]] diversifies one query's
    * candidates, this picks the global skeleton (eval-set seeds,
    * annotation batches, cluster initializations that cover the
    * tails instead of the modes).
    *
    * Determinism contract: distances are 1 − round(cos, 4) (the
    * sq1/semanticDedup 4dp discipline — one IEEE subtract on an
    * engine-identical operand); the running minimum is a `least` fold
    * of such values; argmax ties break to the SMALLEST id. The whole
    * trajectory is therefore exactly replayable, round by round, in
    * the oracle.
    *
    * Scale shape: each round is ONE pass over the corpus against a
    * broadcast 1-row center (no pairwise joins anywhere), the running
    * min-distance column rides the frame (lazily cut per round), and
    * the driver holds exactly the k selected rows — a codebook, the
    * audited collect class. Returns `(rnd, vec_id, dist)`, k rows,
    * where dist is the selected point's min distance to all EARLIER
    * centers (NULL for the seed). */
  def kCenterCoreset(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val spark = corpus.sparkSession
    import org.apache.spark.sql.Row
    // every round's pts frame collects in-loop (argmax + far-row fetch),
    // so nothing escapes the window — but the round blocks would
    // otherwise sit until the GC-driven ContextCleaner; the scope
    // releases them when the trajectory's driver-side result is done
    val scope = new Lineage.RoundScope
    val pts0 = scope.local(
      corpus.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v")))
    val seed = pts0.orderBy("__id").limit(1)
      .select(col("__id"), col("__v")).collect().head
    var selected = List[(Int, Long, Option[Double])]((1, seed.getLong(0), None))
    var centerVec: Any = seed.get(1)
    var pts = pts0.withColumn("__mind", lit(null).cast("double"))
    val vecType = pts0.schema("__v").dataType
    for (rnd <- 2 to k) {
      val center = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(selected.head._2, centerVec)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__cid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("__cv", vecType)))))
      val d = lit(1.0) - round(cosine(col("__v"), col("__cv")), 4)
      // selected points sink to -1 (below every true distance, which
      // is >= 0) so an exact-duplicate corpus can tie at 0 without the
      // argmax ever re-picking an already-selected center; k beyond
      // the distinct-point count degenerates visibly (dist -1 rows)
      pts = scope.cutRound(
        pts.crossJoin(center)
          .withColumn("__mind",
            when(col("__id") === col("__cid"), lit(-1.0))
              .otherwise(least(coalesce(col("__mind"), d), d)))
          .drop("__cid", "__cv"))
      // farthest point, ties to the smallest id — one 1-row argmax
      val far = pts
        .agg(max(struct(col("__mind"), (-col("__id")).as("__nid"))))
        .collect().head.getStruct(0)
      val (fid, fd) = (-far.getLong(1), far.getDouble(0))
      val frow = pts.filter(col("__id") === fid)
        .select(col("__v")).collect().head
      selected = (rnd, fid, Some(fd)) :: selected
      centerVec = frow.get(0)
    }
    scope.releaseAll()
    import spark.implicits._
    spark.createDataset(selected.reverse)
      .toDF("rnd", "vec_id", "dist")
      .orderBy("rnd")
  }

  /** Mutual k-NN pairs over the deterministic IVF index — the standard
    * pre-clustering / manifold edge set: a pair survives only if EACH
    * point ranks inside the OTHER's top-k. One-directional top-k lists
    * keep hub points (a centroid-ish vector lands in everyone's list);
    * the mutual filter is the cheap symmetric cleanup that makes the
    * graph useful for community detection and UMAP-style layouts.
    *
    * Computed as [[ivfTopK]] with the corpus as its own query set
    * (cell-bounded Σ|cell·probe| pairs, never N²), then a self-join of
    * the top-k list against its transpose — both sides are k-bounded
    * per node. Returns `(id_a, id_b, cosine, rank_ab, rank_ba)` with
    * id_a < id_b, ordered by (id_a, id_b). */
  def mutualKnn(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      nProbe: Int = 4,
      k: Int = 5): DataFrame = {
    val index = ivfIndex(corpus, idCol, vecCol, numCells)
    val topk = Lineage.cutLocal(
      ivfTopK(index, corpus, idCol, vecCol, numCells, nProbe, k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          col("rank")))
    topk.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cosine"), col("rank").as("rank_ab"))
      .join(topk
        .filter(col("query_id") > col("neighbor_id"))
        .select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"),
          col("rank").as("rank_ba")),
        Seq("id_a", "id_b"))
      .orderBy("id_a", "id_b")
  }

  /** ln 2 as a shared driver literal — [[ndcgAtK]]'s log₂ is written
    * `ln(x) / LN2` in BOTH engines (DuckDB's native log2 and a JVM
    * log(base) could differ in the last ulp; one shared constant
    * cannot). */
  val Ln2: Double = 0.6931471805599453

  /** NDCG@k of an approximate ranking against the exact one — the
    * graded companion to [[recallAtK]] (recall treats all k exact
    * neighbors alike; NDCG pays more for getting the TOP ones right
    * and for ranking them early — the standard retrieval-quality
    * number an index tuning loop optimizes):
    *
    *   rel(d) = k+1 − exact_rank(d)  (0 if outside the exact top-k),
    *   DCG = Σᵢ rel(dᵢ)/log₂(i+1) over the approximate ranking,
    *   NDCG = DCG / IDCG  (IDCG = the exact ranking's own DCG,
    *   computed PER QUERY from the exact side's actual grade list —
    *   a short exact list, corpus smaller than k+1 or a filtered
    *   exact frame, still normalizes to 1.0 on a perfect ranking).
    *
    * Determinism contract: grades are exact integers from the two
    * deterministic rankings; each DCG and IDCG term is one
    * fixed-order double (ln(i+1)/[[Ln2]] with the shared literal)
    * rounded to 8dp and DECIMAL-summed (rank-row order differs
    * between engines); NDCG pins at the readout. The exact side
    * always has a rank-1 row per query, so IDCG > 0 and no division
    * guard is needed. Queries the index returned nothing for score 0
    * (kept via the exact side's query set, as in recallAtK).
    *
    * Scale shape: one (query, neighbor) equi-join of two |Q|·k-row
    * frames + a |Q|-ary aggregate — bounded by the rankings, never
    * the corpus. Returns `(query_id, n_hits, ndcg)`. */
  def ndcgAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = Lineage.cutLocal(exact.select(col("query_id"),
      col("neighbor_id"), col("rank")))
    val rels = e.select(col("query_id"), col("neighbor_id"),
      (lit(k + 1L) - col("rank")).as("__rel"))
    val scored = ann.select("query_id", "neighbor_id", "rank")
      .join(rels, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__rel"), lit(0L)).cast("double") /
          (log(col("rank").cast("double") + 1.0) / lit(Ln2)), 8)
          .cast("decimal(28,8)").as("__t"),
        when(col("__rel").isNotNull, 1L).otherwise(0L).as("__hit"))
      .groupBy("query_id")
      .agg(sum(col("__hit")).as("n_hits"), sum(col("__t")).as("__dcg"))
    // per-query ideal: the exact ranking scored against itself (same
    // 8dp term rounding + decimal sum as the DCG, so a perfect
    // approximate ranking divides to exactly 1 before the pin)
    val ideal = e
      .select(col("query_id"),
        round((lit(k + 1L) - col("rank")).cast("double") /
          (log(col("rank").cast("double") + 1.0) / lit(Ln2)), 8)
          .cast("decimal(28,8)").as("__it"))
      .groupBy("query_id")
      .agg(sum(col("__it")).as("__idcg"))
    ideal
      .join(scored, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        Readout.pin(coalesce(col("__dcg"), lit(0).cast("decimal(28,8)"))
          .cast("double") / col("__idcg").cast("double"), 6).as("ndcg"))
      .orderBy("query_id")
  }

  /** Element-wise mean pooling of a MULTI-VECTOR group into one
    * `array<float>` — the single-vector stand-in a pooled ANN index
    * is built over ([[lateInteractionTopK]]'s shortlist side; also the
    * classic sentence-embedding-from-token-embeddings shape).
    * Decimal-exact per dimension (floats widen losslessly to
    * decimal(27,9); the sum is order-independent where a double mean
    * would drift in the last ulp across partition orders), then ONE
    * double division — never a decimal division, whose precision/scale
    * promotion rules differ between engines — cast back to float. One
    * posexplode + one grouped aggregate + one per-group sort of
    * DIM-sized arrays. */
  def meanPooledVectors(
      tokens: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    tokens
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col(idCol), col("__d"))
      .agg((sum(col("__x").cast("decimal(27,9)")).cast("double") /
        count(lit(1))).cast("float").as("__m"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
        .as("__dm"))
      .select(col(idCol),
        expr("transform(__dm, p -> p.__m)").as(vecCol))

  /** Late-interaction retrieval (the ColBERT scoring shape — Khattab &
    * Zaharia, SIGIR 2020) over multi-vector documents: each document
    * and query is a BAG of token vectors, and
    *
    *   score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt)
    *
    * — every query token finds its best-matching document token, so
    * exact term-level matches survive pooling that a single mean
    * vector washes out. This is the EXACT scorer: use it as the gate
    * baseline and as the re-rank head over [[lateInteractionTopK]]'s
    * pooled-ANN shortlist (the production serve shape).
    *
    * Determinism contract: per-(qt, dt) cosines pin at 4dp (float_dot/
    * float_norm, the sq1 convention); the per-query-token max is exact
    * selection over pinned values; token maxes are exact decimal(18,4)
    * and sum order-independently; the score is one pinned readout;
    * ranks tie-break to the smaller doc id. A query doc never matches
    * itself (query ids share the doc id space in the self-retrieval
    * gate).
    *
    * Scale shape: query tokens BROADCAST (|Q|·tokens rows — queries
    * are few by contract), corpus token rows stream through one
    * broadcast join; the (query_id, doc_id, qt) max and the
    * (query_id, doc_id) sum are two grouped aggregates with map-side
    * partials. Never all-pairs over documents: at 100 TB the corpus
    * side is a SHORTLIST (see [[lateInteractionTopK]]), and even the
    * exhaustive form moves each corpus token once.
    * Returns `(query_id, doc_id, score, rank)`. */
  def lateInteraction(
      docTokens: DataFrame,
      queryTokens: DataFrame,
      docCol: String,
      queryCol: String,
      tokCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val q = broadcast(queryTokens.select(
      col(queryCol).as("query_id"), col(tokCol).as("__qt"),
      col(vecCol).as("__qv"), float_norm(col(vecCol)).as("__qn")))
    val c = docTokens.select(col(docCol).as("doc_id"),
      col(vecCol).as("__cv"), float_norm(col(vecCol)).as("__cn"))
    rankMaxSim(c.join(q, col("doc_id") =!= col("query_id")), k)
  }

  /** Shared maxsim scoring tail: grid rows carry `(query_id, doc_id,
    * __qt, __qv, __qn, __cv, __cn)`; pin cosines, per-token max,
    * decimal sum, rank. */
  private def rankMaxSim(grid: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.float_dot
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    grid
      .withColumn("__cos", Readout.pin(
        float_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")),
        4))
      .groupBy("query_id", "doc_id", "__qt")
      .agg(max(col("__cos")).as("__m"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__m").cast("decimal(18,4)")).as("__s"))
      .withColumn("score", Readout.pin(col("__s").cast("double"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** [[lateInteraction]] behind a pooled-ANN SHORTLIST — the
    * production ColBERT serve shape: mean-pool each side's token bag
    * ([[meanPooledVectors]], decimal-exact), shortlist `shortlist`
    * candidate documents per query through the deterministic IVF index
    * (cell-bounded Σ|cell·probe| pairs, never corpus×queries), then
    * re-rank ONLY the shortlist pairs with the exact maxsim scorer.
    * Recall caveat is the IVF one (see [[ivfIndexKMeans]]'s measured
    * regime notes) compounded by pooling: a document whose pooled
    * vector leaves the probed cells never reaches the re-ranker —
    * exactly the dial `numCells`/`nProbe`/`shortlist` trade against
    * cost, and what a recall gate ([[recallAtK]] vs the exact scorer)
    * should monitor. Returns `(query_id, doc_id, score, rank)`. */
  def lateInteractionTopK(
      docTokens: DataFrame,
      queryTokens: DataFrame,
      docCol: String,
      queryCol: String,
      tokCol: String,
      vecCol: String,
      numCells: Int,
      nProbe: Int,
      shortlist: Int,
      k: Int): DataFrame = {
    require(shortlist >= k, "shortlist must cover the final k")
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val pooledDocs = Lineage.cutLocal(
      meanPooledVectors(docTokens, docCol, vecCol)
        .withColumnRenamed(docCol, "vec_id"))
    val pooledQueries = meanPooledVectors(queryTokens, queryCol, vecCol)
      .withColumnRenamed(queryCol, "vec_id")
    val index = ivfIndex(pooledDocs, "vec_id", vecCol, numCells)
    val cands = ivfTopK(index, pooledQueries, "vec_id", vecCol,
      numCells, nProbe, k = shortlist)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    val q = broadcast(queryTokens.select(
      col(queryCol).as("query_id"), col(tokCol).as("__qt"),
      col(vecCol).as("__qv"), float_norm(col(vecCol)).as("__qn")))
    val c = docTokens.select(col(docCol).as("doc_id"),
      col(vecCol).as("__cv"), float_norm(col(vecCol)).as("__cn"))
    rankMaxSim(c.join(broadcast(cands), Seq("doc_id"))
      .join(q, Seq("query_id")), k)
  }

  /** KNN-Shapley data valuation (Jia et al., VLDB 2019 — exact, not
    * sampled): the Shapley value of each TRAINING point for a test
    * query under the K-NN surrogate utility, via the closed-form
    * rank recursion
    *
    *   s_(N)  = 1[y_(N) = y_q] / N
    *   s_(j)  = s_(j+1) + (1[y_(j)=y_q] − 1[y_(j+1)=y_q])
    *            · min(K, j) / (K · j)
    *
    * over points sorted by distance (rank 1 = nearest). The per-point
    * value tells a data-curation pipeline WHICH examples help or hurt
    * a query population — the principled version of "prune low-value
    * data" (negative-value points actively mislead their neighbors'
    * labels). The efficiency identity Σⱼ s(j) = (1/K)·Σ_{i≤K}
    * 1[y_(i)=y_q] (the full-set utility) holds exactly and is the
    * cheap audit.
    *
    * Determinism contract: ranks order by the 4dp-pinned cosine
    * (descending = ascending distance) with an id tie-break; the
    * recursion unrolls into a SUFFIX SUM of per-rank increments, each
    * an exact integer difference times min(K,j)/(K·j) rounded to 12dp
    * decimal(28,12) — the sums are then order-independent — and each
    * value pins at 6dp. The suffix evaluates as total − exclusive
    * prefix (two LINEAR window frames; Spark's unbounded-following
    * frame rescans per row, O(n²)) with exact decimal subtraction, so
    * values are bit-identical to the direct suffix form the oracle
    * writes. Returns the top-`top` most valuable training points per
    * query: `(query_id, vec_id, shapley, vrank)`.
    *
    * Scale shape: queries broadcast; ONE pass of the corpus through
    * the broadcast grid, one per-query rank window (N-row partitions —
    * at 100 TB cap N by pre-shortlisting with [[ivfTopK]]: ranks past
    * the first few hundred contribute O(1/j) ≈ 0 and the recursion
    * truncates cleanly), one lead + one suffix window sum, one top-k
    * filter. */
  def knnShapley(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      top: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wValue = Window.partitionBy("query_id")
      .orderBy(col("shapley").desc, col("vec_id"))
    shapleyFrame(corpus, queries, idCol, vecCol, labelCol, k)
      .withColumn("vrank", row_number().over(wValue))
      .filter(col("vrank") <= top)
      .select("query_id", "vec_id", "shapley", "vrank")
  }

  /** The full per-(query, training-point) Shapley value frame shared
    * by [[knnShapley]] (per-query top-k readout) and
    * [[knnShapleyBySource]] (provenance rollup): `(query_id, vec_id,
    * shapley)` plus any `carry` columns riding along from the corpus
    * row. All pins documented on [[knnShapley]] apply. */
  private def shapleyFrame(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{float_dot, float_norm}
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      float_norm(col(vecCol)).as("__qn"), col(labelCol).as("__qy")))
    val c = corpus.select(
      (Seq(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
        float_norm(col(vecCol)).as("__cn"), col(labelCol).as("__cy")) ++
        carry.map(col)): _*)
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("vec_id"))
    val wLead = Window.partitionBy("query_id").orderBy(col("__r"))
    // suffix sum as total − exclusive-prefix: Spark evaluates an
    // unbounded-FOLLOWING frame by rescanning the partition per row
    // (O(n²) — measured 3.1 s → 164 s at 10× corpus), while both the
    // whole-partition total and the running prefix are linear frames;
    // the subtraction is exact decimal arithmetic, so values are
    // bit-identical to the direct suffix formulation (the oracle keeps
    // the suffix window — DuckDB computes it linearly)
    val wPrefix = Window.partitionBy("query_id").orderBy(col("__r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val kd = k.toDouble
    val wAll = Window.partitionBy("query_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("__cos", Readout.pin(
        float_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")),
        4))
      .withColumn("__m",
        when(col("__cy") === col("__qy"), 1L).otherwise(0L))
      .withColumn("__r", row_number().over(wRank))
    // per-rank increment: interior ranks carry the recursion step, the
    // farthest rank carries the base term m_N / N. N rides the same
    // partition as the rank windows (no aggregate + join round trip).
    ranked
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__mn", lead(col("__m"), 1).over(wLead))
      .withColumn("__e", round(
        when(col("__mn").isNull, col("__m").cast("double") / col("__n"))
          .otherwise((col("__m") - col("__mn")).cast("double") *
            least(lit(kd), col("__r").cast("double")) /
            (lit(kd) * col("__r"))), 12).cast("decimal(28,12)"))
      .withColumn("__tot", sum(col("__e")).over(wAll))
      .withColumn("__pre", coalesce(sum(col("__e")).over(wPrefix),
        lit(0).cast("decimal(38,12)")))
      .withColumn("shapley", Readout.pin(
        (col("__tot") - col("__pre")).cast("double"), 6))
      .select((Seq("query_id", "vec_id", "shapley") ++ carry)
        .map(col): _*)
  }

  /** Per-SOURCE data valuation — the MIXTURE-decision rollup of
    * [[knnShapley]]: every (query, training-point) Shapley value is
    * attributed to the training point's provenance (`sourceCol`, a
    * corpus column) and aggregated, answering "which SOURCE helps or
    * hurts this query population" — the number a curation pipeline
    * up/down-weights corpora by, one level above the per-point score
    * (and the valuation companion to the dq29 cross-source copy
    * matrix). `n_negative` counts actively-harmful pairs (negative
    * value: the point's label misleads its neighborhood for that
    * query).
    *
    * Determinism contract: per-pair values are [[knnShapley]]'s
    * 6dp-pinned doubles; the per-source total sums them as EXACT
    * decimal(18,6) (order-independent), reads out via one pinned
    * 6dp double; the mean is one fixed-order division of that exact
    * total by the pair count, pinned at 6dp.
    *
    * Scale shape: [[shapleyFrame]]'s one corpus pass against the
    * broadcast query grid, then ONE source-keyed aggregate with
    * map-side partials — output is dimension-sized. At 100 TB swap
    * the frame for the truncated serve path's shortlist (the sq36
    * machinery) — per-source totals over the shortlist carry the same
    * per-query-constant-shift caveat documented there. Returns
    * `(source, n_pairs, n_negative, total_value, mean_value)`. */
  def knnShapleyBySource(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      sourceCol: String,
      k: Int): DataFrame = {
    require(!Seq("query_id", "vec_id", "shapley").contains(sourceCol),
      "sourceCol collides with a value-frame column")
    shapleyFrame(corpus, queries, idCol, vecCol, labelCol, k,
      carry = Seq(sourceCol))
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("shapley") < 0, 1L).otherwise(0L)).as("n_negative"),
        sum(col("shapley").cast("decimal(18,6)")).as("__t"))
      .select(col("source"), col("n_pairs"), col("n_negative"),
        Readout.pin(col("__t").cast("double"), 6).as("total_value"),
        Readout.pin(col("__t").cast("double") / col("n_pairs"), 6)
          .as("mean_value"))
      .orderBy("source")
  }

  /** [[knnShapley]]'s 100-TB serve path: the same closed-form rank
    * recursion computed over a PER-QUERY SHORTLIST — the [[ivfTopK]]
    * top-`shortlist` neighbors — instead of the whole corpus. The
    * recursion restricted to the shortlist is the exact Shapley value
    * of the K-NN game over the shortlist as the training set (base
    * term m_{N'}/N' at the shortlist's farthest rank), and its
    * relationship to the full-corpus values is exact, not heuristic:
    * for every in-shortlist rank j, the full recursion factors as
    *
    *   s_full(j) = s_trunc(j) + [s_full(N'+1) + inc(N') − m_{N'}/N']
    *
    * where the bracket does not depend on j — truncation shifts every
    * in-shortlist value by ONE PER-QUERY CONSTANT, so the value
    * ORDERING among shortlisted points is bit-identical to the exact
    * ordering restricted to those points. What truncation can change
    * is only membership: a point outside the shortlist cannot be
    * returned (each such point's exact value is bounded by the tail
    * increments, |s_full(j)| ≤ Σ_{i≥j} 1/i of alternating-label mass —
    * ranks past a few hundred contribute O(1/j) ≈ 0). The sq36 gate
    * measures exactly that membership effect (truncated vs exact
    * top-`top` overlap), and the r15 stress pins runtime ∝ shortlist,
    * not corpus, at fixed query count.
    *
    * Scale shape: candidate generation is cell-bounded ([[ivfIndex]] +
    * [[ivfTopK]] — one corpus pass against broadcast centroids, never
    * corpus×queries); the label join moves one corpus pass against the
    * broadcast |Q|·N' candidate frame; every window after that runs on
    * N'-row partitions. Returns `(query_id, vec_id, shapley, vrank)`
    * with the same pins as [[knnShapley]]. */
  def knnShapleyTruncated(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      numCells: Int,
      nProbe: Int,
      shortlist: Int,
      top: Int = 10): DataFrame = {
    require(k >= 1, "k must be positive")
    require(shortlist >= k, "shortlist must cover at least k neighbors")
    import org.apache.spark.sql.expressions.Window
    val index = ivfIndex(corpus, idCol, vecCol, numCells)
    // (query_id, neighbor_id, cosine, rank): rank is ivfTopK's
    // (4dp-cosine DESC, id) ordering — the SAME ordering contract as
    // knnShapley's wRank, so the shortlist ranks ARE the recursion's
    // ranks 1..N'
    val cands = ivfTopK(index, queries, idCol, vecCol,
      numCells, nProbe, k = shortlist)
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(labelCol).as("__qy")))
    val withLabels = corpus
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("__cy"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("__m",
        when(col("__cy") === col("__qy"), 1L).otherwise(0L))
      .withColumnRenamed("rank", "__r")
    val wLead = Window.partitionBy("query_id").orderBy(col("__r"))
    val wAll = Window.partitionBy("query_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrefix = Window.partitionBy("query_id").orderBy(col("__r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wValue = Window.partitionBy("query_id")
      .orderBy(col("shapley").desc, col("neighbor_id"))
    val kd = k.toDouble
    withLabels
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__mn", lead(col("__m"), 1).over(wLead))
      .withColumn("__e", round(
        when(col("__mn").isNull, col("__m").cast("double") / col("__n"))
          .otherwise((col("__m") - col("__mn")).cast("double") *
            least(lit(kd), col("__r").cast("double")) /
            (lit(kd) * col("__r"))), 12).cast("decimal(28,12)"))
      .withColumn("__tot", sum(col("__e")).over(wAll))
      .withColumn("__pre", coalesce(sum(col("__e")).over(wPrefix),
        lit(0).cast("decimal(38,12)")))
      .withColumn("shapley", Readout.pin(
        (col("__tot") - col("__pre")).cast("double"), 6))
      .withColumn("vrank", row_number().over(wValue))
      .filter(col("vrank") <= top)
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        col("shapley"), col("vrank"))
  }

  /** Local intrinsic dimensionality (Levina & Bickel 2004 / Amsaleg
    * et al. 2015 MLE) per vector from its k nearest neighbors — the
    * per-POINT complexity score data-pruning recipes rank by (low-LID
    * points sit on simple local manifolds and are redundant; high-LID
    * points carry structure — and pathologically high LID flags noise):
    *
    *   LID(x) = −k / Σ_{i=1..k} ln(d_i / d_k),  d_i = 1 − cos(x, nᵢ).
    *
    * Determinism contract: distances derive from the 4dp-pinned
    * [[ivfTopK]] cosines; each ln ratio rounds to 10dp and sums as
    * DECIMAL (neighbor order differs between engines); LID is one
    * pinned division. Zero distances (exact duplicates, cos = 1 at
    * 4dp) are excluded from the sum — their ln is −∞ and the MLE
    * degenerates; `k_eff` reports how many neighbors actually
    * contributed, and a vector whose contributing sum is 0 (all
    * neighbors at exactly d_k) reports NULL.
    *
    * Scale shape: one IVF index pass + the cell-bounded [[ivfTopK]]
    * self-query (never all-pairs), then a per-query k-ary aggregate.
    * Returns `(vec_id, k_eff, lid)` per vector. */
  def lidScores(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      nProbe: Int = 4,
      k: Int = 8): DataFrame = {
    val index = ivfIndex(corpus, idCol, vecCol, numCells)
    val topk = ivfTopK(index, corpus, idCol, vecCol, numCells, nProbe, k)
      .select(col("query_id"), (lit(1.0) - col("cosine")).as("__d"))
    val withMax = topk.groupBy("query_id")
      .agg(max(col("__d")).as("__dk"))
    topk.join(withMax, Seq("query_id"))
      .filter(col("__d") > 0.0 && col("__dk") > 0.0)
      .select(col("query_id"),
        round(log(col("__d") / col("__dk")), 10)
          .cast("decimal(28,10)").as("__t"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_eff"), sum(col("__t")).as("__s"))
      .select(col("query_id").as("vec_id"), col("k_eff"),
        when(col("__s").cast("double") < 0.0,
          Readout.pin(-col("k_eff").cast("double") /
            col("__s").cast("double"), 6)).as("lid"))
      .orderBy("vec_id")
  }

  /** Hubness profile (Radovanović et al. 2010) of the corpus under
    * k-NN — the k-occurrence distribution N_k(x) = "how many points
    * count x among their k nearest": in high-dimensional embedding
    * spaces a few hubs appear in everyone's neighbor lists while
    * antihubs appear in none, silently skewing every kNN-based dedup/
    * sampling/retrieval stage. The readout is the standard skewness of
    * N_k plus the hub/antihub census.
    *
    * Determinism contract: N_k values are exact integers (every vector
    * kept, absent ones at 0 via the left join); the three power sums
    * are exact decimal(38,0); skewness is one fixed-order double
    * expression of them ([[Stats.jarqueBera]]'s moment recipe), pinned
    * to 6dp. NULL on zero variance.
    *
    * Scale shape: the cell-bounded [[ivfTopK]] self-query, one
    * |corpus|-key count (map-side partials), a left join back to the
    * id column (no vectors move), one 1-row readout. Returns ONE row
    * `(n, k, n_antihubs, n_hubs, mean_nk, skew_nk)` where hubs are
    * N_k ≥ 2k. */
  def hubnessProfile(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      nProbe: Int = 4,
      k: Int = 5): DataFrame = {
    val dec = "decimal(38,0)"
    val index = ivfIndex(corpus, idCol, vecCol, numCells)
    val occ = ivfTopK(index, corpus, idCol, vecCol, numCells, nProbe, k)
      .groupBy(col("neighbor_id").as("__id"))
      .agg(count(lit(1)).as("__nk"))
    val nk = corpus.select(col(idCol).as("__id"))
      .join(occ, Seq("__id"), "left")
      .withColumn("__nk", coalesce(col("__nk"), lit(0L)))
    val agg = nk.agg(
      count(lit(1)).as("n"),
      sum(when(col("__nk") === 0L, 1L).otherwise(0L)).as("n_antihubs"),
      sum(when(col("__nk") >= 2L * k, 1L).otherwise(0L)).as("n_hubs"),
      sum(col("__nk").cast(dec)).as("__s1"),
      sum((col("__nk").cast(dec) * col("__nk").cast(dec)).cast(dec))
        .as("__s2"),
      sum((col("__nk").cast(dec) * col("__nk").cast(dec) *
        col("__nk").cast(dec)).cast(dec)).as("__s3"))
    val n = col("n").cast("double")
    val mu = col("__s1").cast("double") / n
    val r2 = col("__s2").cast("double") / n
    val r3 = col("__s3").cast("double") / n
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    agg.select(col("n"), lit(k).cast("long").as("k"),
      col("n_antihubs"), col("n_hubs"),
      Readout.pin(mu, 6).as("mean_nk"),
      when(col("n") >= 2L && m2 > 0.0,
        Readout.pin(m3 / sqrt(m2 * m2 * m2), 6)).as("skew_nk"))
  }
}
