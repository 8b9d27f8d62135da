package graft
import org.apache.spark.sql.functions._
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("16", "graft-stress")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    def dup(k: Int) = (0 until k).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000)).as("doc_id"), col("text")))
      .reduce(_ union _)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"STRESS $name ${(System.nanoTime()-t0)/1e9}%.1f s ($n rows)")
    }
    time("jaccard_1x")(operators.Dedup.ngramJaccardPairs(dup(1), "doc_id", "text", threshold = 0.8).count())
    time("jaccard_4x")(operators.Dedup.ngramJaccardPairs(dup(4), "doc_id", "text", threshold = 0.8).count())
    time("lsh_1x")(operators.Dedup.minhashLshPairs(dup(1), "doc_id", "text", threshold = 0.8).count())
    time("lsh_4x")(operators.Dedup.minhashLshPairs(dup(4), "doc_id", "text", threshold = 0.8).count())
    time("simhash_4x")(operators.Dedup.simhashPairs(dup(4), "doc_id", "text").count())
    // connected components over the 4x pair graph: cross-replica
    // identical docs chain the replicas together, so cluster count and
    // membership decompose predictably
    time("clusters_1x")(operators.Dedup.duplicateClusters(
      operators.Dedup.minhashLshPairs(dup(1), "doc_id", "text", threshold = 0.8)).count())
    time("clusters_4x")(operators.Dedup.duplicateClusters(
      operators.Dedup.minhashLshPairs(dup(4), "doc_id", "text", threshold = 0.8)).count())
    // skewed-shingle containment stress: corpus + a 2000-copy template
    // family (every family shingle df>=2000 → uncapped candidate volume
    // quadratic in family size). The df cap must keep time flat relative
    // to the clean corpus; the family's pairs are exact dups that the
    // upstream exact-dedup stage owns.
    val template = spark.range(2000).select(
      (col("id") + 9000000L).as("doc_id"),
      lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
        "eiusmod tempor incididunt ut labore et dolore magna aliqua").as("text"))
    time("containment_clean")(operators.Dedup.containmentPairs(
      dup(1), "doc_id", "text", threshold = 0.9).count())
    time("containment_skew_capped")(operators.Dedup.containmentPairs(
      dup(1).union(template), "doc_id", "text", threshold = 0.9,
      maxShingleDf = Some(1000)).count())
    // decontamination at 4x: the benchmark (500 items) broadcasts, so
    // quadrupling the corpus only widens the map side — time should
    // grow ~linearly and the hit count exactly 4x (every replica of a
    // contaminated doc is contaminated)
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    time("decontam_1x")(operators.Dedup.crossContainmentPairs(
      dup(1), "doc_id", "text", bench, "bench_id", "text").count())
    time("decontam_4x")(operators.Dedup.crossContainmentPairs(
      dup(4), "doc_id", "text", bench, "bench_id", "text").count())
    // mixture resample at 4x: one tiny groupBy-count + a narrow filter
    time("mixture_4x")(operators.Sampling.mixtureResample(
      dup(4).withColumn("source", (col("doc_id") % 7).cast("string")),
      "source", "doc_id", "mixstress").count())
    // embedding LSH scaling: replicas of the corpus with one 16-element
    // block negated per replica (cross-replica cosine ~0.5 — below the
    // 0.9 threshold) plus a near-identical perturbed copy per vector.
    // Qualifying pairs grow LINEARLY with corpus size, so time and
    // output growth measure LSH candidate discrimination, not output.
    val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    def edup(k: Int) = (0 until k).map { i =>
      val flipped = if (i == 0) col("embedding") else
        concat(
          slice(col("embedding"), 1, (i - 1) * 16),
          transform(slice(col("embedding"), (i - 1) * 16 + 1, 16),
            x => (-x).cast("float")),
          slice(col("embedding"), i * 16 + 1, 10000))
      emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        flipped.as("embedding"))
    }.reduce(_ unionByName _)
    def withPert(df: org.apache.spark.sql.DataFrame) =
      df.unionByName(df.select((col("vec_id") + lit(100000000L)).as("vec_id"),
        concat(array((element_at(col("embedding"), 1) * lit(1.5)).cast("float")),
          slice(col("embedding"), 2, 10000)).as("embedding")))
    time("embed_lsh_1x")(operators.Similarity.nearDupPairs(
      withPert(edup(1)), "vec_id", "embedding", 0.9, rowsPerBand = 16).count())
    time("embed_lsh_4x")(operators.Similarity.nearDupPairs(
      withPert(edup(4)), "vec_id", "embedding", 0.9, rowsPerBand = 16).count())
    // prefix-sum family: packing + export rank over replicated corpora.
    // Time should grow ~linearly (the collect is one row per partition
    // regardless of data size); the final offset equals total tokens,
    // checked implicitly by count() (all rows assigned).
    def toks(k: Int) = dup(k).select(col("doc_id"),
      functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
    time("packing_1x")(operators.Packing.packSequences(
      toks(1), "doc_id", "n_tokens", budget = 512L).count())
    time("packing_4x")(operators.Packing.packSequences(
      toks(4), "doc_id", "n_tokens", budget = 512L).count())
    time("export_rank_4x")(operators.Packing.globalRank(
      dup(4).select(col("doc_id"), md5(concat(lit("shuf"),
        col("doc_id").cast("string")).cast("binary")).as("h")),
      "h", Seq("doc_id")).count())
    // quantized ANN: corpus scan cost per query batch
    time("quantized_knn_4x")(operators.Similarity.quantizedTopK(
      withPert(edup(4)), emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5).count())
    // retrieval ops at 4x: both are broadcast-shaped (query terms /
    // anchor shingle index), so the corpus quadrupling should cost
    // ~linear map-side work and no new shuffles
    val qvec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    def embDup(k: Int) = (0 until k).map(i =>
      emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    time("hybrid_search_4x")(operators.Similarity.hybridSearch(
      dup(4), "doc_id", "text", embDup(4), "vec_id", "embedding",
      Seq("spark", "query", "table"), qvec, lexTopK = 50, k = 10).count())
    time("hard_negatives_4x")(operators.Similarity.hardNegatives(
      dup(4), "doc_id", "text", embDup(4), "vec_id", "embedding",
      anchors = docs.filter(col("doc_id") < 3), lexTopM = 20, k = 5).count())
    // IVF ANN recall at 4x: the perturbed copies give every query a
    // planted near-dup family (the regime IVF serves), so recall at a
    // 25% scan (4 of 16 cells) must hold up as the corpus quadruples
    val corpus4 = withPert(edup(4)).localCheckpoint()
    val q4 = corpus4.filter(col("vec_id") < 10)
    val t0 = System.nanoTime()
    val bf4 = operators.Similarity.bruteForceTopK(
        corpus4, q4, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (idx4, cents4) = operators.Similarity.ivfIndexKMeans(
      corpus4, "vec_id", "embedding", numCells = 16)
    val ann4 = operators.Similarity.ivfKMeansTopK(idx4, cents4, q4,
        "vec_id", "embedding", nProbe = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"STRESS ivf_recall_4x ${(System.nanoTime()-t0)/1e9}%.1f s " +
      f"(recall@5 ${(bf4 & ann4).size.toDouble / bf4.size}%.2f over ${corpus4.count()} vectors)")
    // chain-diameter CC: a 200k-node containment chain (A⊂B⊂C⊂... —
    // each doc near-contained in the next, so containmentPairs yields
    // consecutive pairs only). Diameter 199,999: min-label propagation
    // moves one hop per round and MUST refuse its 50-round budget;
    // star contraction converges in O(log n) rounds regardless.
    val chainN = 200000L
    val chain = spark.range(chainN - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val t1 = System.nanoTime()
    val (chainClusters, starRounds) =
      operators.Dedup.duplicateClustersStarWithRounds(chain)
    val nNodes = chainClusters.count()
    println(f"STRESS chain_cc_star ${(System.nanoTime()-t1)/1e9}%.1f s " +
      f"($nNodes nodes, diameter ${chainN - 1}, $starRounds rounds)")
    require(nNodes == chainN && starRounds <= 20,
      s"star contraction: $nNodes nodes in $starRounds rounds")
    val labelPropRefused =
      try { operators.Dedup.duplicateClusters(chain, maxRounds = 20).count(); false }
      catch { case _: IllegalStateException => true }
    println(s"STRESS chain_cc_labelprop refused=$labelPropRefused " +
      "(O(diameter) rounds, correctly rejects the 20-round budget)")
    require(labelPropRefused)
    // line-level boilerplate removal at 4x: the cross-replica duplicate
    // docs make every replicated line boilerplate, so the broadcast
    // flag-join path carries a large drop set
    def withLines(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), regexp_replace(col("text"),
        "((\\S+\\s+){7}\\S+)\\s+", "$1\n").as("text"))
    time("line_dedup_1x")(operators.TextAnalysis.removeBoilerplateLines(
      withLines(dup(1)), "doc_id", "text").count())
    time("line_dedup_4x")(operators.TextAnalysis.removeBoilerplateLines(
      withLines(dup(4)), "doc_id", "text").count())
    // perceptual image dedup over 2000 real PNG decodes: twins by
    // construction (pattern = id/2), banded Hamming join
    val imgIds = spark.range(2000).select(col("id").as("media_id"))
    val media2k = multimodal.Multimodal.stripeImages(
      imgIds, "media_id", 36, 16,
      pattern = Some(expr("media_id DIV 2")), ySlope = 5,
      xSlope = Some(expr("3 + media_id DIV 2")))
    time("image_phash_2k")(operators.Dedup.hammingPairs64(
      multimodal.Multimodal.imageDHash(media2k).toDF(),
      "media_id", "dhash", maxDist = 3, chunks = 4).count())
    // context chunking at 4x: zero-shuffle projection must scale flat
    time("chunking_4x")(operators.Packing.chunkByTokens(
      dup(4), "doc_id", "text", window = 64, stride = 48).count())
    // exact substring dedup at 4x: cross-replica identical docs are
    // substrings both ways, so output grows ~quadratically in replicas
    // while the candidate join stays prefix-pruned
    time("substring_4x")(operators.Dedup.substringPairs(
      dup(4), "doc_id", "text").count())
    // snapshot diff at 4x: old = 4x corpus, new = same minus every 10th
    // id, every 7th id's text mutated, plus a fresh 1x replica — the
    // shuffle carries thin (id, checksum) rows, so time should track the
    // scan cost, and the delta counts decompose exactly
    val old4 = dup(4)
    val new4 = old4.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .union(docs.select((col("doc_id") + lit(9500000)).as("doc_id"),
        col("text")))
    time("snapshot_diff_4x")(operators.Snapshot.diff(
      old4, new4, "doc_id", xxhash64(col("text"))).count())
    // vocab/zipf at 4x: replication multiplies every token count by 4,
    // so the coverage curve and slope are replica-invariant while the
    // count aggregation quadruples — time should grow ~linearly
    time("vocab_coverage_4x")(operators.TextAnalysis.vocabCoverage(
      dup(4), "text", topN = 100).count())
    time("zipf_4x")(operators.TextAnalysis.zipfProfile(
      dup(4).withColumn("source", (col("doc_id") % 7).cast("string")),
      "source", "text").count())
    // winnowing at 4x: cross-replica identicals share ALL fingerprints,
    // so pairs grow ~quadratically in replicas while the df cap holds
    // hot fingerprints out of the bucket join
    time("winnowing_4x")(operators.Dedup.winnowingPairs(
      dup(4), "doc_id", "text", maxFpDf = Some(200)).count())
    // semantic dedup at 4x: the perturbed near-dup copies (cosine
    // ~0.999) must collapse onto their originals while the replicas'
    // negated blocks (~0.5) survive — survivors ≈ half the corpus, and
    // the per-cell quadratic work is what the cell count bounds
    time("semantic_dedup_1x")(operators.Similarity.semanticDedup(
      withPert(edup(1)), "vec_id", "embedding",
      numCells = 16, threshold = 0.9).count())
    time("semantic_dedup_4x")(operators.Similarity.semanticDedup(
      withPert(edup(4)), "vec_id", "embedding",
      numCells = 16, threshold = 0.9).count())
    // DSIR importance weights at 4x: gram volume quadruples but both
    // shuffles stay bounded (buckets, then docs) and the model is a
    // broadcast — time should track the tokenize/scan cost
    def withSrc(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("src", (col("doc_id") % 7).cast("string"))
    time("importance_1x")(operators.Sampling.importanceWeights(
      withSrc(dup(1)), "doc_id", "text", isTarget = col("src") === "0",
      buckets = 4096, salt = "st", topK = 100).count())
    time("importance_4x")(operators.Sampling.importanceWeights(
      withSrc(dup(4)), "doc_id", "text", isTarget = col("src") === "0",
      buckets = 4096, salt = "st", topK = 100).count())
    // real WAV decode over 20k waveforms (~1.4k samples each): encode +
    // decode + stats, all kernel-side — embarrassingly parallel
    time("wav_decode_20k")(multimodal.Multimodal.decodeAudioStats(
      multimodal.Multimodal.patternWavs(
        spark.range(20000).select(col("id").as("media_id")),
        "media_id", nSamples = lit(800) + (col("media_id") % 5) * 160))
      .toDF().count())
    // pruned merge SLOPES: the same 1k-key narrow update against 2M-
    // and 8M-row tables (32 range files each). merge()'s cost grows
    // with the table (full rewrite); prunedMerge's stays at the fixed
    // manifest/commit overhead + one rewritten file. On a page-cache-
    // hot single box the absolute crossover sits further out, but the
    // SLOPES are the 100 TB story: O(table) vs O(touched).
    for (rows <- Seq(2000000L, 8000000L)) {
      val root = java.nio.file.Files.createTempDirectory("graft-stress-store")
      val store = new sources.ResultStore(spark, root.toString)
      val base = spark.range(rows).select(col("id").as("k"),
        concat(lit("v"), col("id"), lit("-"),
          md5(col("id").cast("string"))).as("v"))
      store.prunedMerge("big", base, "k", sources.Combine.Replace(),
        initialFiles = 32)
      store.merge("big_copy", base.repartitionByRange(32, col("k")), "k")
      val upd = spark.range(1000).select((col("id") + 100000).as("k"),
        lit("UPD").as("v"))
      val tM = System.nanoTime()
      store.merge("big_copy", upd, "k")
      val fullS = (System.nanoTime() - tM) / 1e9
      val tP = System.nanoTime()
      store.prunedMerge("big", upd, "k", sources.Combine.Replace())
      val prunedS = (System.nanoTime() - tP) / 1e9
      val n = store.count("big")
      println(f"STRESS pruned_merge_${rows / 1000000}m full=$fullS%.1f s " +
        f"pruned=$prunedS%.1f s ($n rows)")
      require(n == rows)
    }
    // round-6 operators. BPE: the histogram (distinct words) is
    // IDENTICAL at 1x and 4x (replicas add count, not vocabulary), so
    // per-iteration cost must stay flat — only the initial
    // tokenize+count pass scales with the corpus
    time("bpe_1x")(operators.Bpe.learnMerges(dup(1), "text", 6).count())
    time("bpe_4x")(operators.Bpe.learnMerges(dup(4), "text", 6).count())
    // k-means: per round one projection pass + a kxdim-bounded update —
    // time should track corpus size linearly, driver state constant
    time("kmeans_1x")(operators.Clustering.kmeansCellStats(
      edup(1), "vec_id", "embedding", k = 8, iters = 2).count())
    time("kmeans_4x")(operators.Clustering.kmeansCellStats(
      edup(4), "vec_id", "embedding", k = 8, iters = 2).count())
    // CDC chunking: pure projection+explode, embarrassingly parallel
    time("cdc_4x")(operators.Packing.cdcChunks(
      dup(4), "doc_id", "text").count())
    // BM25: pre-filtered term rows + broadcast df — no corpus shuffle
    time("bm25_4x")(operators.Similarity.bm25Search(
      dup(4), "doc_id", "text", Seq("merge", "window", "stream")).count())
    // bigram LM: replicas multiply bigram COUNTS, not distinct bigrams,
    // so the LM tables stay fixed-size while the scoring join scales
    time("bigram_nll_1x")(operators.TextAnalysis.bigramNll(
      dup(1), "doc_id", "text").count())
    time("bigram_nll_4x")(operators.TextAnalysis.bigramNll(
      dup(4), "doc_id", "text").count())
    // contamination spans: benchmark shingle set broadcasts — the 4x
    // corpus only widens the map side + the matched-positions shuffle
    time("contam_span_4x")(operators.Dedup.contaminationSpans(
      dup(4).filter(col("doc_id") % 47 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 47 === 0), "text").count())
    // profiler: one scan whatever the width; 4x rows ~ 4x time ceiling
    time("profile_4x")(operators.Profile.profile(dup(4)).count())
    // round-6b operators. Interval join: replicas shift event TIMES by
    // disjoint month-scale offsets, so per-replica session sets are
    // time-disjoint — pairs and work grow exactly linearly (the grid
    // blocks any cross-replica compare by construction)
    val ev = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    def evDup(k: Int) = (0 until k).map(i => ev.select(
      (col("user_id") + lit(i * 10000000L)).as("user_id"),
      (col("ts_us") + lit(i * 400L * 86400L * 1000000L)).as("ts_us"),
      col("value"))).reduce(_ union _)
    def sessions(k: Int) = {
      val s = streaming.StatefulOps.sessionizeBatch(evDup(k), 1800000000L)
        .select("user_id", "start_us", "end_us")
      (s.filter(col("user_id") % 2 === 0), s.filter(col("user_id") % 2 === 1))
    }
    time("interval_join_1x") { val (l, r) = sessions(1)
      operators.Intervals.overlapJoin(l, r, "start_us", "end_us").count() }
    time("interval_join_4x") { val (l, r) = sessions(4)
      operators.Intervals.overlapJoin(l, r, "start_us", "end_us").count() }
    // quality rules: zero-shuffle projection — embarrassingly parallel
    time("gopher_rules_4x")(operators.TextAnalysis.qualityRuleFilter(
      dup(4), "doc_id", "text",
      Seq("the", "a", "data", "value", "row")).count())
    // power iteration: per round one projection pass + a dim-bounded
    // aggregate — linear in corpus, driver state constant
    time("pca_1x")(operators.Clustering.powerIterationScores(
      edup(1), "vec_id", "embedding", iters = 2, topK = 50).count())
    time("pca_4x")(operators.Clustering.powerIterationScores(
      edup(4), "vec_id", "embedding", iters = 2, topK = 50).count())
    // interleave: grouped prefix-sum rank + TakeOrdered head — linear
    time("interleave_4x")(operators.Sampling.interleaveSchedule(
      dup(4).withColumn("source", (col("doc_id") % 7).cast("string")),
      "source", "doc_id", Map("0" -> 4L, "1" -> 2L), topN = 500).count())
    // rate anomalies: one (key, hour) aggregate + broadcast moments
    time("rate_anomaly_4x")(operators.Behavior.rateAnomalies(
      evDup(4).withColumn("event_type",
          (col("user_id") % 5).cast("string"))
        .withColumn("ts", timestamp_micros(col("ts_us"))),
      "event_type", "ts").count())
    // round-6c operators. PageRank: replicas form disjoint components
    // (shifted node ids), so edges, nodes, and per-round work all grow
    // exactly linearly; the link frame shuffles once per size.
    val li = Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    def graphDup(k: Int) = {
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("s")).distinct()
      (0 until k).map { i =>
        val off = lit(i * 100000000L)
        pairs.select((col("c") + off).as("src"), (col("s") + off).as("dst"))
          .unionByName(pairs.select((col("s") + off).as("src"),
            (col("c") + off).as("dst")))
      }.reduce(_ union _)
    }
    time("pagerank_1x")(operators.Graph.pageRank(graphDup(1), 3).count())
    time("pagerank_4x")(operators.Graph.pageRank(graphDup(4), 3).count())
    // span dedup: replicas are exact copies, so every replica-2+ span
    // duplicates replica 1 — output docs grow 4x while KEPT spans stay
    // at the 1x level (the dedup itself is the work being measured)
    time("span_dedup_1x")(operators.Dedup.spanDedup(
      dup(1), "doc_id", "text", spanWords = 5).count())
    time("span_dedup_4x")(operators.Dedup.spanDedup(
      dup(4), "doc_id", "text", spanWords = 5).count())
    // MMR: post-candidate work is |Q|·m² — corpus size only affects
    // the brute-force candidate scan, so 4x corpus ~ 4x scan ceiling
    val emb1 = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    def embDup4 = (0 until 4).map(i => emb1.select(
      (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
      col("embedding"))).reduce(_ union _)
    time("mmr_1x")(operators.Similarity.mmrRerank(
      emb1, emb1.filter(col("vec_id") < 16), "vec_id", "embedding",
      k = 5, m = 16).count())
    time("mmr_4x_corpus")(operators.Similarity.mmrRerank(
      embDup4, emb1.filter(col("vec_id") < 16), "vec_id", "embedding",
      k = 5, m = 16).count())
    // PMI: token volume dominates; pair space is vocab-bounded
    time("pmi_4x")(operators.TextAnalysis.pmiCollocations(
      dup(4), "doc_id", "text", minCount = 5L, topK = 40).count())
    // round-6d operators. Bitext mining: replicas keep their labels, so
    // sides A and B both grow 4x and the A×B candidate frame 16x — the
    // quadratic stage is the one being measured (the production path
    // swaps in ANN candidates; this pins the exact-score ceiling).
    // Expected OUTPUT at 4x is ~zero pairs: every vector's k-NN level
    // saturates at its exact replicas (cos 1.0), so no pair clears
    // margin > 1 — the hubness normalization working as designed.
    def embDupL(k: Int) = (0 until k).map(i => emb1.select(
      (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
      col("embedding"), col("label"))).reduce(_ union _)
    time("bitext_1x")(operators.Similarity.mineBitext(
      embDupL(1), "vec_id", "embedding",
      col("label") === 0, col("label") === 1).count())
    time("bitext_4x")(operators.Similarity.mineBitext(
      embDupL(4), "vec_id", "embedding",
      col("label") === 0, col("label") === 1).count())
    // OOD: two dim-bounded explode passes — linear
    time("ood_4x")(operators.Similarity.oodScores(
      embDupL(4), "vec_id", "embedding", topK = 50).count())
    // CUSUM / DAU-WAU / A-B: window + aggregate machinery, linear
    val evT = (k: Int) => evDup(k)
      .withColumn("event_type", (col("user_id") % 5).cast("string"))
    time("cusum_4x")(operators.Behavior.cusumChangepoints(
      evT(4).withColumn("ts", timestamp_micros(col("ts_us"))),
      "event_type", "ts", slackCounts = 1L, thresholdCounts = 8L).count())
    time("active_users_4x")(operators.Behavior.activeUsers(
      evDup(4), "user_id", "ts_us").count())
    time("ab_4x")(operators.Stats.abTest(
      evT(4), "value", col("user_id") % 2 === 0,
      Seq("event_type")).count())
    // round-6e operators. Markov attribution: the lead window is the
    // only data-sized work — 4x events ~ 4x that window, the chains
    // stay |types|²; cohort LTV: two user-keyed aggregates + a
    // cohort-bounded cumulative window — linear
    val evA = (k: Int) => evDup(k)
      .withColumn("event_type", (col("user_id") % 5).cast("string"))
      .withColumn("event_id", col("user_id") * 1000 + col("ts_us") % 1000)
    time("markov_attr_1x")(operators.Behavior.markovAttribution(
      evA(1), "user_id", "ts_us", "event_type", "event_id",
      conversionType = "0", channels = Seq("1", "2", "3"),
      steps = 4).count())
    time("markov_attr_4x")(operators.Behavior.markovAttribution(
      evA(4), "user_id", "ts_us", "event_type", "event_id",
      conversionType = "0", channels = Seq("1", "2", "3"),
      steps = 4).count())
    time("cohort_ltv_4x")(operators.Behavior.cohortLtv(
      evA(4), "user_id", "ts_us", "event_type", "value", "0").count())
    spark.stop()
  }
}
