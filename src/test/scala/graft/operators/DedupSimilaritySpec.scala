package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables.load(spark, sf, "documents")
  private def emb = graft.Tables.load(spark, sf, "embeddings")

  test("exact dedup marks every duplicate group with one canonical") {
    val d = Seq((1L, "hello world"), (2L, "Hello   WORLD"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text").orderBy("doc_id").collect()
    // normalization: lower + collapse whitespace → 1 and 2 same group
    assert(out.map(_.getAs[Boolean]("is_canonical")).toSeq ==
      Seq(true, false, true))
    assert(out(0).getAs[String]("fingerprint") ==
      out(1).getAs[String]("fingerprint"))
  }

  test("simhash64 is deterministic and near for near-identical docs") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different words about spark query engines at scale"))
      .toDF("doc_id", "text")
    val sigs = d.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    val sigs2 = d.select(Dedup.simhash64(col("text")).as("sig"))
      .orderBy(col("sig")).collect().map(_.getLong(0))
    assert(sigs.toSet == sigs2.toSet) // deterministic across plans
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0), sigs(1)) < hamming(sigs(0), sigs(2)))
  }

  test("simhashPairs finds identical docs at distance 0") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated content entirely different")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("minhash LSH matches the exact jaccard join on real documents") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty) // the corpus does contain near-dups
  }

  test("ngramJaccardPairs df-cap keeps exact results when pairs share rare shingles") {
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, maxShingleDf = Some(1000))
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
    assert(capped.collect().toSet == exact.collect().toSet)
  }

  test("containmentPairs catches an excerpt inside a larger doc that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " " + (1 to 40).map(i => s"filler$i word$i extra$i").mkString(" ")
    val d = Seq((1L, small), (2L, big), (3L, "completely unrelated text here now"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.contains((1L, 2L)))    // the excerpt IS contained
    assert(!cont.contains((2L, 1L)))   // the container is not
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))    // symmetric Jaccard misses it
  }

  test("substringPairs verifies contiguity — scattered shingles are filtered") {
    val d = Seq(
      (1L, "x y z"),                  // contiguous inside 2 (and == 4 lowered)
      (2L, "a b x y z c d"),
      (3L, "p q r s"),                // ALL of 3's shingles occur in 5...
      (5L, "p q r x q r s"),          // ...but never contiguously
      (4L, "X Y Z"),                  // case-folds to 1's stream
      (6L, "one two")                 // under the 3-token shingle floor
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // containment candidates include (3,5); contiguity kills it
    assert(!pairs.contains((3L, 5L)))
    assert(pairs.contains((1L, 2L)) && !pairs.contains((2L, 1L)))
    // identical-after-folding docs substring each other both ways
    assert(pairs.contains((1L, 4L)) && pairs.contains((4L, 1L)))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
    // sanity: the candidate stage alone would have kept (3,5)
    val cands = Dedup.containmentPairs(d, "doc_id", "text", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((3L, 5L)))
  }

  test("crossContainmentPairs catches planted benchmark text, broadcasts the index") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated benchmark question about spark internals"))
      .toDF("bench_id", "text")
    val corpus = Seq(
      // doc 10 embeds benchmark 1 verbatim inside a larger doc
      (10L, "intro words before the quick brown fox jumps over the lazy " +
        "dog tonight and plenty of trailing context after the quote"),
      // doc 11 shares nothing 3-gram-sized with either benchmark
      (11L, "totally different content with no shared trigrams anywhere"),
      // doc 12 lightly edited copy of benchmark 2 (one word changed at
      // the edge still leaves >=80% of its trigrams intact? no — keep
      // it verbatim to pin the exact-containment arithmetic)
      (12L, "completely unrelated benchmark question about spark internals"))
      .toDF("doc_id", "text")
    val out = Dedup.crossContainmentPairs(
      corpus, "doc_id", "text", bench, "bench_id", "text", threshold = 0.8)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((10L, 1L, 1.0), (12L, 2L, 1.0)))
    // the benchmark inverted index must broadcast — the corpus side
    // joining without a shuffle is the whole scale story
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark index not broadcast:\n$plan")
  }

  test("hybridSearch recalls lexically, ranks by vector, and respects both cutoffs") {
    val docs = Seq(
      (1L, "spark spark spark table"),   // strong lexical match
      (2L, "spark query"),               // weaker lexical match
      (3L, "query table words here"),    // weak lexical match
      (4L, "nothing relevant at all"),   // no query terms → no candidate
      (5L, "spark table query spark"))   // strong lexical match
      .toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(0.0f, 1.0f)),   // orthogonal to query vector
      (2L, Array(1.0f, 0.0f)),   // identical to query vector
      (3L, Array(0.6f, 0.8f)),
      (4L, Array(1.0f, 0.0f)),   // perfect cosine but lexically absent
      (5L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.hybridSearch(docs, "doc_id", "text",
      emb, "vec_id", "embedding",
      Seq("spark", "query", "table"), Array(1.0f, 0.0f),
      lexTopK = 3, k = 2)
    val got = out.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(3))).toSeq
    // lexical stage keeps docs 1, 5, 2 (top-3 by tf-idf); rerank by
    // cosine puts 2 (cos 1.0) over 5 (cos 0.8) over 1 (cos 0) and cuts
    // at k=2. Doc 4's perfect cosine is irrelevant — it never recalled.
    assert(got == Seq((2L, 1), (5L, 2)))
    assert(!out.collect().map(_.getLong(0)).contains(4L))
  }

  test("hardNegatives mines lexically-confusable, semantically-far docs") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the sleepy cat"),  // confusable
      (2L, "the quick brown fox jumps over a tall fence"),    // confusable
      (3L, "completely unrelated text with zero shared trigrams"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.4359f)),  // near the anchor
      (2L, Array(0.0f, 1.0f)),     // far from the anchor
      (3L, Array(-1.0f, 0.0f)))    // farthest, but lexically absent
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(docs, "doc_id", "text",
      emb, "vec_id", "embedding",
      anchors = docs.filter(col("doc_id") === 0), lexTopM = 10, k = 2)
    val got = out.orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(4))).toSeq
    // candidates are 1 and 2 (share trigrams with the anchor); the
    // HARDER negative is 2 (cosine 0 < 0.9) → rank 1. Doc 3's extreme
    // distance is irrelevant — no lexical overlap, never a candidate.
    assert(got == Seq((2L, 1), (1L, 2)))
    assert(!out.collect().map(_.getLong(1)).contains(3L))
  }

  test("round-4 operators accept empty inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // empty corpus, empty benchmark, and both
    assert(Dedup.crossContainmentPairs(emptyDocs, "doc_id", "text",
      someDocs, "doc_id", "text").count() == 0)
    assert(Dedup.crossContainmentPairs(someDocs, "doc_id", "text",
      emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.crossContainmentPairs(emptyDocs, "doc_id", "text",
      emptyDocs, "doc_id", "text").count() == 0)
    // empty embedding corpus through diversity sampling
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.diversitySample(
      emptyEmb, "vec_id", "embedding", 8, 5, "s").count() == 0)
    // empty corpus through mixture resampling and quantile cut
    val emptySrc = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Sampling.mixtureResample(
      emptySrc, "source", "doc_id", "m").count() == 0)
    assert(Sampling.topQuantilePerGroup(
      emptySrc, "source", col("doc_id"), "doc_id", 0.5).count() == 0)
    assert(TextAnalysis.shingleNovelty(emptyDocs, "doc_id", "text")
      .count() == 0)
  }

  test("incrementalDedup registry equals one-shot dedup for any batch split") {
    val docs = Seq(
      (10L, "same text here okay"), (3L, "same text here okay"),
      (20L, "same text here okay"), (7L, "a unique document entirely"),
      (5L, "another unique doc text")).toDF("doc_id", "text")
    def run(nFiles: Int): Map[String, Long] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
      docs.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      graft.operators.Dedup.incrementalDedup(
        graft.streaming.StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "doc_id", "text", store, "reg", s"$tmp/ckpt")
        .awaitTermination()
      store.read("reg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val oneBatch = run(1)
    val manyBatches = run(4)
    // min-merge: the canonical id per fingerprint is the global min no
    // matter how the corpus is split into micro-batches
    assert(oneBatch == manyBatches)
    assert(oneBatch.size == 3)
    assert(oneBatch.values.toSet == Set(3L, 7L, 5L)) // 3 beats 10/20
  }

  test("incrementalNearDup pair table equals one-shot banded candidates " +
      "for any batch split") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (20L, "the quick brown fox jumps over the lazy dog today"),
      (7L, "a completely unrelated document about spark plans here"),
      (5L, "another unique text with its own distinct shingles okay"))
      .toDF("doc_id", "text")
    // one-shot baseline: banded candidates over the whole corpus
    val baseline = Dedup.bucketPairs(
      Dedup.portableBandKeys(
        Dedup.portableSigs(docs, "doc_id", "text", 3, 8), 2, 4),
      Seq("band", "band_key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .as[(Long, Long)].collect().toSet
    assert(baseline == Set((3L, 10L), (3L, 20L), (10L, 20L)),
      baseline.toString)
    def run(nFiles: Int): Set[(Long, Long)] = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-incneardup").toString
      docs.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/in")
      val store = new graft.sources.ResultStore(spark, s"$tmp/store")
      graft.operators.Dedup.incrementalNearDup(
        graft.streaming.StreamRunner.parquetStream(spark, s"$tmp/in", 1),
        "doc_id", "text", store, "sigs", "pairs", s"$tmp/ckpt")
        .awaitTermination()
      store.read("pairs").as[(Long, Long)].collect().toSet
    }
    assert(run(1) == baseline)
    assert(run(4) == baseline)
  }

  test("centroidDrift: hand-computed per-label cosine to the global mean") {
    // label a: [1,0],[1,0] -> mean [1,0]; label b: [0,1] -> [0,1];
    // global mean [2/3,1/3]: cos(a) = 2/sqrt(5), cos(b) = 1/sqrt(5)
    val df = Seq(
      (1L, "a", Array(1.0f, 0.0f)), (2L, "a", Array(1.0f, 0.0f)),
      (3L, "b", Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(df, "label", "embedding")
      .as[(String, Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      ("a", 2L, Some(0.894427)), ("b", 1L, Some(0.447214))), got.toString)
    // a zero vector alone: zero-norm centroid -> NULL cosine
    val z = Similarity.centroidDrift(
      Seq((1L, "z", Array(0.0f, 0.0f))).toDF("vec_id", "label", "embedding"),
      "label", "embedding")
      .as[(String, Long, Option[Double])].collect().head
    assert(z == (("z", 1L, None)), z.toString)
  }

  test("associationRules: hand-computed confidence/lift, both directions") {
    // A in 4 baskets, B in 2, together in 2, U = 5:
    // conf(A→B) = 0.5, conf(B→A) = 1.0, lift = 2·5/(4·2) = 1.25
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (4L, "A"), (5L, "C"))
      .toDF("u", "i")
    val got = Similarity.associationRules(
      baskets, "u", "i", minSupport = 1L, maxPerUser = 10, topK = 10)
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().toSeq
    // lift ties → confidence DESC breaks: B→A (conf 1.0) leads
    assert(got == Seq(
      ("B", "A", 2L, 2L, 4L, 1.0, 1.25),
      ("A", "B", 2L, 4L, 2L, 0.5, 1.25)), got.toString)
    // minSupport prunes: threshold 3 leaves nothing
    assert(Similarity.associationRules(
      baskets, "u", "i", minSupport = 3L).count() == 0)
  }

  test("incrementalDedup commits are batch-sized, not registry-sized") {
    // the quadratic-write trap: a 2-doc micro-batch against a 64-doc
    // registry must rewrite ~2 registry files, not all of them. Batch
    // order is pinned by file mtime (FileStreamSource processes older
    // files first): the big file seeds an 8-file registry, then five
    // 2-doc batches trickle in.
    val tmp = java.nio.file.Files.createTempDirectory("graft-incflat").toString
    val big = (1L to 64L).map(i => (i, s"seed document number $i with words"))
      .toDF("doc_id", "text")
    big.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    Thread.sleep(1200) // distinct mtime second → deterministic order
    for (b <- 1 to 5) {
      (0 to 1).map(j => (1000L + b * 10 + j, s"late doc $b $j unique text"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      Thread.sleep(1100)
    }
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    val commits = scala.collection.mutable.ArrayBuffer
      .empty[graft.sources.PrunedCommit]
    graft.operators.Dedup.incrementalDedup(
      graft.streaming.StreamRunner.parquetStream(spark, s"$tmp/in", 1),
      "doc_id", "text", store, "reg", s"$tmp/ckpt", registryPartitions = 8,
      onCommit = (_, c) => commits.synchronized { commits += c })
      .awaitTermination()
    assert(store.count("reg") == 74)
    val trickle = commits.filter(_.totalFiles >= 8) // post-seed commits
    assert(trickle.size >= 5, commits.mkString(", "))
    trickle.foreach { c =>
      assert(c.rewrittenFiles <= 2,
        s"2-key batch rewrote ${c.rewrittenFiles} files: $commits")
      assert(c.carriedFiles >= 6, commits.mkString(", "))
    }
  }

  test("incrementalNearDup candidate reads are batch-sized, not " +
      "registry-sized") {
    // the quadratic-READ trap (the write-side twin is pinned above):
    // a 2-doc micro-batch's candidate lookup against a 64-doc sig
    // registry must open only the files its own band keys can touch
    // (≤ 2 docs × 2 bands = 4), never the whole band_key-ranged
    // registry. Batch order pinned by file mtime as in the dedup spec.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndflat").toString
    val big = (1L to 64L).map(i =>
      (i, s"seed document number $i with some unique words $i here"))
      .toDF("doc_id", "text")
    big.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    Thread.sleep(1200)
    for (b <- 1 to 5) {
      (0 to 1).map(j => (1000L + b * 10 + j, s"late doc $b $j unique text"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      Thread.sleep(1100)
    }
    val store = new graft.sources.ResultStore(spark, s"$tmp/store")
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    graft.operators.Dedup.incrementalNearDup(
      graft.streaming.StreamRunner.parquetStream(spark, s"$tmp/in", 1),
      "doc_id", "text", store, "sigs", "pairs", s"$tmp/ckpt",
      registryPartitions = 8,
      onPrunedRead = (o, t) => reads.synchronized { reads += ((o, t)) })
      .awaitTermination()
    // five post-seed batches, each a pruned point lookup
    assert(reads.size == 5, reads.mkString(", "))
    reads.foreach { case (opened, total) =>
      assert(total >= 8, reads.mkString(", ")) // registry stayed wide
      assert(opened <= 4, // bounded by the BATCH's band-key count
        s"2-doc batch opened $opened of $total sig files: $reads")
    }
  }

  test("minhashEstimateAudit: exact duplicates estimate perfectly; " +
      "bias bounded by MAE") {
    // 3 identical docs: every candidate pair has est = 1 and J = 1
    val dups = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (9L, "a completely different document about spark physical plans"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashEstimateAudit(dups, "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(got == ((3L, Some(0.0), Some(0.0))), got.toString)
    // a near-dup corpus: MAE in [0,1] and |bias| <= MAE
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val n = Dedup.minhashEstimateAudit(near, "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(n._1 > 0 && n._2.get >= 0.0 && n._2.get <= 1.0 &&
      math.abs(n._3.get) <= n._2.get + 1e-9, n.toString)
  }

  test("prefixClusters: shared first-k tokens group; short docs and " +
      "singletons excluded") {
    val docs = Seq(
      (9L, "The quick fox jumped over"),
      (2L, "the  quick fox ran away"),   // case/whitespace normalize in
      (5L, "the quick fox"),             // exactly k tokens counts
      (3L, "completely different text here"), // singleton: dropped
      (4L, "too short"))                 // < k tokens: excluded
      .toDF("doc_id", "text")
    val got = Dedup.prefixClusters(docs, "doc_id", "text", k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("the quick fox", 3L, 2L)), got.toString)
  }

  test("kCenterCoreset: min-id seed, farthest-point rounds, selected " +
      "points never re-picked") {
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),    // orthogonal to seed: d = 1.0
      (3L, Array(1.0f, 1.0f)),    // cos 0.7071 to both: d = 0.2929
      (4L, Array(1.0f, 0.01f)))   // near-dup of the seed: d ~ 0
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(pts, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1, 1L), (2, 2L), (3, 3L)),
      got.toString)
    assert(got.head._3.isEmpty, got.toString)
    assert(math.abs(got(1)._3.get - 1.0) < 1e-9, got.toString)
    assert(math.abs(got(2)._3.get - 0.2929) < 1e-9, got.toString)
    // k = corpus size on a corpus with an exact duplicate: every point
    // selected once, no center repeats (the -1 sentinel's job)
    val dup = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val all = Similarity.kCenterCoreset(dup, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(all.map(_._2).toSet == Set(1L, 2L, 3L), all.toString)
  }

  test("cosineHistogram: pairs bucket on 4dp cosine, counts exact") {
    // one cell (numCells = 1): 3 pairs — (1,2) cos 1.0, (1,3)/(2,3)
    // cos 0.0; width 0.5 -> buckets 2 and 0
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineHistogram(pts, "vec_id", "embedding",
      numCells = 1, width = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 0.0), (2L, 1L, 1.0)), got.toString)
  }

  test("rrfFuse: hand-computed reciprocal-rank scores, missing side " +
      "contributes zero, ties to smaller id") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    // rrfK = 0 for readable numbers: 11 -> 1/2+1/1 = 1.5, 10 -> 1.0,
    // 12 -> 0.5
    val got = Similarity.rrfFuse(a, b, k = 3, rrfK = 0)
      .orderBy("rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == Seq((1L, 11L, 1.5, 1), (1L, 10L, 1.0, 2),
      (1L, 12L, 0.5, 3)), got.toString)
    // equal fused scores break to the SMALLER neighbor id
    val t1 = Seq((1L, 20L, 1), (1L, 21L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val t2 = Seq((1L, 21L, 1), (1L, 20L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val tie = Similarity.rrfFuse(t1, t2, k = 2, rrfK = 0)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(tie.map(_._2) == Seq(20L, 21L), tie.toString)
  }

  test("kCenterAssign: nearest-center coverage, ties to smallest " +
      "center id") {
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)),    // d 0.2929 to BOTH centers: tie -> 1
      (4L, Array(1.0f, 0.01f)))   // rounds to d 0 vs center 1
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterAssign(pts, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 3L), (2L, 1L)),
      got.toString)
    assert(math.abs(got.head._3 - 0.2929) < 1e-9, got.toString) // max
    assert(got.head._4 == 0.097633, got.toString)               // mean
    assert(got(1)._3 == 0.0 && got(1)._4 == 0.0, got.toString)
  }

  test("captureRecapture: Chapman estimate and union coverage") {
    // |A|=3, |B|=2, overlap 1: N-hat = 4*3/2 - 1 = 5, coverage 4/5
    val a = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.captureRecapture(a, b)
      .as[(Long, Long, Long, Double, Option[Double])].collect().toSeq
    assert(got == Seq((3L, 2L, 1L, 5.0, Some(0.8))), got.toString)
    // disjoint detectors: m=0 still defined (the Chapman +1s)
    val disj = Dedup.captureRecapture(a,
      Seq((7L, 8L)).toDF("id_a", "id_b"))
      .as[(Long, Long, Long, Double, Option[Double])].collect().head
    assert(disj == ((3L, 1L, 0L, 7.0, Some(0.571429))), disj.toString)
  }

  test("duplicateClusters labels components with min id and sizes") {
    // chain 1-2-3 (transitive, NOT a clique) + isolated pair 10-11
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("qualitySurvivors keeps max quality, ties to smallest id; range guard") {
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val q = Seq((1L, 10L), (2L, 50L), (3L, 50L), (10L, 7L), (11L, 9L),
      (99L, 1000L)) // 99 is unclustered: absent from the output
      .toDF("doc_id", "n_chars")
    val got = Dedup.qualitySurvivors(pairs, q, "doc_id", "n_chars")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: quality 50 tie between ids 2 and 3 -> 2 wins;
    // cluster 10: 11 (quality 9) beats 10 (quality 7)
    assert(got == Seq((1L, 3L, 2L, 50L), (10L, 2L, 11L, 9L)),
      got.toString)
    // negative quality is outside the packable range: loud, not wrong
    val bad = Seq((1L, -5L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L))
      .toDF("doc_id", "n_chars")
    val e = intercept[Exception] {
      Dedup.qualitySurvivors(pairs, bad, "doc_id", "n_chars").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("packable range"), msgs)
  }

  test("lshRecallAudit: exact duplicates always recalled; readout invariants") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "entirely different content about distributed query engines"),
      (4L, "yet another unrelated document mentioning spark catalyst"))
      .toDF("doc_id", "text")
    val got = Dedup.lshRecallAudit(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 2, threshold = 0.8)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    val (nTrue, nCand, nHit, recall, precision) = got
    // identical docs have identical signatures in EVERY band: the true
    // pair is always a candidate -> perfect recall here
    assert(nTrue == 1L && nHit == 1L && recall.contains(1.0), got.toString)
    assert(nHit <= math.min(nTrue, nCand), got.toString)
    assert(precision.contains(
      BigDecimal(nHit.toDouble / nCand).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble), got.toString)
    // an all-unique corpus: zero truth -> NULL recall, never 0/0
    val clean = Dedup.lshRecallAudit(
      docs.filter($"doc_id" >= 3L), "doc_id", "text",
      shingleN = 3, numHashes = 8, bands = 2, threshold = 0.8)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(clean._1 == 0L && clean._4.isEmpty, clean.toString)
  }

  test("lshParameterSweep: per-config rows agree with the single audit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "entirely different content about distributed query engines"),
      (4L, "yet another unrelated document mentioning spark catalyst"))
      .toDF("doc_id", "text")
    val sweep = Dedup.lshParameterSweep(docs, "doc_id", "text",
        shingleN = 3, configs = Seq((4, 2), (8, 2)), threshold = 0.8)
      .as[(Int, Int, Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    assert(sweep.map(r => (r._1, r._2)) == Seq((4, 2), (8, 2)))
    // the (8,2) sweep row must equal the standalone audit — same hash
    // family, same banding, same truth
    val audit = Dedup.lshRecallAudit(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 2, threshold = 0.8)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    val row82 = sweep.find(r => r._1 == 8 && r._2 == 2).get
    assert((row82._3, row82._4, row82._5, row82._6, row82._7) == audit,
      s"$row82 vs $audit")
    // exact duplicates are recalled by every config
    assert(sweep.forall(r => r._3 == 1L && r._5 == 1L &&
      r._6.contains(1.0)), sweep.toString)
  }

  test("embedding LSH near-dup matches brute force on real embeddings (both SFs)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = graft.Tables.load(spark, dir, "embeddings")
      val lsh = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = Similarity.nearDupPairsBrute(e, "vec_id", "embedding", 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(lsh == brute, s"LSH != brute at $dir")
      assert(brute.nonEmpty)
    }
  }

  test("embedding LSH near-dup of an empty corpus is empty") {
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.nearDupPairs(e, "vec_id", "embedding", 0.45).count() == 0L)
  }

  test("containmentPairs df cap bounds a boilerplate family without losing rare-shingle pairs") {
    // 30 byte-identical template docs (every shingle df=30) + an
    // excerpt genuinely contained in a larger unique doc. cap=10:
    // the template family's quadratic, non-discriminative pairs are
    // dropped (exact dedup upstream owns those); the rare pair stays.
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val base = "unique alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((1 to 30).map(i => (100L + i, template)) ++
      Seq((1L, base), (2L, base + " extra trailing context words here")))
      .toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.9, maxShingleDf = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)))
    assert(capped.forall { case (a, b) => a < 100L && b < 100L })
    val uncapped = Dedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.9, maxShingleDf = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)))
    // template family: all 30*29 directed pairs present without the cap
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 30 * 29)
  }

  test("duplicateClusters of an empty pair set is an empty cluster set") {
    // a perfectly clean corpus produces zero pairs — must not NPE on
    // the null decimal sum of an empty labels frame
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id", "cluster_size"))
    assert(out.count() == 0L)
  }

  test("duplicateClusters converges on a long path graph") {
    // path 0-1-...-9: worst case for label propagation (diameter 9)
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs).collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(1) == 0L))
    assert(out.forall(_.getLong(2) == 10L))
  }

  test("oversized LSH buckets fall back to the spillable self-join with identical pairs") {
    // 30 near-identical docs all landing in the same buckets: cap=4
    // forces the big-bucket self-join path; results must not change
    val d = (0 until 30).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val inMem = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spilled = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 3,
        maxBucketInMemory = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inMem == spilled)
    assert(inMem.size == 30 * 29 / 2) // identical docs: every pair at dist 0
  }

  test("duplicateClusters refuses a non-converged result") {
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("md5 simhash variant: banded search equals the brute-force Hamming join") {
    val sigs = Dedup.simhashMd5Sigs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      a <- sigs; b <- sigs if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3) if h <= 3
    } yield (a._1, b._1, h.toLong)).toSet
    val banded = Dedup.simhashPairsMd5(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // the corpus does contain near-identical docs
    // signature halves stay inside unsigned-32 range (no sign surprises)
    assert(sigs.forall(s => s._2 >= 0 && s._2 < (1L << 32) &&
      s._3 >= 0 && s._3 < (1L << 32)))
  }

  test("banded simhash search finds EVERY pair within maxDist (seeded differential)") {
    // seeded corpus of near-duplicate sentences: base phrases + small
    // perturbations so signatures cluster at assorted Hamming distances
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 8).map(_ =>
      Vector.fill(12)(words(rnd.nextInt(words.size))))
    val docs = (0 until 120).map { i =>
      val b = base(rnd.nextInt(base.size)).toArray
      // perturb 0-2 positions
      (0 until rnd.nextInt(3)).foreach { _ =>
        b(rnd.nextInt(b.length)) = words(rnd.nextInt(words.size))
      }
      (i.toLong, b.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val maxDist = 3
    val got = Dedup.simhashPairs(df, "doc_id", "text", maxDist = maxDist)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // local brute force over the same signatures
    val sigs = df.select(col("doc_id"), Dedup.simhash64(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= maxDist
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    assert(want.nonEmpty, "test corpus produced no near pairs")
    assert(got == want)
  }

  test("cosine is 1 for identical vectors, 0 for orthogonal") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val c = d.as("a").crossJoin(d.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(c((1L, 2L)) == 1.0)
    assert(c((1L, 3L)) == 0.0)
  }

  private def recallOf(corpus: org.apache.spark.sql.DataFrame,
      ann: org.apache.spark.sql.DataFrame): Double = {
    val queries = corpus.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = ann.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.size == bf.size) // same k returned
    (bf & a).size.toDouble / bf.size
  }

  /** The spec embeddings are near-uniform on the sphere for these
    * queries (every true top-5 neighbor sits at cosine ~0.32 — measured,
    * zero family structure), so background recall is information-bounded
    * by the scanned fraction. A structured corpus plants 4 near-copies
    * (cosine ~0.9996) per query — the semantic-dedup/retrieval regime
    * ANN exists for, where families co-locate and recall at a SMALL scan
    * fraction is high. */
  private def structuredEmb: org.apache.spark.sql.DataFrame = {
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = for {
      (id, v) <- rows.filter(_._1 < 10).toSeq; j <- 1 to 4
    } yield {
      val w = v.clone(); w(j) = w(j) + 0.05f
      (10000L + id * 10 + j, w.toSeq)
    }
    (rows.toSeq.map { case (i, v) => (i, v.toSeq) } ++ planted)
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("seed-IVF recall >=0.8 at 25% scan when queries are index seeds") {
    // seed centroids ARE the query vectors here, so the partition is
    // query-aware: each cell collects exactly the vectors most similar
    // to its seed, and a 4-of-16-cell probe recalls ~0.9. This is the
    // query-centric indexing regime, not the general-background one.
    val queries = emb.filter(col("vec_id") < 10)
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", 16)
    val ann = Similarity.ivfTopK(index, queries, "vec_id", "embedding", 16, 4, 5)
    val recall = recallOf(emb, ann)
    assert(recall >= 0.8, s"seed IVF recall $recall")
  }

  test("k-means IVF recall >=0.8 at 25% scan on a corpus with planted families") {
    val corpus = structuredEmb.localCheckpoint()
    val queries = corpus.filter(col("vec_id") < 10)
    val (indexed, centroids) =
      Similarity.ivfIndexKMeans(corpus, "vec_id", "embedding", 16)
    assert(indexed.count() == corpus.count())
    val ann = Similarity.ivfKMeansTopK(indexed, centroids, queries,
      "vec_id", "embedding", nProbe = 4, k = 5)
    val recall = recallOf(corpus, ann)
    assert(recall >= 0.8, s"k-means IVF recall $recall")
    // a sample-based fit (the at-scale path) must hold the same floor
    val (idx2, cents2) = Similarity.ivfIndexKMeans(
      corpus, "vec_id", "embedding", 16, fitFraction = 0.5)
    val ann2 = Similarity.ivfKMeansTopK(idx2, cents2, queries,
      "vec_id", "embedding", nProbe = 4, k = 5)
    val recall2 = recallOf(corpus, ann2)
    assert(recall2 >= 0.8, s"sampled-fit k-means IVF recall $recall2")
  }

  test("k-means IVF recall >=0.8 at 75% scan on the uniform background corpus") {
    // background neighbors admit no sub-scan-fraction recall (see
    // Similarity scaladoc): 6 of 8 cells ~ 75% scan, measured 0.88-0.90
    val queries = emb.filter(col("vec_id") < 10)
    val (indexed, centroids) =
      Similarity.ivfIndexKMeans(emb, "vec_id", "embedding", 8)
    val ann = Similarity.ivfKMeansTopK(indexed, centroids, queries,
      "vec_id", "embedding", nProbe = 6, k = 5)
    val recall = recallOf(emb, ann)
    assert(recall >= 0.8, s"k-means IVF recall $recall at 75% scan")
  }

  test("every vector lands in exactly one IVF cell") {
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", 16)
    assert(index.count() == emb.count())
    assert(index.select("cell_id").distinct().count() <= 16)
  }

  test("ngramJaccardPairs equals brute force on random corpora (seeded)") {
    // random near-dup families: the prefix + length filters must not
    // drop ANY qualifying pair, at thresholds around the rounding edge
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.fill(30)(sentence(8 + rnd.nextInt(8)))
    val docs = bases.zipWithIndex.flatMap { case (b, i) =>
      val toks = b.split(" ")
      val mutated = toks.updated(rnd.nextInt(toks.length),
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      Seq((i * 2L, b), (i * 2L + 1, mutated))
    }.toDF("doc_id", "text")

    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
      val want = (for {
        (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
        sa = shingles(ta); sb = shingles(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = (sa & sb).size.toDouble / (sa | sb).size
        if math.rint(j * 10000) / 10000 >= t
      } yield (ia, ib)).toSet
      assert(got == want, s"t=$t diff=${(got diff want, want diff got)}")
    }
  }

  test("containmentPairs equals brute force on random excerpt corpora") {
    // excerpts of longer docs: directional containment must find every
    // (excerpt, host) pair, ordered pairs, no prefix-filter loss
    val rnd = new scala.util.Random(77)
    val vocab = Vector("red", "blue", "green", "cyan", "teal", "plum",
      "gold", "jade", "rust", "sand")
    val docs = (0 until 25).flatMap { i =>
      val host = Seq.fill(12 + rnd.nextInt(6))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val toks = host.split(" ")
      val off = rnd.nextInt(toks.length - 6)
      val excerpt = toks.slice(off, off + 6).mkString(" ")
      Seq((i * 2L, host), (i * 2L + 1, excerpt))
    }.toDF("doc_id", "text")

    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val want = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia != ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toDouble / sa.size
      if math.rint(c * 10000) / 10000 >= 0.9
    } yield (ia, ib)).toSet
    assert(got == want, s"diff=${(got diff want, want diff got)}")
    assert(want.nonEmpty) // the corpus genuinely contains excerpts
  }

  test("star-contraction clusters equal label propagation on real pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.8)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaProp = asSet(Dedup.duplicateClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size"))
    val viaStar = asSet(Dedup.duplicateClustersStar(pairs)
      .select("doc_id", "cluster_id", "cluster_size"))
    assert(viaStar == viaProp && viaStar.nonEmpty)
  }

  test("star contraction equals label propagation on random graphs (seeded)") {
    // the r4 convergence change (order-independent edge-content hash)
    // must terminate at the TRUE fixpoint on arbitrary topologies, not
    // just the gate corpora — differential over seeded random graphs
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 4) {
      val n = 40 + rnd.nextInt(120)
      val m = n + rnd.nextInt(2 * n)
      val edges = (0 until m).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("id_a", "id_b")
        def toMap(r: Array[org.apache.spark.sql.Row]) =
          r.map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
        val star = toMap(Dedup.duplicateClustersStar(df).collect())
        val prop = toMap(Dedup.duplicateClusters(df, maxRounds = 300).collect())
        assert(star == prop, s"trial $trial (n=$n, m=${edges.size})")
      }
    }
  }

  test("CC operators use reliable checkpoints when a checkpoint dir is set") {
    // at cluster scale localCheckpoint blocks die with their executor —
    // with a checkpoint dir configured, the iterative operators must
    // route lineage cuts through reliable checkpoints and still produce
    // identical clusters
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = Dedup.duplicateClustersStar(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    sc.setCheckpointDir(dir)
    try {
      val withReliable = Dedup.duplicateClustersStar(chain).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(withReliable == before)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
      val labelProp = Dedup.duplicateClusters(chain, maxRounds = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labelProp == before)
    } finally {
      // restore the shared session's local-checkpoint behavior
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("star contraction handles a chain component beyond label-prop reach") {
    // a 400-node path has diameter 399: min-label propagation moves one
    // hop per round — it MUST blow a sub-diameter round budget — while
    // star contraction halves component height per round and must land
    // well under log-bound rounds
    val chain = (0L until 399L).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val (clusters, rounds) = Dedup.duplicateClustersStarWithRounds(chain)
    val r = clusters.collect()
    assert(r.length == 400)
    assert(r.forall(_.getAs[Long]("cluster_id") == 0L))
    assert(r.forall(_.getAs[Long]("cluster_size") == 400L))
    // O(log n): log2(400) ≈ 8.6; the alternating large/small-star pair
    // counts as one round here, allow slack but stay far below diameter
    assert(rounds <= 12, s"star contraction took $rounds rounds")
    // the same chain exhausts label propagation's 25-round budget
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxRounds = 25).collect()
    }
    // and on a clique-like component label prop is 1-2 rounds
    val clique = (for { a <- 0L until 20L; b <- (a + 1) until 20L }
      yield (a, b)).toDF("id_a", "id_b")
    val (_, lpRounds) = Dedup.duplicateClustersWithRounds(clique)
    assert(lpRounds <= 2, s"label prop took $lpRounds rounds on a clique")
  }

  test("int8 quantization is exact on representative values") {
    import graft.functions.VectorExpressions._
    val d = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)), // scale 127: 64, -127, 32
      (2L, Array(0.0f, 0.0f, 0.0f))    // zero vector: scale 1, all 0
    ).toDF("id", "v")
    val r = d.select(col("id"), int8_quantize(col("v")).as("q"),
        float_maxabs(col("v")).as("m"))
      .orderBy("id").collect()
    assert(r(0).getSeq[Int](1) == Seq(64, -127, 32))
    assert(r(0).getDouble(2) == 1.0)
    assert(r(1).getSeq[Int](1) == Seq(0, 0, 0))
    assert(r(1).getDouble(2) == 0.0)
    // int_dot over the quantized arrays
    val dot = d.filter(col("id") === 1)
      .select(int_dot(int8_quantize(col("v")), int8_quantize(col("v"))))
      .head().getLong(0)
    assert(dot == 64L * 64 + 127L * 127 + 32L * 32)
  }

  test("quantized top-k closely tracks exact cosine top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qk = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(qk.size == bf.size)
    val overlap = (bf & qk).size.toDouble / bf.size
    assert(overlap >= 0.8, s"int8 top-k overlap $overlap vs exact")
  }

  test("PqEncode matches a pure-Scala reference on random vectors") {
    val rnd = new scala.util.Random(17)
    val dim = 16
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val seeds = vecs.take(4).map(_._2)
    val flat = seeds.flatten.toArray
    def refCodes(v: Array[Float], m: Int): Seq[Int] = {
      val sub = dim / m
      (0 until m).map { s =>
        seeds.indices.minBy { c =>
          (0 until sub).map { j =>
            val d = v(s * sub + j).toDouble - seeds(c)(s * sub + j).toDouble
            d * d
          }.sum
        }
      }
    }
    val got = vecs.toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.VectorExpressions.pq_encode(col("v"), flat, 4).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == refCodes(v, 4), s"vec $id")
    }
  }

  test("PQ ANN recall against brute force on the structured corpus") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.size == bf.size)
    val overlap = (bf & pq).size.toDouble / bf.size
    assert(overlap >= 0.7, s"PQ top-k overlap $overlap vs exact")
  }

  test("pqTopK refuses an unbounded query side (driver ADC contract)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", maxQueries = 5)
    }
    assert(e.getMessage.contains("maxQueries"),
      s"error must name the cap: ${e.getMessage}")
  }

  test("tfidfCosinePairs: idf discounts boilerplate, identity scores 1.0") {
    val chrome = "copyright footer text"
    val d = (Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")) ++
      (3L to 12L).map(i => (i, s"$chrome tail${i}a tail${i}b tail${i}c")))
      .toDF("doc_id", "text")
    val pairs = Dedup.tfidfCosinePairs(d, "doc_id", "text", threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // identical rare docs: exactly parallel vectors
    assert(pairs((1L, 2L)) == 1.0, pairs)
    // chrome-sharing docs: the shared shingle's idf ~ln(12/10) is
    // dwarfed by each doc's unique high-idf tail — no pair survives.
    // (Unweighted Jaccard scores them 0.25 REGARDLESS of corpus
    // frequency; the weighting is what suppresses template chrome.)
    assert(pairs.size == 1, pairs)
    // the df cap drops a shingle from BOTH weights and norms: cap 2
    // keeps the identical pair's dims (df = 2) but removes the chrome
    // dim (df = 10) entirely — the chrome docs now share NOTHING
    val capped = Dedup.tfidfCosinePairs(d, "doc_id", "text",
      threshold = 0.0001, maxDf = Some(2L))
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
  }

  test("winnowing detects any shared 6-token run, scores identity 1.0") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      // shared run "a b c d e f" (shingleN + window - 1 = 6 tokens)
      // placed at a different offset — the density guarantee says at
      // least one fingerprint from the run is selected in BOTH docs
      (2L, "x y a b c d e f q"),
      (3L, "p q r s t u v w"),   // identical pair
      (4L, "p q r s t u v w"),
      (5L, "zz yy xx ww vv uu")  // nothing shared
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(d, "doc_id", "text", minShared = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    assert(pairs.contains((1L, 2L)), pairs)
    assert(pairs((3L, 4L)) == 1.0, pairs) // identical docs: full overlap
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("winnowing fingerprints match a pure-Scala reference on random docs") {
    // reference implementation straight from the SIGMOD'03 definition
    def refFps(text: String, n: Int, w: Int): Set[Long] = {
      val tk = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (tk.length < n) return Set.empty
      val grams = tk.sliding(n).map(_.mkString(" ")).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = grams.map { g =>
        val hex = md.digest(g.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16)
      }
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g", "hh")
    val docs = (1L to 40L).map { i =>
      val len = 1 + rnd.nextInt(20)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val got = Dedup.winnowingFingerprints(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    docs.foreach { case (id, text) =>
      val expect = refFps(text, 3, 4)
      if (expect.isEmpty) assert(!got.contains(id), s"doc $id")
      else assert(got(id) == expect, s"doc $id: '$text'")
    }
  }

  test("winnowing xxhash64 production variant matches a pure-Scala reference") {
    // same SIGMOD'03 selection, production hash: xxhash64(gram, seed 42)
    def refFps(text: String, n: Int, w: Int): Set[Long] = {
      val tk = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (tk.length < n) return Set.empty
      val hs = tk.sliding(n).map(_.mkString(" ")).map { g =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(g)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      }.toSeq
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g", "hh")
    val docs = (1L to 40L).map { i =>
      val len = 1 + rnd.nextInt(20)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val got = Dedup.winnowingFingerprints(
        docs.toDF("doc_id", "text"), "doc_id", "text", portable = false)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    docs.foreach { case (id, text) =>
      val expect = refFps(text, 3, 4)
      if (expect.isEmpty) assert(!got.contains(id), s"doc $id")
      else assert(got(id) == expect, s"doc $id: '$text'")
    }
    // identical docs still pair at overlap 1.0 under the production hash
    val d = Seq((1L, "p q r s t u v w"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(d, "doc_id", "text", minShared = 1,
        portable = false)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(pairs.toMap.get((1L, 2L)).contains(1.0))
  }

  test("ngramOverlapStats: exact overlap fraction") {
    val test = Seq((1L, "a b c d")).toDF("doc_id", "text")   // {abc,bcd}
    val train = Seq((2L, "a b c x"), (3L, "q r s t")).toDF("doc_id", "text")
    val r = Dedup.ngramOverlapStats(test, train, "text").head()
    // test shingles {abc, bcd}; train has abc -> 1 of 2
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 0.5)
  }

  test("ngramOverlapStats: shingle-less test side is 0.0, not NULL") {
    val test = Seq((1L, "a b")).toDF("doc_id", "text") // < 3 tokens
    val train = Seq((2L, "a b c x")).toDF("doc_id", "text")
    val r = Dedup.ngramOverlapStats(test, train, "text").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    assert(r.getDouble(2) == 0.0)
  }

  test("jaccardHistogram buckets exact pair similarities") {
    val d = Seq(
      (1L, "a b c d e"),  // shingles {abc,bcd,cde}
      (2L, "a b c d x"),  // {abc,bcd,cdx}: inter 2, union 4 -> J 0.5
      (3L, "p q r s t"),  // identical pair -> J 1.0
      (4L, "p q r s t"),
      (5L, "zz yy xx ww") // shares nothing
    ).toDF("doc_id", "text")
    val h = Dedup.jaccardHistogram(d, "doc_id", "text", minJaccard = 0.5)
      .orderBy("bucket_lo").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(h.toSeq == Seq((0.5, 1L), (1.0, 1L)))
  }

  test("semanticDedup keeps the min id of each within-cell dup group") {
    // 2 cells (seeds = ids 1 and 2, orthogonal); ids 3,4 duplicate id 1's
    // direction, id 5 duplicates id 2's, id 6 is alone in cell 1.
    val d = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(0.99f, 0.01f, 0f)),   // cell 1, near-dup of 1
      (4L, Array(0.98f, 0.02f, 0f)),   // cell 1, near-dup of 1 and 3
      (5L, Array(0.01f, 0.99f, 0f)),   // cell 2, near-dup of 2
      (6L, Array(0.6f, 0.4f, 0.69f))   // cell 1, not near anything
    ).toDF("vec_id", "embedding")
    val kept = Similarity
      .semanticDedup(d, "vec_id", "embedding", numCells = 2, threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 3,4 drop against 1; 5 drops against 2; 6 survives alone.
    assert(kept.toSeq == Seq((1L, 1L), (2L, 2L), (6L, 1L)))
  }

  test("semanticDedup survivors + dropped partition the corpus") {
    val kept = Similarity
      .semanticDedup(emb, "vec_id", "embedding", numCells = 8, threshold = 0.3)
    val total = emb.count()
    val k = kept.count()
    assert(k > 0 && k < total) // threshold bites on the sf corpus
    // every survivor id is a real corpus id, no duplicates introduced
    assert(kept.select("vec_id").distinct().count() == k)
    assert(kept.join(emb, "vec_id").count() == k)
  }

  test("knnClassify: majority vote, tie takes the smaller label") {
    // query (1,0): three label-1 vectors hug it, two label-2 vectors
    // sit further out -> k=5 majority 1. With k=4 the vote is 2-2
    // (ranks: two 1s, then two 2s) -> tie resolves to label 1.
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1),
      (11L, Array(0.99f, 0.01f), 1),
      (12L, Array(0.8f, 0.2f), 2),
      (13L, Array(0.85f, 0.15f), 2),
      (14L, Array(0.98f, 0.02f), 1)).toDF("vec_id", "embedding", "label")
    val q = Seq((1L, Array(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val maj = Similarity.knnClassify(corpus, q, "vec_id", "embedding",
      "label", k = 5).collect()
    assert(maj.length == 1)
    assert((maj(0).getLong(0), maj(0).getInt(1), maj(0).getLong(2)) ==
      ((1L, 1, 3L)))
    val tie = Similarity.knnClassify(corpus, q, "vec_id", "embedding",
      "label", k = 4).collect()
    assert(tie(0).getInt(1) == 1, "2-2 tie must take the smaller label")
  }

  test("recallAtK: hit counting, missed queries kept at zero") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val ann = Seq((1L, 10L), (1L, 99L), (2L, 98L), (2L, 97L), (3L, 1L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(ann, exact, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // query 1 recovers 1 of 2; query 2 none (still present); ann's
    // extra query 3 is not in the exact set and does not appear
    assert(out.toSeq == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
  }

  test("oodScores: planted outlier ranks first, constant dims ignored") {
    val rnd = new scala.util.Random(17)
    // dim 0 is CONSTANT (var 0 — must be excluded, not divided by),
    // dims 1..4 are N-ish background; vec 99 is scaled 10x
    def vec(scale: Float) =
      1.5f +: Array.fill(4)((rnd.nextFloat() - 0.5f) * scale)
    val corpus = ((1L to 40L).map(i => (i, vec(1.0f))) :+
      ((99L, 1.5f +: Array.fill(4)(5.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.oodScores(corpus, "vec_id", "embedding", topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.head._1 == 99L, s"outlier must rank first: ${out.toSeq}")
    assert(out.forall(r => !r._2.isNaN && !r._2.isInfinite),
      "constant dimension must not poison scores")
    assert(out.head._2 > 10 * out(1)._2,
      "outlier score should dominate the background")
  }

  test("mineBitext matches a driver-side replay; hub pairs demoted") {
    def r(x: Double, s: Int): Double = java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    val rnd = new scala.util.Random(41)
    def vec() = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    val aSide = (0L until 12L).map(id => (id, vec(), 0))
    val bSide = (100L until 120L).map(id => (id, vec(), 1))
    val corpus = (aSide ++ bSide).toDF("vec_id", "embedding", "label")
    val k = 4

    val cos = (for ((ia, va, _) <- aSide; (ib, vb, _) <- bSide)
      yield ((ia, ib), r(dot(va, vb) / (nrm(va) * nrm(vb)), 4))).toMap
    def avgA(ia: Long) = {
      val top = bSide.map(b => (cos((ia, b._1)), b._1))
        .sortBy { case (c, id) => (-c, id) }.take(k)
      top.map(t => BigDecimal(java.math.BigDecimal.valueOf(t._1)))
        .sum.toDouble / k
    }
    def avgB(ib: Long) = {
      val top = aSide.map(a => (cos((a._1, ib)), a._1))
        .sortBy { case (c, id) => (-c, id) }.take(k)
      top.map(t => BigDecimal(java.math.BigDecimal.valueOf(t._1)))
        .sum.toDouble / k
    }
    val want = aSide.flatMap { case (ia, _, _) =>
      val (c, ib) = bSide.map(b => (cos((ia, b._1)), b._1))
        .sortBy { case (cc, id) => (-cc, id) }.head
      val m = c / ((avgA(ia) + avgB(ib)) / 2)
      if (m > 1.0) Some((ia, ib, c, r(m, 6))) else None
    }.toSet

    val got = Similarity.mineBitext(corpus, "vec_id", "embedding",
      col("label") === 0, col("label") === 1, k = k,
      marginThreshold = 1.0)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1),
        r0.getDouble(2), r0.getDouble(3))).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture should mine at least one pair")
  }

  test("mmrRerank: diversity penalty demotes the redundant candidate") {
    // query (0.8, 0.6); candidates: c13 (0.6,0.8) rel .96 picked first;
    // c11 near-parallel to c13's neighborhood? — c10 (1,0) rel .8 but
    // LOW sim to c13 (0.6) beats c11 rel .856 with HIGH sim (0.677)
    // at λ=0.5; at λ=1 pure relevance restores c11 to rank 2.
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.995f, 0.0999f)),
      (12L, Array(0.0f, 1.0f)),
      (13L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val div = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
      k = 3, m = 4, lambda = 0.5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(div.take(2) == Seq(13L, 10L),
      s"diversity pick should demote the redundant 11L, got $div")
    val pure = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
      k = 3, m = 4, lambda = 1.0)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(pure.take(2) == Seq(13L, 11L),
      s"λ=1 must reduce to pure relevance order, got $pure")
  }

  test("mmrRerank matches a driver-side greedy replay, seeded corpus") {
    def r(x: Double, s: Int): Double = java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpus = (10L until 60L).map(id => (id, vec()))
    val queries = (0L until 3L).map(id => (id, vec()))
    val (k, m, lam) = (5, 16, 0.7)

    val want = queries.flatMap { case (qid, qv) =>
      val rel = corpus.map { case (cid, cv) =>
        cid -> r(dot(qv, cv) / (nrm(qv) * nrm(cv)), 4)
      }.sortBy { case (cid, rl) => (-rl, cid) }.take(m)
      val vecsById = corpus.toMap
      def sim(a: Long, b: Long) =
        r(dot(vecsById(a), vecsById(b)) / (nrm(vecsById(a)) * nrm(vecsById(b))), 4)
      var selected = List(rel.head._1 -> rel.head._2)
      var remaining = rel.tail
      while (selected.size < k) {
        val scored = remaining.map { case (cid, rl) =>
          val ms = selected.map(s => sim(cid, s._1)).max
          (cid, lam * rl - (1 - lam) * ms)
        }
        val pick = scored.minBy { case (cid, sc) => (-sc, cid) }
        selected = selected :+ pick
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      selected.zipWithIndex.map { case ((cid, sc), i) =>
        (qid, i + 1, cid, r(sc, 6))
      }
    }.toSet

    val got = Similarity.mmrRerank(
      corpus.toDF("vec_id", "embedding"), queries.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = k, m = m, lambda = lam)
      .collect().map(r0 => (r0.getLong(0), r0.getInt(1),
        r0.getLong(2), r0.getDouble(3))).toSet
    assert(got == want)
  }

  test("spanDedup matches a driver-side replay on a collision-heavy corpus") {
    // tiny vocabulary + short spans force heavy cross-doc collisions
    val rnd = new scala.util.Random(29)
    val vocab = Vector("a", "b", "c")
    val docs = (1L to 60L).map { id =>
      val n = 1 + rnd.nextInt(12)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val spanWords = 2
    // reference: global first-occurrence by (doc, span index)
    val seen = scala.collection.mutable.Set.empty[String]
    val want = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val spans = toks.grouped(spanWords).map(_.mkString(" ")).toSeq
      val kept = spans.filter { sp =>
        if (seen.contains(sp)) false else { seen.add(sp); true }
      }
      (id, spans.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
    val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), "doc_id",
      "text", spanWords = spanWords)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == want)
    assert(want.exists(_._3 == 0L), "fixture should fully dedup some doc")
  }

  test("spanDedup: cross-doc and within-doc spans drop, order kept") {
    val d = Seq(
      (1L, "a b c d e"), // spans "a b" "c d" "e" — all first occurrences
      (2L, "a b x y"),   // "a b" dups doc1 → drop; "x y" survives
      (3L, "c d"),       // fully deduplicated
      (4L, "p q p q"))   // within-doc repeat: second "p q" drops
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(d, "doc_id", "text", spanWords = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, "a b c d e"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 1L, "p q")))
  }

  test("coOccurrenceSimilarity: cosine, support cut, heavy-user drop") {
    // u1/u2 {a,b}; u3 {a,b,c}; u4 has 4 items > maxPerUser=3 and is
    // DROPPED before pairing (and from the degrees): (a,b) keeps
    // n_both=3 over degrees 3/3 -> cosine 1.0; (a,c)/(b,c) fall under
    // minSupport=2
    val baskets = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "c"),
      (4L, "a"), (4L, "c"), (4L, "d"), (4L, "e"))
      .toDF("u", "i")
    val got = Similarity.coOccurrenceSimilarity(
      baskets, "u", "i", minSupport = 2L, maxPerUser = 3, topK = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("a", "b", 3L, 3L, 3L, 1.0)), got.toString)
  }

  test("editDistancePairs: substitution/insertion/deletion/equal all " +
      "meet in the deletion index; distance-2 never leaks") {
    val rows = Seq((1L, "abc"), (2L, "abd"), (3L, "ab"), (4L, "xyz"),
      (5L, "abc"), (6L, "abcd")).toDF("id", "name")
    val got = Dedup.editDistancePairs(rows, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L), (1L, 3L, 1L), (1L, 5L, 0L), (1L, 6L, 1L),
      (2L, 3L, 1L), (2L, 5L, 1L), (2L, 6L, 1L),
      (3L, 5L, 1L), (5L, 6L, 1L)), got.toString)
    // (3, 6) = "ab" vs "abcd" is distance 2: candidates from the index
    // never include it, and the verify would kill it anyway
    assert(!got.exists(p => p._1 == 3L && p._2 == 6L))
    // empty strings: no deletion variants (Spark sequence(1,0) would
    // otherwise yield [1,0] with its default -1 step); "" pairs with
    // "" at 0 and with 1-char strings at 1
    val e = Dedup.editDistancePairs(
      Seq((1L, ""), (2L, ""), (3L, "a"), (4L, "bc")).toDF("id", "name"),
      "id", "name").as[(Long, Long, Long)].collect().toSeq
    assert(e == Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)),
      e.toString)
  }

  test("suffixClusters: shared trailing tokens group, short docs drop") {
    val docs = Seq((1L, "a b c d"), (2L, "x y c d"), (3L, "q c d"),
      (4L, "c"), (5L, "solo text here")).toDF("doc_id", "text")
    val got = Dedup.suffixClusters(docs, "doc_id", "text", k = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("c d", 3L, 1L)), got.toString)
  }

  test("mutualKnn: pairs are exactly the symmetric subset of the " +
    "directional top-k") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)),
      (4L, Array(0.1f, 0.9f)), (5L, Array(0.7f, 0.7f)),
      (6L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val k = 2
    val index = Similarity.ivfIndex(vecs, "vec_id", "embedding",
      numCells = 3)
    val topk = Similarity.ivfTopK(index, vecs, "vec_id",
      "embedding", numCells = 3, nProbe = 3, k = k)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    val dir = topk.map(t => (t._1, t._2) -> t._3).toMap
    val expected = dir.keySet.filter { case (a, b) =>
      a < b && dir.contains((b, a))
    }.toSeq.sorted.map { case (a, b) =>
      (a, b, dir((a, b)), dir((b, a)))
    }
    val got = Similarity.mutualKnn(vecs, "vec_id", "embedding",
      numCells = 3, nProbe = 3, k = k)
      .select("id_a", "id_b", "rank_ab", "rank_ba")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(got == expected, s"got $got expected $expected")
    assert(got.nonEmpty, "fixture must produce at least one mutual pair")
  }

  test("ndcgAtK: hand DCG over a swapped ranking; absent queries 0") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def r8(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    // exact top-2 for q1 = [a, b]; the index returns [b, c]:
    // rel(b) = 2+1−2 = 1 at position 1 → DCG = 1/log2(2) = 1,
    // NDCG = 1 / IDCG with the per-query IDCG assembled from the
    // SAME 8dp-rounded terms the engine sums (2/log2(2), 1/log2(3));
    // q2 exists only on the exact side
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 10L, 1),
      (2L, 12L, 2)).toDF("query_id", "neighbor_id", "rank")
    val ann = Seq((1L, 11L, 1), (1L, 12L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.ndcgAtK(ann, exact, k = 2)
      .as[(Long, Long, Double)].collect().toSeq
    val idcg = r8(2.0) + r8(1.0 / (math.log(3.0) / Similarity.Ln2))
    assert(got == Seq((1L, 1L, r6(1.0 / idcg)), (2L, 0L, 0.0)),
      got.toString)
    // a perfect ranking scores exactly 1
    val perfect = Similarity.ndcgAtK(
      exact.filter(col("query_id") === 1L), exact
        .filter(col("query_id") === 1L), k = 2)
      .as[(Long, Long, Double)].collect().head
    assert(perfect == ((1L, 2L, 1.0)), perfect.toString)
    // a SHORT exact list (corpus smaller than k+1) normalizes by its
    // own ideal, so a perfect ranking still scores exactly 1 — the
    // case a full-k driver constant silently understates
    val short = Seq((7L, 10L, 1)).toDF("query_id", "neighbor_id", "rank")
    val shortGot = Similarity.ndcgAtK(short, short, k = 2)
      .as[(Long, Long, Double)].collect().head
    assert(shortGot == ((7L, 1L, 1.0)), shortGot.toString)
  }

  test("lateInteraction: hand maxsim over 2-dim token bags; shortlist " +
      "variant equals the exact scorer when the shortlist covers all; " +
      "decimal-exact mean pooling") {
    // d0 (the query) has tokens along both axes; d1 matches only the
    // x-axis token (maxsim 1.0 + 0.0); d2's diagonal token partially
    // matches BOTH query tokens (0.6 + 0.8 = 1.4) — late interaction
    // ranks d2 over d1, which a pooled-mean cosine would NOT
    val toks = Seq(
      (0L, 1L, Array(1f, 0f)), (0L, 2L, Array(0f, 1f)),
      (1L, 3L, Array(1f, 0f)),
      (2L, 4L, Array(0.6f, 0.8f)))
      .toDF("doc_id", "tok", "vec")
    val q = toks.filter(col("doc_id") === 0L)
    val got = Similarity.lateInteraction(
      toks, q, "doc_id", "doc_id", "tok", "vec", k = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == Seq((0L, 2L, 1.4, 1), (0L, 1L, 1.0, 2)), got.toString)
    // shortlist variant with full coverage (1 cell, probe 1, shortlist
    // = corpus) reproduces the exact ranking bit-for-bit
    val ann = Similarity.lateInteractionTopK(
      toks, q, "doc_id", "doc_id", "tok", "vec",
      numCells = 1, nProbe = 1, shortlist = 3, k = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(ann == got, s"ann $ann vs exact $got")
    // mean pooling is decimal-exact per dimension
    val pooled = Similarity.meanPooledVectors(
      Seq((7L, Array(1f, 3f)), (7L, Array(3f, 1f))).toDF("doc_id", "vec"),
      "doc_id", "vec")
      .as[(Long, Array[Float])].collect().head
    assert(pooled._1 == 7L && pooled._2.toSeq == Seq(2f, 2f),
      pooled._2.toSeq.toString)
  }

  test("knnShapley: hand recursion over 3 ranked points; efficiency " +
      "identity sums to the full-set utility") {
    // q=(1,0) label 1; ranked by cosine: t1 (match, cos 1.0),
    // t2 (mismatch, cos 0.8), t3 (match, cos 0.0). K=2, N=3:
    //   e3 = m3/N = 1/3, e2 = (0-1)·min(2,2)/(2·2) = -0.5,
    //   e1 = (1-0)·min(2,1)/(2·1) = 0.5
    //   s1 = 1/3 - 0.5 + 0.5 = 1/3, s2 = 1/3 - 0.5 = -1/6, s3 = 1/3
    val corpus = Seq(
      (1L, Array(1f, 0f), 1), (2L, Array(0.8f, 0.6f), 0),
      (3L, Array(0f, 1f), 1), (0L, Array(1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnShapley(
      corpus.filter(col("vec_id") =!= 0L),
      corpus.filter(col("vec_id") === 0L),
      "vec_id", "embedding", "label", k = 2, top = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 0.333333, 1), (0L, 3L, 0.333333, 2),
      (0L, 2L, -0.166667, 3)), got.toString)
    // efficiency: Σ s = full-set utility = fraction of the top-K that
    // match = 1/2 (t1 matches, t2 does not) — up to the 6dp readout
    // pins (3 terms × half-ulp)
    assert(math.abs(got.map(_._3).sum - 0.5) < 2e-6)
  }

  test("crossSourceDupMatrix: undirected source cells, diagonal kept, " +
      "decimal-exact mean jaccard") {
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"),
      (3L, "x y z w", "s2"), (4L, "x y z w", "s1"),
      (5L, "p q r t", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(
      docs, "doc_id", "text", "source", shingleN = 3, threshold = 0.8)
      .as[(String, String, Long, Double)].collect().toSeq
    // (1,2) within s1 (the diagonal); (3,4) crosses s2->s1 and must
    // normalize to the undirected (s1, s2) cell
    assert(got == Seq(("s1", "s1", 1L, 1.0), ("s1", "s2", 1L, 1.0)),
      got.toString)
  }

  test("dedupSavings: keep-one-per-cluster tokens reclaimed per source; " +
      "cross-source cluster charges the non-keeper's source; " +
      "singletons free") {
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"),
      (3L, "x y z w", "s2"), (4L, "x y z w", "s1"),
      (5L, "p q r t", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupSavings(docs, "doc_id", "text", "source")
      .as[(String, Long, Long, Long, Long, Option[Double])]
      .collect().toSeq
    // s1 holds {1,2,4}: 2 loses to keeper 1, 4 loses to the cross-
    // source keeper 3 — 8 of 12 tokens reclaimed; s2 holds {3,5}:
    // both keepers, nothing reclaimed
    assert(got == Seq(
      ("s1", 3L, 12L, 2L, 8L, Some(66.6667)),
      ("s2", 2L, 8L, 0L, 0L, Some(0.0))), got.toString)
  }

  test("clusterAwareSplit: near-dup clusters never straddle the " +
      "boundary; a per-doc split on the same fixture would") {
    // two near-dup families + singletons; family members MUST share a
    // split whatever the hash does, and the in-query cross-pair count
    // must read zero
    val docs = Seq(
      (1L, "a b c d", "s"), (2L, "a b c d", "s"),
      (3L, "x y z w", "s"), (4L, "x y z w", "s"),
      (5L, "p q r t", "s"), (6L, "m n o u", "s"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.clusterAwareSplit(docs, "doc_id", "text",
      salt = "spec", trainPct = 50)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got.map(_._4).forall(_ == 0L), got.toString)
    assert(got.map(_._2).sum == 6L && got.map(_._3).sum == 24L,
      got.toString)
    // the per-doc hash DOES split family {1,2} on this salt — the
    // exact contamination the cluster unit prevents (guards the
    // fixture against a salt where the comparison would be vacuous)
    val perDoc = docs.select(
      graft.operators.Sampling.hashBucket(col("doc_id"), "spec", 100)
        .as("b")).as[Int].collect()
    assert((perDoc(0) < 50) != (perDoc(1) < 50),
      s"fixture salt no longer separates docs 1/2: ${perDoc.toSeq}")
  }

  test("lshPlanner: closed-form s*, monotone threshold in bands, " +
      "degenerate designs lose to banded ones") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val got = Dedup.lshPlanner(spark, nPerm = 16, threshold = 0.8)
      .as[(Int, Int, Double, Double, Double, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) ==
      Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)))
    val byBands = got.map(t => t._1 -> t).toMap
    // s* = (1/b)^(1/r): 1 band = AND-only (s* = 1), 16 bands = OR-only
    // (s* = 1/16), and the curve threshold falls monotonically
    assert(byBands(1)._3 == 1.0 && byBands(16)._3 == 0.0625)
    assert(byBands(4)._3 == r6(math.pow(0.25, 0.25)), byBands(4).toString)
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    // the planner's verdict at t = 0.8: (2 bands, 8 rows) — s* 0.917,
    // nearest the target from above — minimizes total error, beating
    // AND-only (fn-heavy, misses true pairs) and OR-only (fp-heavy,
    // verifies nearly everything); error shape: fp grows and fn
    // shrinks monotonically with bands
    assert(got.minBy(_._6)._1 == 2, got.toString)
    assert(got.map(_._4) == got.map(_._4).sorted, "fp monotone in bands")
    assert(got.map(_._5) == got.map(_._5).sorted.reverse,
      "fn anti-monotone in bands")
  }

  test("lidScores: hand-computed 2-NN MLE; exact duplicates excluded") {
    // one cell (numCells=1): query (1,0) sees n1 at cos 0.9950 and n2
    // at cos 0.7071 → LID = −2 / round10(ln(d1/dk)) (the dk term's
    // ln(1) contributes an exact 0)
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0.1f)),
      (3L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.lidScores(vecs, "vec_id", "embedding",
      numCells = 1, nProbe = 1, k = 2)
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val t = BigDecimal(math.log((1.0 - 0.9950) / (1.0 - 0.7071)))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = BigDecimal(-2.0 / t)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((2L, Some(exp))), s"got ${got(1L)} want $exp")
    // an exact duplicate pair: its zero distance must drop from the
    // sum, not produce ln(0)
    val dup = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val d = Similarity.lidScores(dup, "vec_id", "embedding",
      numCells = 1, nProbe = 1, k = 2)
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // query 1: d(2)=0 excluded, d(3)=1−0 = dk → ln(1)=0 → sum 0 → NULL
    assert(d(1L)._1 == 1L && d(1L)._2.isEmpty, d.toString)
  }

  test("hubnessProfile: planted star hub right-skews N_k; " +
      "counts reconcile") {
    // 4D star: four orthogonal spokes each at cos 0.5 to the central
    // hub and cos 0 to each other → under 1-NN every spoke picks the
    // hub, the hub picks the lowest spoke. N_1 = [1,0,0,0,4]:
    // mean 1, antihubs 3, hub (N_k ≥ 2k) 1, skew = 4.8/2.4^1.5 > 1
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)),
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.hubnessProfile(vecs, "vec_id", "embedding",
      numCells = 1, nProbe = 1, k = 1)
      .as[(Long, Long, Long, Long, Double, Option[Double])]
      .collect().head
    val (n, k, anti, hubs, mean, skew) = got
    assert((n, k, anti, hubs, mean) == ((5L, 1L, 3L, 1L, 1.0)),
      got.toString)
    assert(skew.exists(_ > 1.0),
      s"planted hub must right-skew N_k: $got")
  }
}
