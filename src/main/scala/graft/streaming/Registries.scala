package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/** Incremental ADDITIVE registries over the versioned store — the
  * third registry shape beside [[graft.operators.Dedup
  * .incrementalDedup]] (min-merge, idempotent) and
  * [[graft.operators.Dedup.incrementalNearDup]] (set-union,
  * idempotent): running per-key sufficient statistics (doc counts,
  * token counts, char counts) that a continuously-ingesting corpus
  * pipeline reads instead of re-aggregating 100 TB — mixture weights,
  * source caps, and quality dashboards all start from this table.
  *
  * An additive merge is NOT replay-idempotent, so unlike the dedup
  * registries each commit carries a PER-STREAM latest-batch map in
  * the store's atomic commit metadata (`txn.<stream_id> → batch_id`,
  * the Delta `txnAppId`/`txnVersion` shape) and a replayed
  * micro-batch is skipped ([[graft.operators.Materialized
  * .applyBatchOnce]]'s contract). A MAP, not a single last
  * pair: two streams interleaving on one schema would otherwise
  * erase each other's marker, and the first stream's replayed batch
  * would apply its additive delta TWICE. Every commit carries all
  * existing `txn.*` entries forward ([[graft.sources.ResultStore
  * .committedMeta]] returns only the committed generation's map).
  *
  * TWO write paths, chosen by the registry's KEY GEOMETRY:
  *
  *  - '''Pruned merge''' (source stats, histograms): the batch's
  *    keys are FEW (sources, (source, bucket) cells), so the
  *    file-pruned additive merge reads and rewrites a handful of the
  *    range-partitioned files — per-commit cost O(touched files),
  *    which tracks the batch.
  *  - '''Merge-on-read segments''' (token/bigram vocabularies): the
  *    batch's keys are UNIFORM over the whole key space, so "touched
  *    files" ≈ ALL files and a pruned upsert degrades to rewriting
  *    ~the whole registry per micro-batch — registry-sized write
  *    cost, the scale-killer for continuous ingest. Instead the
  *    batch's delta aggregate APPENDS as its own segment
  *    ([[graft.sources.ResultStore.appendSegment]], O(batch) written
  *    bytes, prior files hard-linked), readers merge with a final
  *    groupBy-sum ([[readMerged]]), and every
  *    `spark.graft.registry.compactSegments` commits (default 8) a
  *    COMPACTION rolls base + segments into one merged base — the
  *    Delta/Iceberg merge-on-read + OPTIMIZE cycle. Amortized write
  *    cost per batch: O(batch + registry/compactEvery).
  *
  * Layout is sized by bytes on both paths, by the store's one layout
  * rule ([[graft.sources.ResultStore]], "Layout of a keyed write"),
  * and at least `registryPartitions` files (default 1). The first
  * commit and each segment are sized by the batch's delta, a pruned
  * rewrite by the files it touches plus the delta, and a compaction by
  * the whole registry. So a batch-sized registry is one file, one of
  * tens of MB holds files of one shuffle partition's bytes (4 MB), and
  * a large one target-size files. Each micro-batch runs in
  * [[graft.operators.Lineage.microBatch]]'s window: AQE off, and
  * shuffles sized by the bytes the commit reads.
  *
  * Invariant (what makes it oracle-able): addition is associative and
  * commutative and every row contributes exactly once, so the merged
  * registry equals the one-shot batch aggregate of the whole corpus
  * for ANY batch split, arrival order, at-least-once replay, or
  * segment/compaction state. */
object Registries {

  /** Commit-metadata key tracking the live segment count of a
    * merge-on-read registry (reset to 0 by compaction). Rides the
    * same atomic flip as the data and the `txn.` map. */
  val SegmentsKey = "graft.segments"

  /** What a segmented registry commit did — the per-batch receipt
    * [[incrementalTokenCounts]]/[[incrementalBigramCounts]] hand to
    * `onCommit`, and the handle the batch-bounded-write-cost spec
    * pins. */
  sealed trait RegistryCommit
  /** The batch's delta landed as a segment: `receipt.newBytes` is the
    * ONLY data written (the batch's footprint); the whole prior
    * generation hard-linked. */
  final case class SegmentAppended(receipt: graft.sources.SegmentCommit)
    extends RegistryCommit
  /** Base + `segmentsRolled` segments merged into a fresh base
    * (registry-sized write, amortized over compactEvery batches). */
  final case class Compacted(segmentsRolled: Int) extends RegistryCommit

  /** Merge-on-read readout of a segmented additive registry: base +
    * segments union under one groupBy-sum — the read-side half of the
    * [[graft.sources.ResultStore.appendSegment]] contract. Exact for
    * any segment state (addition is associative/commutative); on a
    * freshly-compacted registry the groupBy degenerates to identity.
    * One shuffle of the registry (vocabulary-sized, Heaps-sublinear
    * in the corpus), same as any registry scan. */
  def readMerged(
      store: graft.sources.ResultStore,
      schema: String,
      groupCols: Seq[String],
      statCols: Seq[String]): DataFrame =
    graft.sources.Combine.Additive(groupCols, statCols)
      .aggregate(store.read(schema))

  /** [[readMerged]] for a [[incrementalTokenCounts]] registry:
    * `(key, n)`. */
  def readTokenCounts(store: graft.sources.ResultStore, schema: String)
      : DataFrame = readMerged(store, schema, Seq("key"), Seq("n"))

  /** [[readMerged]] for a [[incrementalBigramCounts]] registry:
    * `(key, v, w, n)`. */
  def readBigramCounts(store: graft.sources.ResultStore, schema: String)
      : DataFrame = readMerged(store, schema, Seq("key", "v", "w"), Seq("n"))

  /** Per-source corpus statistics registry: `keyCol → (n_docs,
    * n_tokens, n_chars)`, merged additively per micro-batch through
    * the PRUNED path (keys = sources: few, clustered — touched files
    * track the batch). */
  def incrementalSourceStats(
      stream: DataFrame,
      keyCol: String,
      textCol: String,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      registryPartitions: Int = 1,
      onCommit: (String, graft.sources.PrunedCommit) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    additivePruned(stream, store, schema, streamId, checkpoint,
      registryPartitions, onCommit,
      deltaOf = batch => batch
        .select(col(keyCol).as("key"),
          graft.functions.TextFunctions.tokenCount(col(textCol))
            .as("__tk"),
          length(col(textCol)).cast("long").as("__ch"))
        .groupBy("key").agg(
          count(lit(1)).as("n_docs"),
          sum("__tk").as("n_tokens"),
          sum("__ch").as("n_chars")),
      groupCols = Seq("key"),
      statCols = Seq("n_docs", "n_tokens", "n_chars"))

  /** Per-key value HISTOGRAM registry on a fixed bucket grid:
    * `key → (bucket, n)` counts merged additively per micro-batch —
    * the distribution-shaped sibling of [[incrementalSourceStats]]'s
    * scalar sums, feeding quantile dashboards and drift monitors
    * ([[graft.operators.Stats.psi]] consumes exactly this cell shape)
    * without re-scanning the corpus. The grid is FIXED
    * (⌊v/width⌋ capped at `maxBucket`, the curriculumSchedule
    * rationale): a data-derived quantile grid would need a rank pass
    * and would drift between batches, breaking additivity — fixed
    * cells are mergeable forever.
    *
    * Pruned path (keys = few grid cells, clustered); per-stream
    * `txn.` replay map, one file-pruned additive merge. Bucket cells ride WITH their key (the merge
    * groups on (key, bucket)), so the registry stays laid out and
    * pruned on `key` alone. */
  def incrementalHistogram(
      stream: DataFrame,
      keyCol: String,
      valueCol: String,
      width: Double,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      maxBucket: Long = 63L,
      registryPartitions: Int = 1,
      onCommit: (String, graft.sources.PrunedCommit) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(width > 0.0, "bucket width must be positive")
    require(maxBucket >= 0L, "maxBucket must be non-negative")
    additivePruned(stream, store, schema, streamId, checkpoint,
      registryPartitions, onCommit,
      deltaOf = batch => batch
        .filter(col(valueCol).isNotNull)
        .select(col(keyCol).as("key"),
          least(greatest(floor(col(valueCol).cast("double") / width)
            .cast("long"), lit(0L)), lit(maxBucket)).as("bucket"))
        .groupBy("key", "bucket").agg(count(lit(1)).as("n")),
      groupCols = Seq("key", "bucket"),
      statCols = Seq("n"))
  }

  /** Vocabulary count registry: `token → n`, merged additively per
    * micro-batch — the heavy-hitter/vocabulary side of the registry
    * family ([[incrementalSourceStats]] keys on the source,
    * [[incrementalHistogram]] on (key, bucket); THIS keys on the token
    * itself). A continuously-ingesting corpus reads its top-k tokens,
    * stopword candidates, and vocabulary growth off this table instead
    * of re-tokenizing 100 TB; exact counts, so the top-k readout is a
    * TakeOrdered over [[readTokenCounts]] — no sketch error to argue
    * about.
    *
    * SEGMENTED write path: a batch's vocabulary is uniform over the
    * token key space (touched files ≈ all files under range
    * partitioning), so the delta appends as a merge-on-read segment —
    * per-commit written bytes O(batch), compaction every
    * `spark.graft.registry.compactSegments` commits. Read through
    * [[readTokenCounts]]. */
  def incrementalTokenCounts(
      stream: DataFrame,
      textCol: String,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      registryPartitions: Int = 1,
      onCommit: (String, RegistryCommit) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    additiveSegmented(stream, store, schema, streamId, checkpoint,
      registryPartitions, onCommit,
      deltaOf = batch => batch
        .select(explode(graft.functions.TextFunctions
          .wsTokens(lower(col(textCol)))).as("key"))
        .groupBy("key").agg(count(lit(1)).as("n")),
      groupCols = Seq("key"),
      statCols = Seq("n"))

  /** Adjacent-bigram count registry: `"v w" → (v, w, n)`, merged
    * additively per micro-batch — the collocation side of the
    * vocabulary registry ([[incrementalTokenCounts]]); together the
    * two answer PMI/collocation dashboards off the registries instead
    * of re-tokenizing the corpus (the st20 composition). The v/w
    * components ride WITH the key (functionally dependent, the
    * histogram-bucket pattern) so the PMI join needs no string
    * splitting; bounded by distinct bigrams.
    *
    * SEGMENTED write path (bigram keys are even more uniform than
    * tokens); read through [[readBigramCounts]]. */
  def incrementalBigramCounts(
      stream: DataFrame,
      textCol: String,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      registryPartitions: Int = 1,
      onCommit: (String, RegistryCommit) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    additiveSegmented(stream, store, schema, streamId, checkpoint,
      registryPartitions, onCommit,
      deltaOf = batch => {
        val tk = graft.functions.TextFunctions
          .wsTokens(lower(col(textCol)))
        batch.select(tk.as("__tk"))
          .filter(size(col("__tk")) >= 2)
          .select(
            slice(col("__tk"), lit(1), size(col("__tk")) - 1).as("__vs"),
            slice(col("__tk"), lit(2), size(col("__tk")) - 1).as("__ws"))
          .select(explode(arrays_zip(col("__vs"), col("__ws"))).as("__p"))
          .select(col("__p.__vs").as("v"), col("__p.__ws").as("w"))
          .select(concat(col("v"), lit(" "), col("w")).as("key"),
            col("v"), col("w"))
          .groupBy("key", "v", "w").agg(count(lit(1)).as("n"))
      },
      groupCols = Seq("key", "v", "w"),
      statCols = Seq("n"))

  /** The pruned-upsert additive skeleton: per-stream `txn.<stream_id>`
    * replay map (carried forward wholesale on every commit), batch
    * delta aggregate, then ONE file-pruned additive commit
    * ([[graft.sources.ResultStore.prunedMerge]] with
    * [[graft.sources.Combine.Additive]] — touched-file rows ∪ delta
    * re-aggregated, untouched files carried forward).
    * `groupCols` must start with "key" — the registry's layout,
    * pruning, and upsert key. For few/clustered key spaces only — see
    * the class doc and [[additiveSegmented]].
    *
    * Concurrency contract: commits to one schema must be SERIALIZED
    * across streams. The txn map is read at batch start and written
    * wholesale at commit (read-modify-write), so two streams
    * committing truly concurrently to one schema could erase each
    * other's marker. Spark already serializes the batches of a single
    * stream; multiple streams may interleave on one schema (each
    * commit carries all `txn.*` entries forward) but must not commit
    * at the same instant — a deployment that needs that takes the
    * [[graft.sources.ResultStore.transact]] marker-CAS path, where a
    * racing commit loses the slot and rebases instead. */
  private def additivePruned(
      stream: DataFrame,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      registryPartitions: Int,
      onCommit: (String, graft.sources.PrunedCommit) => Unit,
      deltaOf: DataFrame => DataFrame,
      groupCols: Seq[String],
      statCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.headOption.contains("key"),
      "groupCols must lead with the registry key")
    additiveCore(stream, store, schema, streamId, checkpoint) {
      (batch, txns, _) =>
        val delta = Lineage.cutLocal(deltaOf(batch))
        // ONE pruned commit does the whole additive merge: touched
        // rows ∪ delta re-aggregated, untouched files carried. Reading
        // the batch's keys back first would read every touched file
        // twice and add a touched-file collect per micro-batch, a fixed
        // driver cost that dominates small batches.
        val stats = store.prunedMerge(schema, delta, "key",
          graft.sources.Combine.Additive(groupCols, statCols),
          registryPartitions, meta = txns)
        onCommit(schema, stats)
    }
  }

  /** The merge-on-read segmented additive skeleton: same replay map,
    * but the batch's delta aggregate APPENDS as its own segment
    * (O(batch) written bytes — no read-back, no rewrite) and every
    * `spark.graft.registry.compactSegments` commits (default 8) the
    * base + segments + current delta roll into one merged base.
    * Readers go through [[readMerged]]. The live segment count rides
    * the commit metadata ([[SegmentsKey]]) through the same atomic
    * flip as the data and the txn map, so a crash between commits
    * can never desynchronize it. Same serialized-streams concurrency
    * contract as [[additivePruned]]. */
  private def additiveSegmented(
      stream: DataFrame,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String,
      registryPartitions: Int,
      onCommit: (String, RegistryCommit) => Unit,
      deltaOf: DataFrame => DataFrame,
      groupCols: Seq[String],
      statCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(groupCols.headOption.contains("key"),
      "groupCols must lead with the registry key")
    additiveCore(stream, store, schema, streamId, checkpoint) {
      (batch, txns, meta) =>
        val compactEvery = math.max(2, batch.sparkSession.conf
          .getOption("spark.graft.registry.compactSegments")
          .map(_.toInt).getOrElse(8))
        // HASH-partitioned segment files, deliberately not range: a
        // segment append writes no key-range sidecar (appendSegment's
        // contract — a stale manifest would make point reads miss
        // segment rows) and the next compaction re-range-partitions
        // the merged base itself, so range layout here is bought with
        // a per-batch RangePartitioner SAMPLING job over the delta
        // that no reader ever exploits. Hash sizes the segment by the
        // delta's bytes (the store's layout rule, at least
        // `registryPartitions` files) without the extra pass.
        val cut = Lineage.cutLocal(deltaOf(batch))
        val delta = cut.repartition(
          store.filesFor(cut, registryPartitions), col("key"))
        // missing SegmentsKey on an EXISTING schema means an
        // out-of-band commit (manual overwriteWithMeta, a pruned-path
        // writer) replaced the metadata and dropped the counter —
        // treating that as 0 would defer compaction by up to
        // compactEvery batches EVERY time it happens, letting read
        // cost grow unbounded while reads stay correct. Fail safe the
        // other way: force a compaction, which re-establishes both the
        // counter and the key-range sidecar in one registry-sized
        // commit.
        val segs = meta.get(SegmentsKey).map(_.toInt).getOrElse(
          if (store.hasSchema(schema)) compactEvery else 0)
        if (store.hasSchema(schema) && segs + 1 >= compactEvery) {
          // compaction commit: merge base + segments + this delta into
          // a fresh range-partitioned base WITH a key-range sidecar
          // (ad-hoc point reads prune again until the next segment
          // lands), sized by the whole registry's bytes.
          // Registry-sized, amortized over compactEvery.
          val rolled = graft.sources.Combine.Additive(groupCols, statCols)(
              store.read(schema), cut, "key")
          val merged = rolled.repartitionByRange(
            store.filesFor(rolled, registryPartitions), col("key"))
          store.overwriteWithStats(schema, merged, "key",
            txns + (SegmentsKey -> "0"))
          onCommit(schema, Compacted(segmentsRolled = segs))
        } else {
          val next = if (store.hasSchema(schema)) segs + 1 else 0
          val receipt = store.appendSegment(schema, delta,
            txns + (SegmentsKey -> next.toString))
          onCommit(schema, SegmentAppended(receipt))
        }
    }
  }

  /** Shared micro-batch frame: the batch's window
    * ([[graft.operators.Lineage.microBatch]]: AQE off, shuffles sized
    * by the batch's bytes), replay guard via the per-stream `txn.` map
    * (with the pre-r12 single-pair fallback and its
    * upgrade-on-next-commit), then `commitDelta(batch, txnsMeta,
    * committedMeta)` does the mode-specific write. */
  private def additiveCore(
      stream: DataFrame,
      store: graft.sources.ResultStore,
      schema: String,
      streamId: String,
      checkpoint: String)(
      commitDelta: (DataFrame, Map[String, String], Map[String, String])
        => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch-sized frames throughout: AQE off and shuffles sized by
        // the batch for the burst (Lineage.microBatch)
        Lineage.microBatch(batch) {
        val meta = store.committedMeta(schema)
        // replay guard: the per-stream `txn.<id>` map, FALLING BACK to
        // the pre-r12 single (stream_id, batch_id) pair — a registry
        // whose last commit predates the map upgrade replays its last
        // micro-batch after a restart and must still be caught, or the
        // additive delta double-applies; the first post-upgrade commit
        // writes the map form and the legacy pair goes dormant
        val lastCommitted = meta.get(s"txn.$streamId")
          .orElse(if (meta.get("stream_id").contains(streamId))
            meta.get("batch_id") else None)
        val replayed = lastCommitted.map(_.toLong).exists(_ >= batchId)
        if (!replayed) {
          // carry every stream's marker forward — the commit's meta
          // REPLACES the generation's map wholesale. A legacy pair is
          // UPGRADED into the map here (lowest precedence): dropping
          // it would disarm the old stream's guard on its next replay
          val legacy = (meta.get("stream_id"), meta.get("batch_id")) match {
            case (Some(sid), Some(b)) => Map(s"txn.$sid" -> b)
            case _ => Map.empty[String, String]
          }
          val txns = legacy ++ meta.filter(_._1.startsWith("txn.")) +
            (s"txn.$streamId" -> batchId.toString)
          commitDelta(batch, txns, meta)
        }
        }
      }
      .start()
}
