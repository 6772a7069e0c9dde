package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming realizations of the reference's incremental
  * semantics (SURVEY §2.9): the reference's "run the batch again for
  * new data" contract IS micro-batch streaming, so each piece maps
  * 1:1 — dlt cursor → checkpointed source offsets, MAX(time_id)
  * watermark → `withWatermark`, ON-CONFLICT dedup → `dropDuplicates`
  * within the watermark.
  */
object StreamingPower {
  /** File-source incremental ingest: new parquet files appearing under
    * `srcDir` are exactly the reference's "new rows since cursor"
    * (bronze_ingest.py:13) — offsets checkpointed by the sink query.
    */
  def ingest(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)

  /** Streaming exact-dedup of a DOCUMENT stream by content fingerprint:
    * the LLM-ingest shape — as documents arrive, drop any whose text
    * hash was already seen (state bounded by the watermark horizon).
    * Composition of the batch fingerprint operator (which, being a
    * pure projection, runs unchanged on a stream) with Structured
    * Streaming's stateful dedup. Plain `dropDuplicates("_text_hash")`
    * would keep state FOREVER here — eviction only happens when the
    * event-time column is among the dedup keys — so the
    * within-watermark variant is required for the bounded-state claim
    * to hold.
    */
  def dedupDocumentsByContent(docs: DataFrame, tsCol: String, textCol: String,
      horizon: String): DataFrame =
    docs.withColumn("_text_hash",
        graft.functions.XxHash64Family.hash(org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("_text_hash")
      .drop("_text_hash")

  /** One incremental-dedup step: drop from `batch` every document that
    * near-duplicates (MinHash-LSH, est jaccard ≥ threshold) something
    * already in the parquet index at `indexPath`, canonicalize the batch
    * against ITSELF (two near-dups arriving in the same batch would both
    * pass the index check — only the cluster-min doc enters), then write
    * the survivors to the index under a `batch_id=<id>` partition
    * directory. This is the body of the production daily/streaming dedup
    * loop — the batch cross-corpus operator (`Dedup.minhashLshJoin`)
    * runs unchanged. First call bootstraps the index from the batch.
    *
    * Idempotency under foreachBatch retries: each batch owns its
    * partition directory. A retry after a fully-committed write
    * (`_SUCCESS` present) is a no-op; a retry after a PARTIAL write
    * overwrites only that directory, and the partial files are excluded
    * from `existing` (partition filter on batch_id) so a half-written
    * attempt can never make the batch's own docs look like duplicates.
    */
  def dedupStepAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, threshold: Double = 0.5, batchId: Long = 0L): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    graft.engine.BatchStore.commitStep(spark, indexPath, batchId) {
      val root = new Path(indexPath)
      val existing: Option[DataFrame] =
        if (graft.engine.Generations.ids(graft.engine.Generations.fsOf(spark, root),
            root, graft.engine.BatchStore.Prefix).isEmpty) None
        else Some(spark.read.parquet(indexPath)
          .filter(col("batch_id") =!= batchId).drop("batch_id"))
      val vsIndex = existing match {
        case None => batch
        case Some(idx) =>
          val dupIds = graft.operators.Dedup
            .minhashLshJoin(batch, idx, idCol, textCol, threshold = threshold)
            .select(col("doc_new").as(idCol))
            .distinct()
          batch.join(dupIds, Seq(idCol), "left_anti")
      }
      val selfPairs = graft.operators.Dedup
        .minhashLshPairs(vsIndex, idCol, textCol, threshold = threshold)
      graft.operators.Dedup
        .canonicalCorpus(vsIndex, selfPairs, idCol)
        .drop("cluster_size", "removed_dups")
    }
  }

  /** The loop as a streaming query: each micro-batch dedups against —
    * and grows — the index via `foreachBatch`, keyed by the engine's
    * batch id so retried micro-batches stay idempotent. `compactEvery
    * = n` folds the accreted batch dirs back to ONE whenever ≥ n
    * commit (`BatchStore.compact` — safe inside the same foreachBatch
    * because the stream IS the single writer); 0 = never.
    */
  def dedupStreamAgainstIndex(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpoint: String, threshold: Double = 0.5,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(docs, indexPath, checkpoint,
        compactEvery) { (batch, batchId) =>
      dedupStepAgainstIndex(batch, idCol, textCol, indexPath, threshold, batchId)
    }

  /** One micro-batch of STREAMING CANONICALIZATION: maintain a
    * persisted (doc_id, cluster_id, cluster_size) label table over an
    * ever-growing corpus without ever replaying global connected
    * components — the streaming tier of `assignToExistingClusters`.
    * Layout under `storePath/`: `docs/` (the corpus text, one
    * `batch_id=N` generation per micro-batch, `_SUCCESS`-gated like
    * every batch store) and `labels/` (the label table, republished by
    * a staged whole-dir swap each step).
    *
    * Per step: (1) append the batch's docs; (2) near-dup pairs
    * batch-vs-standing (`minhashLshJoin` — standing side EXCLUDES the
    * batch's own generation, so a retry after a partial docs write can
    * never pair the batch with itself) and within-batch
    * (`minhashLshPairs`); (3) fold the pairs into the standing labels
    * — O(new edges); (4) publish the updated labels, committed by an
    * `_applied` marker (content: the batch id) created LAST inside the
    * staged dir — named like `_SUCCESS`, with no `=`, so Spark's file
    * index filters it and partition inference never reads it:
    * a retried micro-batch whose marker already matches is a no-op
    * BEFORE any compute, and a kill at any swap step heals forward
    * (marker present) or back (old labels intact). Docs not in the
    * label table are canonical-and-unique, matching the batch
    * operators' vertices-from-edges contract.
    */
  def canonicalStep(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, threshold: Double = 0.5, batchId: Long = 0L,
      shingleK: Int = 3, numPerm: Int = 16, bands: Int = 8): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val docsPath = s"$storePath/docs"
    val labelsPath = s"$storePath/labels"
    healLabels(spark, labelsPath)
    val fs = new Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (appliedBatch(fs, labelsPath).contains(batchId)) return // committed retry
    // 1. corpus append (idempotent by the generation dir's _SUCCESS).
    //    An EMPTY micro-batch is a full no-op — publishing a zero-part
    //    generation (or labels dir) would poison schema inference, and
    //    skipping the marker is retry-neutral (empty redelivers empty)
    val batchDocs = batch.select(col(idCol), col(textCol)).localCheckpoint()
    if (batchDocs.isEmpty) return
    graft.engine.BatchStore.commitStep(spark, docsPath, batchId)(batchDocs)
    // 2. new pairs — within the batch, and batch vs the standing corpus
    val within = graft.operators.Dedup
      .minhashLshPairs(batchDocs, idCol, textCol, shingleK = shingleK,
        numPerm = numPerm, bands = bands, threshold = threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val standing = spark.read.parquet(docsPath)
      .filter(col("batch_id") =!= batchId).drop("batch_id")
    val cross = graft.operators.Dedup
      .minhashLshJoin(batchDocs, standing, idCol, textCol, shingleK = shingleK,
        numPerm = numPerm, bands = bands, threshold = threshold)
      .select(col("doc_new").as("a"), col("doc_old").as("b"))
    val pairs = within.unionAll(cross)
    // 3. fold into the standing labels — the label table never
    //    shuffles corpus-scale (see assignToExistingClusters). The
    //    stored cluster_size is CARRIED so the fold re-counts only the
    //    touched clusters, not the whole table.
    val oldLabels =
      if (fs.exists(new Path(labelsPath, "_SUCCESS")))
        spark.read.parquet(labelsPath)
          .select("doc_id", "cluster_id", "cluster_size")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_size",
            org.apache.spark.sql.types.LongType))))
    val updated = graft.operators.Dedup
      .assignToExistingClusters(oldLabels, pairs, "a", "b")
      .localCheckpoint() // freeze before the swap invalidates the old read
    // 4. staged swap, marker created last = the commit point. A
    //    CONCURRENT canonicalLabels() heal may delete the staging before
    //    the marker lands, and the swap aborts: THROW (not return) — a
    //    silent return would let foreachBatch commit the micro-batch with
    //    its label fold lost forever; failing makes the engine retry the
    //    batch (the docs append is already a committed no-op)
    val published = graft.engine.StagedSwap.publish(fs, new Path(labelsPath)) { staging =>
      updated.write.mode("overwrite").parquet(staging.toString)
      val out = fs.create(new Path(staging, "_applied"))
      out.write(batchId.toString.getBytes("UTF-8")); out.close()
    }
    if (!published)
      throw new java.io.IOException(
        s"canonical label staging for batch $batchId was healed away " +
          "by a concurrent reader; retry the micro-batch")
  }

  /** The current label table (healed first): every doc that belongs to
    * a near-dup cluster, its canonical id, and the cluster size.
    */
  def canonicalLabels(spark: SparkSession, storePath: String): DataFrame = {
    healLabels(spark, s"$storePath/labels")
    spark.read.parquet(s"$storePath/labels")
  }

  /** Recover the label table around an interrupted [[canonicalStep]]
    * swap (`StagedSwap.heal`): the staged dir rolls forward only once
    * its `_applied` marker — created last — exists.
    */
  private def healLabels(spark: SparkSession, labelsPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(labelsPath)
    graft.engine.StagedSwap.heal(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      graft.engine.StagedSwap.marker("_applied"))
  }

  /** The batch id the committed label table was last updated by. */
  private def appliedBatch(fs: org.apache.hadoop.fs.FileSystem,
      labelsPath: String): Option[Long] = {
    val f = new org.apache.hadoop.fs.Path(labelsPath, "_applied")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      txt.toLongOption
    }
  }

  /** One micro-batch of the streaming count-min pipeline: sketch the
    * batch's token stream and write it under `batch_id=<id>` —
    * idempotent under retries exactly like `dedupStepAgainstIndex`
    * (committed dirs are skipped, partial dirs overwritten). The
    * store IS the merged sketch: count-min merges by summing counters
    * per (r, c), so `mergedCountMin` is one bounded hash aggregate
    * over ≤ batches×depth×width tiny rows — no raw tokens are ever
    * retained, which is the sketch's point: heavy-hitter state stays
    * constant-size no matter how much stream has passed.
    */
  def countMinStep(batch: DataFrame, textCol: String, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sketches.countMinSketch(
        batch.select(explode(split(col(textCol), " ")).as("token")), "token", 4, 1024)
    }

  /** The count-min MERGE as a compaction hook: counters sum per
    * (r, c) — the folded generation is ≤ depth×width rows however
    * many batches it absorbed, and `mergedCountMin`'s read-side sum
    * over it is unchanged (sum is associative).
    */
  val countMinMerge: DataFrame => DataFrame =
    _.groupBy("r", "c").agg(sum(col("cnt")).as("cnt"))

  /** The loop as a streaming query over a document stream.
    * `compactEvery = n` folds the store to one MERGED generation
    * (constant-size: [[countMinMerge]]) whenever ≥ n batches commit.
    */
  def countMinStream(docs: DataFrame, textCol: String, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(docs, storePath, checkpoint, compactEvery,
        countMinMerge) { (batch, batchId) =>
      countMinStep(batch, textCol, storePath, batchId)
    }

  /** The merged sketch across every committed batch: sum per (r, c).
    * Committed-only read — a partial batch dir's counters would
    * silently inflate the totals (`BatchStore.read`).
    */
  def mergedCountMin(spark: SparkSession, storePath: String): DataFrame =
    graft.engine.BatchStore.read(spark, storePath)
      .groupBy("r", "c").agg(sum(col("cnt")).as("cnt"))

  /** One micro-batch of a streaming KEY-SKETCH store: count-min over a
    * key COLUMN (cast to string exactly like
    * `Sketches.joinSizeEstimate`, so stored and one-shot sketches are
    * bit-identical) — the per-table planning sketch a pipeline
    * maintains beside each fact table. Same committed-skip/heal
    * contract as [[countMinStep]]; fold = [[countMinMerge]].
    */
  def keySketchStep(batch: DataFrame, keyCol: String, storePath: String,
      batchId: Long, depth: Int = 4, width: Int = 1024): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sketches.countMinSketch(
        batch.select(col(keyCol).cast("string").as("k")), "k", depth, width)
    }

  /** The STORE-FED join-size readout: fold each side's committed
    * sketch rows (exact counter sums, order-free) and run the AMS
    * min-inner-product — join cardinality predicted from two
    * persisted depth×width tables with NO scan of either fact table.
    * Streamed ≡ one-shot because count-min is linear in its input:
    * the sum of per-batch sketches IS the corpus sketch.
    */
  def mergedJoinSize(spark: SparkSession, pathA: String, pathB: String,
      depth: Int = 4): DataFrame =
    graft.operators.Sketches.joinSizeFromSketches(
      mergedCountMin(spark, pathA), mergedCountMin(spark, pathB), depth)

  /** One micro-batch of the streaming COLUMN-PROFILE store: the
    * batch's (column, value, cnt) histogram (`Profile.valueHistogram`
    * — the profile's mergeable form) lands under `batch_id=<id>` with
    * the committed-skip guard. Store size is the sum of per-column
    * cardinalities seen so far, never event volume; duplicate
    * (column, value) rows across batches fold by summing cnt.
    */
  def profileStep(batch: DataFrame, cols: Seq[String], storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Profile.valueHistogram(batch, cols)
    }

  /** Profile MERGE as a compaction hook: cnt sums per (column, value)
    * — the folded generation is cardinality-sized (see
    * [[countMinMerge]]).
    */
  val profileMerge: DataFrame => DataFrame =
    _.groupBy("column_name", "value").agg(sum(col("cnt")).as("cnt"))

  /** The loop as a streaming query over a row stream. `compactEvery =
    * n` folds the store to one MERGED generation whenever ≥ n batches
    * commit.
    */
  def profileStream(rows: DataFrame, cols: Seq[String], storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        profileMerge) { (batch, batchId) =>
      profileStep(batch, cols, storePath, batchId)
    }

  /** The profile readout across every committed batch: fold the
    * stored histograms per (column, value), then the SAME
    * `profileFromCounts` the batch profiler uses — streamed == batch
    * by construction once the folded histogram equals the one-shot
    * one. Committed-only read (`BatchStore.read`): a partial batch
    * dir would silently inflate counts.
    */
  def mergedProfile(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Profile.profileFromCounts(
      graft.engine.BatchStore.read(spark, storePath)
        .groupBy("column_name", "value").agg(sum(col("cnt")).as("cnt")))

  /** One micro-batch of the streaming HLL store: the batch's
    * (bucket, rho) register frame (`Sketches.hllRegisters`) lands
    * under `batch_id=<id>` with the committed-skip guard. The fold is
    * per-register MAX — the HyperLogLog UNION — so unlike the
    * sum-based sketch stores this one is insensitive to values
    * re-observed across batches: distinct-count state stays ≤ 2^p
    * registers however much (and however duplicated) the stream is.
    */
  def hllStep(batch: DataFrame, valueCol: String, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sketches.hllRegisters(batch, col(valueCol))
    }

  /** HLL MERGE as a compaction hook: rho MAXES per bucket — union, not
    * sum; folded generation ≤ 2^p rows.
    */
  val hllMerge: DataFrame => DataFrame =
    _.groupBy("bucket").agg(max(col("rho")).as("rho"))

  /** One micro-batch of the streaming QUANTILE-SKETCH store: the
    * batch's per-group bottom-k sample (`Sketches.quantileSample`)
    * lands under `batch_id=N` with the committed-skip guard. Fold =
    * dedup-by-(group, h) then re-trim to k — exact, and re-delivery of
    * a row is a no-op (same id → same hash → one distinct sample row),
    * so overlapping batches don't skew the sample.
    */
  def quantileStep(batch: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int, storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sketches.quantileSample(batch, groupCol, idCol, valueCol, k)
    }

  /** Bottom-k sample MERGE as a compaction hook — exact (see
    * `Sketches.mergeQuantileSamples`); folded generation ≤ groups·k
    * rows.
    */
  def quantileMerge(k: Int): DataFrame => DataFrame =
    df => graft.operators.Sketches.mergeQuantileSamples(df, k)

  /** Readout: fold the store's generations and read the grouped
    * quantiles off the merged sample — streamed ≡ one-shot by the
    * bottom-k merge identity.
    */
  def mergedQuantiles(spark: SparkSession, storePath: String, k: Int,
      qs: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99)): DataFrame =
    graft.operators.Sketches.quantilesFromSample(
      graft.operators.Sketches.mergeQuantileSamples(
        graft.engine.BatchStore.read(spark, storePath), k), qs)

  /** The loop as a streaming query over a value stream. */
  def hllStream(rows: DataFrame, valueCol: String, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        hllMerge) { (batch, batchId) =>
      hllStep(batch, valueCol, storePath, batchId)
    }

  /** Distinct-count readout across every committed batch: registers
    * union by per-bucket max, then the SAME closed-form estimate the
    * batch sketch uses — streamed == batch EXACTLY (max is
    * associative, commutative, idempotent; re-delivered values cannot
    * inflate it). Committed-only read (`BatchStore.read`).
    */
  def mergedHllDistinct(spark: SparkSession, storePath: String,
      p: Int = 12): DataFrame =
    graft.operators.Sketches.hllEstimateFromRegisters(
      graft.engine.BatchStore.read(spark, storePath)
        .groupBy("bucket").agg(max(col("rho")).as("rho")), p)

  /** One micro-batch of the streaming QUALITY-FUNNEL store: the
    * batch's cumulative-pass counters (`TextAnalysis.funnelCounts` —
    * one exact-integer row per batch, the funnel's mergeable form)
    * land under `batch_id=<id>` with the committed-skip guard. Fold =
    * elementwise SUM, so batches must partition the corpus; the store
    * holds ONE row per batch however much text streamed past.
    */
  def funnelStep(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.TextAnalysis.funnelCounts(
        graft.operators.TextAnalysis.funnelSignals(batch, idCol, textCol))
    }

  /** Funnel-counter MERGE as a compaction hook: exact elementwise sums. */
  val funnelMerge: DataFrame => DataFrame =
    _.agg(sum(col("n0")).as("n0"), sum(col("a1")).as("a1"),
      sum(col("a2")).as("a2"), sum(col("a3")).as("a3"),
      sum(col("a4")).as("a4"))

  /** The loop as a streaming query over a document stream. */
  def funnelStream(rows: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        funnelMerge) { (batch, batchId) =>
      funnelStep(batch, idCol, textCol, storePath, batchId)
    }

  /** The funnel readout across every committed batch: fold the
    * counters (exact sums), then the SAME `funnelReport` rendering
    * the batch path uses — streamed == batch EXACTLY once the folded
    * counters equal the one-shot ones. Committed-only read
    * (`BatchStore.read`).
    */
  def mergedFunnel(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.TextAnalysis.funnelReport(
      funnelMerge(graft.engine.BatchStore.read(spark, storePath)))

  /** One micro-batch of the streaming PSI drift-monitor store: the
    * batch's per-bin exact (ca, cb) counts land in a committed
    * `batch_id=N` dir (idempotent under foreachBatch retries — same
    * shape as `funnelStep`). The report folds rows, so compaction can
    * collapse generations with `psiMerge` at any time.
    */
  def psiStep(batch: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String, lo: Double, hi: Double, bins: Int,
      storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.StatTests
        .psiBinCounts(batch, valueCol, groupCol, a, b, lo, hi, bins)
    }

  /** PSI bin-count MERGE as a compaction hook: exact per-bin sums. */
  val psiMerge: DataFrame => DataFrame =
    _.groupBy(col("bin")).agg(sum(col("ca")).as("ca"),
      sum(col("cb")).as("cb"))

  /** The PSI loop as a streaming query over an event stream. */
  def psiStream(rows: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String, lo: Double, hi: Double, bins: Int,
      storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        psiMerge) { (batch, batchId) =>
      psiStep(batch, valueCol, groupCol, a, b, lo, hi, bins,
        storePath, batchId)
    }

  /** The drift readout across every committed batch: fold the bin
    * counts (exact sums) and render the SAME smoothed index the
    * one-shot path computes — streamed == batch exactly.
    */
  def mergedPsi(spark: SparkSession, storePath: String,
      bins: Int): DataFrame =
    graft.operators.StatTests.psiFromCounts(
      graft.engine.BatchStore.read(spark, storePath), bins)

  /** One micro-batch of the streaming IMAGE-HASH store: the batch's
    * payloads decode ONCE (the expensive codec pass) and only the
    * (doc_id, w0, w1) dHash words land under `batch_id=N` with the
    * committed-skip guard — 3 longs per image however large the
    * raster. Batches must partition the corpus by doc (the
    * profile-store contract); a retried committed batch is a no-op.
    */
  def imageHashStep(payloads: DataFrame, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(payloads.sparkSession, storePath, batchId) {
      graft.operators.Multimodal.dHash(payloads).toDF()
        .select(col("doc_id"), col("w0"), col("w1"))
    }

  /** Image-hash MERGE as a compaction hook: each doc lives in exactly
    * one batch, so min() per word is the identity fold — deterministic
    * however generations interleave.
    */
  val imageHashMerge: DataFrame => DataFrame =
    _.groupBy(col("doc_id")).agg(min(col("w0")).as("w0"),
      min(col("w1")).as("w1"))

  /** The image-hash loop as a streaming query over a payload stream. */
  def imageHashStream(rows: DataFrame, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        imageHashMerge) { (batch, batchId) =>
      imageHashStep(batch, storePath, batchId)
    }

  /** The near-dup readout across every committed batch: the q290
    * banded-pair Hamming histogram off the stored hash table —
    * streamed ≡ one-shot because the hash rows are per-doc facts and
    * the pair chain is a pure function of the folded table.
    */
  def mergedImagePairs(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Multimodal.dHashPairHistogram(
      // imageHashMerge is the identity under the disjoint-batches
      // contract, but the contract is unenforced: folding here means a
      // doc that ever landed in two committed batch dirs can't inflate
      // n_pairs via duplicated attach-join rows (mergedWasserstein's
      // fold discipline, applied to the pair readout).
      imageHashMerge(graft.engine.BatchStore.read(spark, storePath)))

  /** One micro-batch of the streaming AUDIO-FINGERPRINT store — the
    * acoustic twin of [[imageHashStep]]: the batch's clips parse ONCE
    * (the expensive container/PCM pass) and only the (doc_id, w0, w1)
    * fingerprint words land under `batch_id=N` with the
    * committed-skip guard — 3 longs per clip however long the audio.
    * Batches must partition the corpus by doc (the profile-store
    * contract); a retried committed batch is a no-op.
    */
  def audioFpStep(payloads: DataFrame, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(payloads.sparkSession, storePath, batchId) {
      graft.operators.Multimodal.audioFingerprint(payloads).toDF()
        .select(col("doc_id"), col("w0"), col("w1"))
    }

  /** Audio-fingerprint MERGE as a compaction hook: each clip lives in
    * exactly one batch, so min() per word is the identity fold —
    * deterministic however generations interleave.
    */
  val audioFpMerge: DataFrame => DataFrame =
    _.groupBy(col("doc_id")).agg(min(col("w0")).as("w0"),
      min(col("w1")).as("w1"))

  /** The audio-fingerprint loop as a streaming query over a payload
    * stream.
    */
  def audioFpStream(rows: DataFrame, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        audioFpMerge) { (batch, batchId) =>
      audioFpStep(batch, storePath, batchId)
    }

  /** The near-dup readout across every committed batch of the audio
    * store: the banded Hamming pair histogram off the stored words —
    * the image readout's machinery verbatim (`dHashPairHistogram`
    * takes any (doc_id, w0, w1) frame), with the same fold-before-
    * read discipline.
    */
  def mergedAudioPairs(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Multimodal.dHashPairHistogram(
      audioFpMerge(graft.engine.BatchStore.read(spark, storePath)))

  /** One micro-batch of the streaming VIDEO-FINGERPRINT store — the
    * temporal twin of [[imageHashStep]]/[[audioFpStep]]: the batch's
    * clips decode ONCE (every sampled frame's full raster) and only
    * the (doc_id, w0, w1) temporal-signature words land under
    * `batch_id=N` with the committed-skip guard — 3 longs per video
    * however long the clip. Batches must partition the corpus by doc;
    * a retried committed batch is a no-op.
    */
  def videoFpStep(payloads: DataFrame, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(payloads.sparkSession, storePath, batchId) {
      graft.operators.Multimodal.videoFingerprint(payloads).toDF()
        .select(col("doc_id"), col("w0"), col("w1"))
    }

  /** Video-fingerprint MERGE as a compaction hook: one batch per clip
    * by contract, so min() per word is the identity fold.
    */
  val videoFpMerge: DataFrame => DataFrame =
    _.groupBy(col("doc_id")).agg(min(col("w0")).as("w0"),
      min(col("w1")).as("w1"))

  /** The video-fingerprint loop as a streaming query. */
  def videoFpStream(rows: DataFrame, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        videoFpMerge) { (batch, batchId) =>
      videoFpStep(batch, storePath, batchId)
    }

  /** The near-dup readout across every committed batch of the video
    * store — the image/audio readout's banded-Hamming machinery
    * verbatim, same fold-before-read discipline.
    */
  def mergedVideoPairs(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Multimodal.dHashPairHistogram(
      videoFpMerge(graft.engine.BatchStore.read(spark, storePath)))

  /** The W₁ (earth-mover's) drift readout across every committed
    * batch of a PSI-style store: fold the stored (bin, ca, cb) counts
    * (exact sums) and run the same cross-multiplied integer readout
    * as the one-shot `StatTests.wasserstein1` — streamed ≡ batch
    * exactly. The store rows are the SAME mergeable shape `psiStep`
    * writes, so one persisted monitor store serves both the PSI and
    * the metric-aware W₁ readings.
    */
  def mergedWasserstein(spark: SparkSession, storePath: String,
      lo: Double, hi: Double, bins: Int): DataFrame =
    graft.operators.StatTests.wasserstein1FromBins(
      graft.engine.BatchStore.read(spark, storePath), lo, hi, bins)

  /** One micro-batch of the streaming volume-trend store: the batch's
    * per-(group, epoch-day) exact counts (`Sessions.dailyCounts` —
    * the mergeable half of q245) land under `batch_id=<id>` with the
    * committed-skip guard. Fold = per-(group, day) SUM, so batches
    * must partition the stream (the profile-store contract); state is
    * ≤ groups×days rows per batch.
    */
  def trendStep(batch: DataFrame, groupCol: String, tsCol: String,
      storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sessions.dailyCounts(batch, groupCol, tsCol)
    }

  /** Daily-count MERGE as a compaction hook: exact per-(group, day)
    * sums.
    */
  val trendMerge: DataFrame => DataFrame =
    _.groupBy(col("group"), col("d")).agg(sum(col("c")).as("c"))

  /** The trend loop as a streaming query over an event stream. */
  def trendStream(rows: DataFrame, groupCol: String, tsCol: String,
      storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        trendMerge) { (batch, batchId) =>
      trendStep(batch, groupCol, tsCol, storePath, batchId)
    }

  /** The drift readout across every committed batch: fold the daily
    * counts (exact sums) and render the SAME OLS the one-shot path
    * computes — streamed == batch exactly.
    */
  def mergedTrend(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Sessions.trendFromDaily(
      graft.engine.BatchStore.read(spark, storePath))

  /** The CUSUM changepoint readout over the SAME mergeable
    * daily-count store [[trendStep]] fills — one store, two reports
    * (drift slope and regime shift): fold the committed batches'
    * exact counts and render the one-shot scan — streamed ≡ batch
    * exactly (q264 hash-certifies it against q256's oracle verbatim).
    */
  def mergedCusum(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Sessions.cusumDaily(
      graft.engine.BatchStore.read(spark, storePath))

  /** One micro-batch of the streaming SEASONAL store: hourly bucket
    * counts are mergeable exactly like [[trendStep]]'s daily ones —
    * append the batch's (bucket_sec, cnt) under `batch_id=<id>` with
    * the committed-skip guard.
    */
  def seasonalStep(batch: DataFrame, tsCol: String, storePath: String,
      batchId: Long, stepSeconds: Long = 3600L): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      batch.select(
          expr(s"unix_timestamp($tsCol) div $stepSeconds * $stepSeconds")
            .as("bucket_sec"))
        .groupBy("bucket_sec").agg(count(lit(1)).as("cnt"))
    }

  /** Bucket-count MERGE as a compaction hook: exact per-bucket sums. */
  val seasonalMerge: DataFrame => DataFrame =
    _.groupBy(col("bucket_sec")).agg(sum(col("cnt")).as("cnt"))

  /** The seasonal-decomposition readout across every committed batch:
    * fold the bucket counts (exact sums) and render the SAME
    * decomposition the one-shot path computes — streamed ≡ batch
    * exactly (q274 hash-certifies against q258's oracle verbatim).
    */
  def mergedSeasonal(spark: SparkSession, storePath: String,
      stepSeconds: Long = 3600L, period: Int = 24,
      halfWindow: Int = 12): DataFrame =
    graft.operators.Resample.seasonalFromBuckets(
      graft.engine.BatchStore.read(spark, storePath),
      stepSeconds, period, halfWindow)

  /** One micro-batch of the streaming EWMA store: smooth the batch's
    * rows SEEDED from each key's persisted tail (max-step row across
    * committed batches) and append them under `batch_id=<id>` with
    * the committed-skip guard — a retried batch id is a no-op, so
    * the recurrence never double-applies.
    *
    * Contract (the sequential-fold analogue of the profile-store
    * "batches partition the corpus" rule): micro-batches must carry
    * each key's events in nondecreasing event-time order ACROSS
    * batches — an ordered feed's reality. Under it, streamed output ≡
    * the one-shot [[graft.operators.Resample.ewma]] fold exactly
    * (StreamingSpec proves it, q234 hash-certifies it).
    *
    * The tail read scans committed output rows; `compactEvery`
    * folding keeps that a single generation. Output rows are
    * append-only facts, so the compaction merge is identity.
    */
  def ewmaStep(batch: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alphaPpm: Long, storePath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    graft.engine.BatchStore.commitStep(spark, storePath, batchId) {
      val committed = graft.engine.BatchStore.committedBatches(spark, storePath)
      val state = if (committed.isEmpty) None else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("step").desc)
        Some(graft.engine.BatchStore.read(spark, storePath)
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col(keyCol), col("step").as("step0"),
            col("s_micro").as("s0_micro")))
      }
      graft.operators.Resample
        .ewmaWith(batch, keyCol, tsCol, valueCol, alphaPpm, state)
    }
  }

  /** EWMA rows are append-only facts — compaction folds generations
    * by concatenation (schema preserved, nothing summed).
    */
  val ewmaMerge: DataFrame => DataFrame = df => df

  /** The EWMA loop as a streaming query over an ordered feed. */
  def ewmaStream(rows: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alphaPpm: Long, storePath: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        ewmaMerge) { (batch, batchId) =>
      ewmaStep(batch, keyCol, tsCol, valueCol, alphaPpm, storePath, batchId)
    }

  /** The full smoothed series across every committed batch — must
    * render exactly like the one-shot fold over the same rows.
    */
  def mergedEwma(spark: SparkSession, storePath: String,
      keyCol: String): DataFrame =
    graft.engine.BatchStore.read(spark, storePath)
      .select(col(keyCol), col("step"), col("ts_sec"), col("v_micro"),
        col("s_micro"), col("ewma"))
      .orderBy(keyCol, "step")

  /** One micro-batch of the streaming DSIR importance-model store:
    * the batch's per-bucket (tc, rc) token counts
    * (`Sampling.dsirBucketStats` — exact integers, the mergeable half
    * of q185) land under `batch_id=<id>` with the committed-skip
    * guard. Fold = per-bucket SUM, so batches must partition the
    * corpus (the profile-store contract); model state is ≤ `buckets`
    * rows per batch however much text streamed past.
    */
  def dsirStep(batch: DataFrame, idCol: String, textCol: String,
      targetCol: String, buckets: Int, storePath: String, batchId: Long,
      hashes: graft.functions.HashFamily = graft.functions.Md5Family): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sampling
        .dsirBucketStats(batch, idCol, textCol, targetCol, buckets, hashes)
    }

  /** DSIR stats MERGE as a compaction hook: exact sums per bucket. */
  val dsirMerge: DataFrame => DataFrame =
    _.groupBy("bucket").agg(sum(col("tc")).as("tc"), sum(col("rc")).as("rc"))

  /** The loop as a streaming query over a document stream. */
  def dsirStream(rows: DataFrame, idCol: String, textCol: String,
      targetCol: String, buckets: Int, storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        dsirMerge) { (batch, batchId) =>
      dsirStep(batch, idCol, textCol, targetCol, buckets, storePath, batchId)
    }

  /** Score a corpus against the streamed importance model: fold the
    * committed bucket stats (exact sums), then the SAME scoring half
    * the one-shot sampler uses (`Sampling.importanceResampleWith`) —
    * streamed == batch EXACTLY once the folded stats equal the
    * one-shot stats. Committed-only read (`BatchStore.read`): a
    * partial batch dir would silently skew the model.
    */
  def mergedDsirSample(spark: SparkSession, storePath: String,
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      buckets: Int = 256,
      hashes: graft.functions.HashFamily = graft.functions.Md5Family): DataFrame =
    graft.operators.Sampling.importanceResampleWith(docs, idCol, textCol,
      dsirMerge(graft.engine.BatchStore.read(spark, storePath)),
      n, buckets, hashes)

  /** One micro-batch of the streaming HISTOGRAM store: the batch's
    * fixed-edge histogram written to a per-batch-id dir with the same
    * committed-skip guard as `countMinStep` — retries are no-ops, and
    * the store holds ≤ batches×bins tiny rows however much stream has
    * passed (the mergeable-sketch point, applied to quantiles).
    */
  def histogramStep(batch: DataFrame, valueCol: String, lo: Double,
      hi: Double, bins: Int, storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      graft.operators.Sketches.fixedHistogram(batch, valueCol, lo, hi, bins)
    }

  /** Histogram MERGE as a compaction hook: bin counters sum — the
    * folded generation is ≤ `bins` rows (see [[countMinMerge]]).
    */
  val histogramMerge: DataFrame => DataFrame =
    _.groupBy("bin").agg(sum(col("bcnt")).as("bcnt"))

  /** The loop as a streaming query over a value stream. `compactEvery
    * = n` folds the store to one MERGED generation whenever ≥ n
    * batches commit.
    */
  def histogramStream(rows: DataFrame, valueCol: String, lo: Double,
      hi: Double, bins: Int, storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        histogramMerge) { (batch, batchId) =>
      histogramStep(batch, valueCol, lo, hi, bins, storePath, batchId)
    }

  /** Merged histogram across every committed batch: sum per bin —
    * feed to `Sketches.quantilesFromHistogram` for the readout.
    */
  def mergedHistogram(spark: SparkSession, storePath: String): DataFrame =
    graft.engine.BatchStore.read(spark, storePath)
      .groupBy("bin").agg(sum(col("bcnt")).as("bcnt"))

  /** One micro-batch of the streaming CALIBRATION store: the batch's
    * per-bin (n, pos) outcome counts land under `batch_id=N` with the
    * committed-skip guard — ≤ `bins` tiny rows per batch no matter the
    * batch size. Counts are mergeable by plain summation, so the
    * isotonic readout over the merged table is IDENTICAL to the
    * one-shot `Sampling.isotonicCalibration` on the full history
    * (streamed ≡ one-shot, the repo's streaming-store contract).
    */
  def calibrationStep(batch: DataFrame, scoreCol: String, hitCol: String,
      bins: Int, binWidth: Double, storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      // clamp on the LONG before the narrowing cast (ANSI CAST_OVERFLOW
      // guard — mirrors Sampling.isotonicCalibration / psiBinCounts)
      batch.select(
          least(lit((bins - 1).toLong), greatest(lit(0L),
            floor(col(scoreCol) / lit(binWidth)).cast("long"))).cast("int").as("bin"),
          col(hitCol).cast("int").as("_hit"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("_hit").as("pos"))
    }

  /** Calibration MERGE as a compaction hook: per-bin counts add — the
    * folded generation is ≤ bins rows however many batches it
    * absorbed.
    */
  val calibrationMerge: DataFrame => DataFrame =
    _.groupBy("bin").agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))

  /** The loop as a streaming query over a scored-outcome stream. */
  def calibrationStream(rows: DataFrame, scoreCol: String, hitCol: String,
      bins: Int, binWidth: Double, storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(rows, storePath, checkpoint, compactEvery,
        calibrationMerge) { (batch, batchId) =>
      calibrationStep(batch, scoreCol, hitCol, bins, binWidth,
        storePath, batchId)
    }

  /** Isotonic readout over everything the store has seen — by
    * construction equal to the one-shot fit on the union of all
    * committed batches.
    */
  def mergedCalibration(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Sampling.isotonicFromBins(
      graft.engine.BatchStore.read(spark, storePath)
        .groupBy("bin").agg(sum(col("n")).as("n"), sum(col("pos")).as("pos")))

  /** One micro-batch of the streaming CADENCE store: the batch's
    * DISTINCT (key, bucket_sec) observations land under
    * `batch_id=<id>` with the committed-skip guard — per-event volume
    * never persists, only the observed grid points, so the store is
    * bounded by keys × elapsed buckets no matter the event rate, and
    * [[cadenceMerge]] folds duplicate buckets re-observed across
    * batches back out.
    */
  def cadenceStep(batch: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long, storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      batch.select(col(keyCol),
        expr(s"unix_timestamp($tsCol) DIV $stepSeconds * $stepSeconds")
          .as("bucket_sec"))
        .distinct()
    }

  /** Cadence MERGE as a compaction hook: the state is a SET of grid
    * points, so the fold is `distinct` — idempotent, and a pure
    * refinement of the read-side distinct in [[cadenceReport]].
    */
  val cadenceMerge: DataFrame => DataFrame = _.distinct()

  /** The loop as a streaming query over an event stream. `compactEvery
    * = n` folds the store to one distinct-set generation whenever ≥ n
    * batches commit.
    */
  def cadenceStream(events: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long, storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(events, storePath, checkpoint, compactEvery,
        cadenceMerge) { (batch, batchId) =>
      cadenceStep(batch, keyCol, tsCol, stepSeconds, storePath, batchId)
    }

  /** The gap/cadence report over everything the store has seen —
    * identical, by construction, to `Resample.gapReport` on the full
    * event history: the store holds the distinct bucket set, which is
    * exactly the report's input.
    */
  def cadenceReport(spark: SparkSession, storePath: String, keyCol: String,
      stepSeconds: Long): DataFrame =
    graft.operators.Resample.gapFromBuckets(
      graft.engine.BatchStore.read(spark, storePath)
        .select(col(keyCol), col("bucket_sec")).distinct(),
      keyCol, stepSeconds)

  /** One micro-batch of the streaming EMBEDDING-MOMENT store: the
    * batch's per-dimension (n, Σq, Σq²) rows land under `batch_id=N`
    * with the committed-skip guard — 64 tiny rows per batch no matter
    * the batch size, and [[momentMerge]] sums them to a constant-size
    * generation. The incremental face of `Pca.dimDrift`/q148's moment
    * pass: drift and variance monitoring over an unbounded embedding
    * stream without ever re-scanning history.
    *
    * Sums run over the FIXED-POINT coordinates (`Pca.quantize`,
    * q = round(x·10⁶)) as exact integers — double partial sums depend
    * on batch/partition order and flip round(_, 6) boundaries against
    * a sequential-order oracle (the CLAUDE.md order-invariance
    * invariant). Σq is a long (exact to ~10¹² unit-scale rows per
    * dim); Σq² accumulates as decimal(38,0), exact at any scale.
    */
  def momentStep(batch: DataFrame, embCol: String, storePath: String,
      batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId) {
      batch.select(posexplode(graft.operators.Pca.quantize(col(embCol)))
          .as(Seq("dim", "q")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
            .as("sum_q2"))
    }

  /** Moment MERGE as a compaction hook: counts and exact integer sums
    * add per dim — the folded generation is ≤ dim rows however many
    * batches it absorbed, and [[momentReport]]'s read-side sum is
    * unchanged.
    */
  val momentMerge: DataFrame => DataFrame =
    _.groupBy("dim").agg(sum(col("n")).as("n"), sum(col("sum_q")).as("sum_q"),
      sum(col("sum_q2")).as("sum_q2"))

  /** Per-dimension mean/variance over everything the store has seen:
    * exact merged integer sums reconstructed to doubles ONCE with the
    * q148/q149 association (mean = Σq/10⁶/n, var = Σq²/10¹²/n − m·m),
    * round(_, 6) — bit-identical to the one-shot batch computation,
    * not merely close: integer sums are order-invariant across any
    * batch split. Committed-only read (`BatchStore.read`): a crashed
    * step's partial per-dim rows would silently corrupt the totals.
    */
  def momentReport(spark: SparkSession, storePath: String): DataFrame = {
    val merged = graft.engine.BatchStore.read(spark, storePath)
      .groupBy("dim").agg(sum(col("n")).as("n"), sum(col("sum_q")).as("sum_q"),
        sum(col("sum_q2")).as("sum_q2"))
    def mean = col("sum_q").cast("double") / lit(graft.operators.Pca.Scale) / col("n")
    merged.select(col("dim"), col("n"),
      round(mean, 6).as("mean"),
      round(col("sum_q2").cast("double") / lit(graft.operators.Pca.Scale2) / col("n")
        - mean * mean, 6).as("variance"))
      .orderBy("dim")
  }

  /** One micro-batch of the streaming CDC ingest: the batch's raw
    * changelog rows land under `batch_id=<id>` with the same
    * committed-skip guard as the sketch stores — a retried micro-batch
    * is a no-op, so no op is ever applied twice. Unlike the sketches
    * this store keeps ROWS (CDC has no lossy summary), but the
    * current-state readout stays cheap: `Cdc.applyChangelog`'s
    * map-side partial max_by means the compaction shuffle carries one
    * candidate per KEY, not the accumulated changelog.
    */
  def cdcStep(batch: DataFrame, storePath: String, batchId: Long): Unit =
    graft.engine.BatchStore.commitStep(batch.sparkSession, storePath, batchId)(batch)

  /** The loop as a streaming query over a changelog stream.
    * `compactEvery = n` folds the accreted batch dirs to one whenever
    * ≥ n commit — an IDENTITY fold (CDC keeps rows: `applyChangelog`
    * needs the full op history, so there is no lossy merge to apply;
    * the win is file count and listing cost only).
    */
  def cdcStream(changelog: DataFrame, storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    graft.engine.BatchStore.stream(changelog, storePath, checkpoint,
        compactEvery) { (batch, batchId) =>
      cdcStep(batch, storePath, batchId)
    }

  /** Current table state across every committed changelog batch —
    * committed-only read (`BatchStore.read`): a crashed step's partial
    * changelog rows could otherwise apply a half-written batch.
    */
  def cdcCurrentState(spark: SparkSession, storePath: String, keyCol: String,
      seqCol: String, opCol: String, attrCols: Seq[String]): DataFrame =
    graft.operators.Cdc.applyChangelog(
      graft.engine.BatchStore.read(spark, storePath).drop("batch_id"),
      keyCol, seqCol, opCol, attrCols)

  /** STREAM-STREAM interval join: purchases attributed to the same
    * user's clicks within a lookback window, both sides live streams.
    * The event-time range condition plus watermarks on BOTH sides is
    * what lets Spark bound the join state: a buffered click can be
    * evicted once the purchase-side watermark passes
    * `click_ts + lookback` — without the range condition the state
    * grows forever. The batch analog is `RangeJoin.pointInInterval` /
    * `AsofJoin`; spec-checked equal to the batch join on the same data.
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      lookback: String = "1 hour", horizon: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("ts", horizon)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val c = clicks.withWatermark("ts", horizon)
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    p.join(c, expr(
      s"""user_id = c_user_id AND
         |click_ts >= purchase_ts - INTERVAL $lookback AND
         |click_ts <= purchase_ts""".stripMargin))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Tumbling per-minute aggregate with event-time watermark — the
    * streaming analog of the gold per-minute feature row.
    */
  def minuteAggregate(events: DataFrame, horizon: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", horizon)
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("minute_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** The medallion pipeline driven BY Structured Streaming: new feed
    * files arriving under `feedDir` become micro-batches, and each
    * micro-batch runs the full incremental bronze→silver→gold pass via
    * `foreachBatch` — the reference's rerun-for-new-data loop
    * (bronze_ingest.py:86-89) with checkpointed offsets instead of a
    * manual cursor. Watermark + lookback+trim semantics are exactly
    * the batch pipeline's (SURVEY §2.9 "same lookback+trim in
    * foreachBatch").
    */
  def medallionStream(spark: SparkSession, feedDir: String, checkpoint: String,
      paths: graft.medallion.PowerPipeline.Paths): org.apache.spark.sql.streaming.StreamingQuery =
    ingest(spark, feedDir, graft.medallion.PowerSchemas.raw)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.medallion.PowerPipeline.runIncrement(batch.sparkSession, batch, paths)
      }
      .start()

  // --- stateful sessionization ---

  case class Evt(user_id: Long, ts: Timestamp, value: Double)
  case class SessionBuf(start: Long, end: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** The PRODUCTION streaming sessionization: built-in `session_window`
    * + event-time watermark. State-store backed — no per-group
    * buffering, sessions close (and emit, in append mode) once the
    * watermark passes their gap horizon. Column surface matches
    * `Sessions.sessionize` / q51 (bounds re-derived as min/max event
    * time because session_window.end is last_event + gap).
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int,
      horizon: String = "1 hour"): DataFrame =
    events.withWatermark("ts", horizon)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))

  /** Per-user gap sessionization with explicit state — the custom-state
    * form (`flatMapGroupsWithState`) of `Sessions.sessionize`, for
    * session logic the built-in can't express. Emits a session when a
    * gap > `gapMinutes` is observed; with `EventTimeTimeout` the open
    * session is flushed once the watermark passes its gap horizon
    * (with `NoTimeout` — e.g. batch mode, where timeouts don't fire —
    * it stays in state and tests read emitted-closed sessions).
    *
    * Robustness (persistent state meets out-of-order input):
    *  - a late event landing INSIDE the stored session extends it with
    *    min/max guards — it can never drag `end` backwards (which would
    *    corrupt subsequent gap decisions);
    *  - per-micro-batch buffering is bounded by `maxBatchEvents` per
    *    user — a pathological hot key fails loudly instead of OOMing
    *    the executor (the unbounded-cardinality path is
    *    `sessionWindows`, which never buffers).
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      maxBatchEvents: Int = 1000000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // µs precision throughout: Timestamp.getTime is ms-truncated, which
    // would both misorder same-ms events and shift gap boundaries.
    def micros(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def fromMicros(us: Long): Timestamp =
      Timestamp.from(java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    def emit(user: Long, b: SessionBuf): SessionOut =
      SessionOut(user, fromMicros(b.start), fromMicros(b.end), b.n, b.total)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, it: Iterator[Evt], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: no event can extend this
            // session any more — flush and clear
            val flushed = state.getOption.map(emit(user, _))
            state.remove()
            flushed.iterator
          } else {
            val sorted = it.take(maxBatchEvents + 1).toSeq
            require(sorted.size <= maxBatchEvents,
              s"user $user exceeded $maxBatchEvents events in one micro-batch")
            val ordered = sorted.sortBy(e => (micros(e.ts), e.value))
            var buf = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            ordered.foreach { e =>
              val us = micros(e.ts)
              if (buf == null) buf = SessionBuf(us, us, 1, e.value)
              else if (us - buf.end > gapUs) {
                out += emit(user, buf)
                buf = SessionBuf(us, us, 1, e.value)
              } else buf = SessionBuf(math.min(buf.start, us),
                math.max(buf.end, us), buf.n + 1, buf.total + e.value)
            }
            if (buf != null) {
              state.update(buf)
              if (timeout == GroupStateTimeout.EventTimeTimeout)
                state.setTimeoutTimestamp(buf.end / 1000L + gapMinutes * 60L * 1000L)
            }
            out.iterator
          }
      }
  }
}
