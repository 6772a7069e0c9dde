package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.BatchStore
import graft.engine.BatchStore.Mergeable
import graft.operators.{Pca, Resample, Sketches, TextAnalysis}

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
    * runs unchanged. A call with no committed generation before its id
    * bootstraps the index from the batch.
    *
    * Idempotency under foreachBatch retries: each batch owns its
    * partition directory. A retry after a fully-committed write
    * (`_SUCCESS` present) is a no-op; a retry after a PARTIAL write
    * overwrites only that directory. The index side is the committed
    * generations before the batch (`BatchStore.before`), so neither a
    * half-written attempt of this batch nor another crashed one can
    * make the batch's docs look like duplicates.
    */
  def dedupStepAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, threshold: Double = 0.5, batchId: Long = 0L): Unit = {
    val spark = batch.sparkSession
    BatchStore.commitStep(spark, indexPath, batchId) {
      val vsIndex = BatchStore.before(spark, indexPath, batchId) match {
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
    * batch-vs-standing (`minhashLshJoin` — the standing side is the
    * committed generations before the batch, `BatchStore.before`, so a
    * retry after a partial docs write can never pair the batch with
    * itself, nor with another crashed batch's docs) and within-batch
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
    BatchStore.commitStep(spark, docsPath, batchId)(batchDocs)
    // 2. new pairs — within the batch, and batch vs the standing corpus
    val within = graft.operators.Dedup
      .minhashLshPairs(batchDocs, idCol, textCol, shingleK = shingleK,
        numPerm = numPerm, bands = bands, threshold = threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cross = BatchStore.before(spark, docsPath, batchId).map(standing =>
      graft.operators.Dedup
        .minhashLshJoin(batchDocs, standing, idCol, textCol, shingleK = shingleK,
          numPerm = numPerm, bands = bands, threshold = threshold)
        .select(col("doc_new").as("a"), col("doc_old").as("b")))
    val pairs = cross.map(within.unionAll(_)).getOrElse(within)
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

  // --- mergeable micro-batch stores ---
  //
  // One `BatchStore.Mergeable` per store kind. A store is fed by
  // `kind.append(spark, path, batchId)(rows)` or `kind.stream`, folded
  // by `kind.compact`, and read out as `readout(kind.read(spark, path))`,
  // where `rows` is the batch operator named below (or a `*Rows`
  // builder here) and `readout` is the one-shot path's own rendering:
  // streamed ≡ one-shot once the folded rows equal the one-shot ones.
  // A retried committed batch id is a no-op, and a crashed step's
  // partial dir is invisible to reads (`BatchStore.read`). The sum
  // stores need batches that partition the stream; hll, quantile and
  // cadence absorb re-delivered rows.

  /** Count-min sketch rows (r, c, cnt) over a batch's tokens
    * ([[tokenSketchRows]]) or a key column ([[keySketchRows]]).
    * Counters sum per (r, c): the folded store is ≤ depth×width rows
    * however much stream has passed, and the sum of per-batch sketches
    * IS the corpus sketch — two key-sketch stores read into
    * `Sketches.joinSizeFromSketches` predict a join's cardinality with
    * no scan of either table.
    */
  val countMin: Mergeable =
    Mergeable(_.groupBy("r", "c").agg(sum(col("cnt")).as("cnt")))

  /** A document batch's count-min rows over its space-split tokens. */
  def tokenSketchRows(docs: DataFrame, textCol: String): DataFrame =
    Sketches.countMinSketch(
      docs.select(explode(split(col(textCol), " ")).as("token")), "token", 4, 1024)

  /** A batch's count-min rows over a key column, cast to string exactly
    * like `Sketches.joinSizeEstimate`, so stored and one-shot sketches
    * are bit-identical — the planning sketch a pipeline keeps beside
    * each fact table.
    */
  def keySketchRows(rows: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame =
    Sketches.countMinSketch(
      rows.select(col(keyCol).cast("string").as("k")), "k", depth, width)

  /** Column-profile rows (column_name, value, cnt) from
    * `Profile.valueHistogram`; cnt sums per (column, value), so the
    * store is the sum of per-column cardinalities, never event volume.
    * Read out through `Profile.profileFromCounts`, the batch profiler's
    * own rollup.
    */
  val profile: Mergeable =
    Mergeable(_.groupBy("column_name", "value").agg(sum(col("cnt")).as("cnt")))

  /** HLL register rows (bucket, rho) from `Sketches.hllRegisters`. The
    * fold is per-register MAX — the HyperLogLog union — so values
    * re-observed across batches cannot inflate
    * `Sketches.hllEstimateFromRegisters`; ≤ 2^p rows.
    */
  val hll: Mergeable =
    Mergeable(_.groupBy("bucket").agg(max(col("rho")).as("rho")))

  /** Bottom-k sample rows from `Sketches.quantileSample(…, k)`. The
    * fold dedups by (group, h) and re-trims to k
    * (`Sketches.mergeQuantileSamples`) — exact, and a re-delivered row
    * is a no-op; ≤ groups·k rows, read out through
    * `Sketches.quantilesFromSample`.
    */
  def quantile(k: Int): Mergeable =
    Mergeable(Sketches.mergeQuantileSamples(_, k))

  /** Quality-funnel counters (n0, a1..a4), one exact-integer row per
    * batch ([[funnelRows]]); the fold is the elementwise sum, read out
    * through `TextAnalysis.funnelReport`.
    */
  val funnel: Mergeable =
    Mergeable(_.agg(sum(col("n0")).as("n0"), sum(col("a1")).as("a1"),
      sum(col("a2")).as("a2"), sum(col("a3")).as("a3"),
      sum(col("a4")).as("a4")))

  /** A document batch's cumulative-pass funnel counters. */
  def funnelRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.funnelCounts(TextAnalysis.funnelSignals(docs, idCol, textCol))

  /** Two-slice bin counts (bin, ca, cb) from `StatTests.psiBinCounts`;
    * exact per-bin sums. One store serves both drift readings:
    * `StatTests.psiFromCounts` and the metric-aware
    * `StatTests.wasserstein1FromBins`.
    */
  val psi: Mergeable =
    Mergeable(_.groupBy(col("bin")).agg(sum(col("ca")).as("ca"),
      sum(col("cb")).as("cb")))

  /** Per-doc fingerprint words (doc_id, w0, w1) of images, audio or
    * video ([[fingerprintRows]]): the payload decodes once, at ingest,
    * and 3 longs per doc persist. Batches partition the corpus by doc,
    * so min() per word is the identity fold — and it keeps a doc that
    * landed in two batches from inflating the pair counts of
    * `Multimodal.dHashPairHistogram`, the readout.
    */
  val fingerprint: Mergeable =
    Mergeable(_.groupBy(col("doc_id")).agg(min(col("w0")).as("w0"),
      min(col("w1")).as("w1")))

  /** The store rows of `Multimodal.dHash`, `audioFingerprint` or
    * `videoFingerprint` output.
    */
  def fingerprintRows(fps: Dataset[_]): DataFrame =
    fps.toDF().select(col("doc_id"), col("w0"), col("w1"))

  /** Daily counts (group, d, c) from `Sessions.dailyCounts`; exact
    * per-(group, day) sums. One store, two readings: the OLS drift
    * slope (`Sessions.trendFromDaily`) and the CUSUM changepoint
    * (`Sessions.cusumDaily`).
    */
  val trend: Mergeable =
    Mergeable(_.groupBy(col("group"), col("d")).agg(sum(col("c")).as("c")))

  /** Bucket counts (bucket_sec, cnt) ([[seasonalRows]]); exact
    * per-bucket sums, read out through `Resample.seasonalFromBuckets`.
    */
  val seasonal: Mergeable =
    Mergeable(_.groupBy(col("bucket_sec")).agg(sum(col("cnt")).as("cnt")))

  /** An event batch's counts per `stepSeconds` bucket. */
  def seasonalRows(events: DataFrame, tsCol: String,
      stepSeconds: Long = 3600L): DataFrame =
    events.select(
        expr(s"unix_timestamp($tsCol) div $stepSeconds * $stepSeconds")
          .as("bucket_sec"))
      .groupBy("bucket_sec").agg(count(lit(1)).as("cnt"))

  /** The smoothed EWMA series ([[ewmaRows]]): append-only facts, so
    * the fold is the identity and compaction merges files only. Read
    * out ordered by (key, step).
    */
  val ewma: Mergeable = Mergeable(identity)

  /** One batch of the EWMA store: smooth the batch's rows SEEDED from
    * each key's persisted tail (max-step row of the committed store at
    * `storePath`). Contract (the sequential-fold analogue of
    * "batches partition the stream"): micro-batches carry each key's
    * events in nondecreasing event-time order ACROSS batches — an
    * ordered feed's reality. Under it, the stored series ≡ the
    * one-shot `Resample.ewma` fold exactly (StreamingSpec proves it,
    * q234 hash-certifies it). Built inside `ewma.append`, so a
    * committed retry reads nothing and the recurrence never
    * double-applies.
    */
  def ewmaRows(batch: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alphaPpm: Long, storePath: String): DataFrame = {
    val spark = batch.sparkSession
    val state =
      if (BatchStore.committedBatches(spark, storePath).isEmpty) None
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("step").desc)
        Some(ewma.read(spark, storePath)
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col(keyCol), col("step").as("step0"),
            col("s_micro").as("s0_micro")))
      }
    Resample.ewmaWith(batch, keyCol, tsCol, valueCol, alphaPpm, state)
  }

  /** DSIR importance-model counts (bucket, tc, rc) from
    * `Sampling.dsirBucketStats`; exact per-bucket sums, ≤ `buckets`
    * rows. Read out by scoring a corpus through
    * `Sampling.importanceResampleWith`, the one-shot sampler's half.
    */
  val dsir: Mergeable =
    Mergeable(_.groupBy("bucket").agg(sum(col("tc")).as("tc"),
      sum(col("rc")).as("rc")))

  /** Fixed-edge histogram rows (bin, bcnt) from
    * `Sketches.fixedHistogram`; bin counters sum, ≤ `bins` rows. Read
    * out through `Sketches.quantilesFromHistogram`.
    */
  val histogram: Mergeable =
    Mergeable(_.groupBy("bin").agg(sum(col("bcnt")).as("bcnt")))

  /** Per-bin outcome counts (bin, n, pos) ([[calibrationRows]]);
    * counts add, so `Sampling.isotonicFromBins` over the folded table
    * is IDENTICAL to the one-shot `Sampling.isotonicCalibration` on the
    * full history.
    */
  val calibration: Mergeable =
    Mergeable(_.groupBy("bin").agg(sum(col("n")).as("n"),
      sum(col("pos")).as("pos")))

  /** A scored-outcome batch's per-bin (n, pos) counts. */
  def calibrationRows(batch: DataFrame, scoreCol: String, hitCol: String,
      bins: Int, binWidth: Double): DataFrame =
    // clamp on the LONG before the narrowing cast (ANSI CAST_OVERFLOW
    // guard — mirrors Sampling.isotonicCalibration / psiBinCounts)
    batch.select(
        least(lit((bins - 1).toLong), greatest(lit(0L),
          floor(col(scoreCol) / lit(binWidth)).cast("long"))).cast("int").as("bin"),
        col(hitCol).cast("int").as("_hit"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("_hit").as("pos"))

  /** The observed grid points (key, bucket_sec) of an event stream
    * ([[cadenceRows]]): a SET, so the fold is `distinct` and
    * re-observed buckets fold back out. Per-event volume never
    * persists; read out through `Resample.gapFromBuckets`, identical
    * to `Resample.gapReport` on the full history.
    */
  val cadence: Mergeable = Mergeable(_.distinct())

  /** An event batch's distinct (key, bucket_sec) observations. */
  def cadenceRows(events: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long): DataFrame =
    events.select(col(keyCol),
        expr(s"unix_timestamp($tsCol) DIV $stepSeconds * $stepSeconds")
          .as("bucket_sec"))
      .distinct()

  /** Per-dimension embedding moments (dim, n, sum_q, sum_q2)
    * ([[momentRows]]): counts and exact integer sums add per dim, so
    * the folded store is ≤ dim rows — drift and variance monitoring
    * over an unbounded embedding stream without re-scanning history.
    * Read out through [[momentReport]].
    */
  val moment: Mergeable =
    Mergeable(_.groupBy("dim").agg(sum(col("n")).as("n"),
      sum(col("sum_q")).as("sum_q"), sum(col("sum_q2")).as("sum_q2")))

  /** A batch's per-dimension (n, Σq, Σq²) over the FIXED-POINT
    * coordinates (`Pca.quantize`, q = round(x·10⁶)) as exact integers
    * — double partial sums depend on batch/partition order and flip
    * round(_, 6) boundaries against a sequential-order oracle. Σq is a
    * long (exact to ~10¹² unit-scale rows per dim); Σq² accumulates as
    * decimal(38,0), exact at any scale.
    */
  def momentRows(batch: DataFrame, embCol: String): DataFrame =
    batch.select(posexplode(Pca.quantize(col(embCol))).as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
        sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
          .as("sum_q2"))

  /** Per-dimension mean/variance of folded moment rows: exact integer
    * sums reconstructed to doubles ONCE with the q148/q149 association
    * (mean = Σq/10⁶/n, var = Σq²/10¹²/n − m·m), round(_, 6) —
    * bit-identical to the one-shot batch computation, since integer
    * sums are order-invariant across any batch split.
    */
  def momentReport(moments: DataFrame): DataFrame = {
    def mean = col("sum_q").cast("double") / lit(Pca.Scale) / col("n")
    moments.select(col("dim"), col("n"),
      round(mean, 6).as("mean"),
      round(col("sum_q2").cast("double") / lit(Pca.Scale2) / col("n")
        - mean * mean, 6).as("variance"))
      .orderBy("dim")
  }

  /** Raw changelog rows: CDC has no lossy summary
    * (`Cdc.applyChangelog` needs every op), so the fold is the
    * identity and compaction merges files only; the current state is
    * `Cdc.applyChangelog` over the read, whose map-side partial max_by
    * shuffles one candidate per KEY, not the accumulated changelog.
    */
  val cdc: Mergeable = Mergeable(identity)

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
