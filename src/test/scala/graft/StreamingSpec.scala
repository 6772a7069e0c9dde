package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine.Tables
import graft.operators.Sessions
import graft.streaming.StreamingPower

/** Structured Streaming specs, driven synchronously with the memory
  * sink (spark_guide.md): parquet files appear → micro-batches fire —
  * exactly the reference's rerun-for-new-data contract.
  */
class StreamingSpec extends SparkSpecBase {
  /** The dedup-index step as a streaming query, through the store loop
    * every micro-batch store runs (`Generations.stream`).
    */
  private def dedupStream(docs: org.apache.spark.sql.DataFrame,
      indexPath: String, ckpt: String, compactEvery: Int = 0) =
    graft.engine.Generations.stream(docs, ckpt, compactEvery,
      graft.engine.BatchStore.committedBatches(_, indexPath).size,
      graft.engine.BatchStore.compact(_, indexPath)) { (batch, batchId) =>
      StreamingPower.dedupStepAgainstIndex(batch, "doc_id", "text",
        indexPath, batchId = batchId)
    }

  test("file-source ingest + watermarked minute aggregate matches batch") {
    val srcDir = tempDir("graft_stream_src")
    val events = Tables.events(spark, sf("sf0.001"))
    events.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = StreamingPower.minuteAggregate(
      StreamingPower.ingest(spark, srcDir, schema))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("minute_agg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("minute_agg")
    val batch = events
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    // append mode emits only windows closed by the watermark; all rows
    // emitted must match the batch computation exactly
    val gotMap = got.collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batchMap = batch.collect()
      .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(gotMap.nonEmpty)
    gotMap.foreach { case (k, v) => assert(batchMap(k) == v, s"window $k") }
  }

  test("hopping-window aggregate runs unchanged on a stream and matches batch") {
    val srcDir = tempDir("graft_hop_src")
    val events = Tables.events(spark, sf("sf0.001"))
    events.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // the q86 aggregation verbatim, with a watermark for append mode
    val stream = StreamingPower.ingest(spark, srcDir, schema)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "60 minutes", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("total_value"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("hop_agg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val gotMap = spark.table("hop_agg").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batchMap = graft.queries.ExtensionQueries
      .queries("q86_hopping_window")(spark, sf("sf0.001")).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotMap.nonEmpty)
    // append mode emits only watermark-closed windows; every emitted
    // window must match the batch result exactly
    gotMap.foreach { case (k, v) => assert(batchMap(k) == v, s"window $k") }
  }

  test("checkpointed ingest resumes: second batch of files processed incrementally") {
    val srcDir = tempDir("graft_inc_src")
    val ckpt = tempDir("graft_inc_ckpt")
    val events = Tables.events(spark, sf("sf0.001")).cache()
    val (b1, b2) = (events.filter(col("event_id") < 500), events.filter(col("event_id") >= 500))
    b1.write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def runOnce(name: String): Long = {
      val q = StreamingPower.ingest(spark, srcDir, schema)
        .groupBy().count()
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name).head.getLong(0)
    }
    assert(runOnce("inc_run1") == 500)
    b2.write.mode("append").parquet(srcDir)
    // restart from the same checkpoint: picks up ONLY the new files,
    // complete-mode count reflects the full accumulated state
    assert(runOnce("inc_run2") == 1000)
    events.unpersist()
  }

  test("streaming-driven medallion == batch-driven medallion") {
    import graft.medallion._
    val feedDir = tempDir("graft_feed")
    val ckpt = tempDir("graft_feed_ckpt")
    val streamBase = tempDir("graft_ms")
    val batchBase = tempDir("graft_mb")
    def feed(fromMin: Int, toMin: Int) = {
      val rows = (fromMin until toMin).map { i =>
        org.apache.spark.sql.Row.fromSeq(
          java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00") +:
            Seq.tabulate(15)(c => 10.0 + i + c))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), PowerSchemas.raw)
    }
    // two feed file batches arriving over time, one stream run each
    feed(0, 12).write.mode("append").parquet(feedDir)
    val q1 = StreamingPower.medallionStream(spark, feedDir, ckpt,
      PowerPipeline.Paths(streamBase))
    q1.awaitTermination(120000)
    feed(12, 25).write.mode("append").parquet(feedDir)
    val q2 = StreamingPower.medallionStream(spark, feedDir, ckpt,
      PowerPipeline.Paths(streamBase))
    q2.awaitTermination(120000)
    // batch reference: both increments through the batch pipeline
    PowerPipeline.runIncrement(spark, feed(0, 12), PowerPipeline.Paths(batchBase))
    PowerPipeline.runIncrement(spark, feed(12, 25), PowerPipeline.Paths(batchBase))

    val streamGold = spark.read.parquet(s"$streamBase/gold/power_system_5min_avg")
      .orderBy("time_id").collect().toSeq
    val batchGold = spark.read.parquet(s"$batchBase/gold/power_system_5min_avg")
      .orderBy("time_id").collect().toSeq
    assert(streamGold.size == 25)
    assert(streamGold == batchGold)
  }

  test("streaming content dedup drops exact-duplicate documents across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingPower.dedupDocumentsByContent(
        ms.toDF().toDF("ts", "text"), "ts", "text", horizon = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("content_dedup").start()
    ms.addData((t("10:00:00"), "doc alpha"), (t("10:01:00"), "doc beta"))
    q.processAllAvailable()
    // same TEXT arriving later (different ts) must be dropped
    ms.addData((t("10:05:00"), "doc alpha"), (t("10:06:00"), "doc gamma"))
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("content_dedup").collect().map(_.getString(1)).sorted
    assert(texts.toSeq == Seq("doc alpha", "doc beta", "doc gamma"),
      s"got ${texts.toSeq}")
  }

  test("streaming incremental dedup: micro-batches dedup against and grow the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexPath = tempDir("graft_dedup_index") + "/index"
    val ckpt = tempDir("graft_dedup_ckpt")
    val ms = MemoryStream[(Long, String)]
    val q = dedupStream(ms.toDF().toDF("doc_id", "text"), indexPath, ckpt)
    ms.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
    q.processAllAvailable()
    // batch 2: doc 3 duplicates doc 1's text exactly (new id), doc 4 is new
    ms.addData(
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "sphinx of black quartz judge my vow tonight"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(indexPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"index holds $ids — near-dup 3 should be dropped")
  }

  test("dedup-against-index step: idempotent under retry, canonical within a batch") {
    import spark.implicits._
    val indexPath = tempDir("graft_dedup_step") + "/index"
    def readIds() = spark.read.parquet(indexPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // batch 0 carries an INTRA-batch near-dup pair (10, 11): only the
    // min-id doc may enter the index even though neither matches the
    // (empty) index
    val b0 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    StreamingPower.dedupStepAgainstIndex(b0, "doc_id", "text", indexPath, batchId = 0L)
    assert(readIds() == Seq(10L, 12L), s"got ${readIds()} — intra-batch dup 11 should drop")
    // a RETRIED micro-batch (same batchId, committed write) is a no-op
    StreamingPower.dedupStepAgainstIndex(b0, "doc_id", "text", indexPath, batchId = 0L)
    assert(readIds() == Seq(10L, 12L), s"got ${readIds()} — retry must not duplicate index rows")
    // next batch still dedups against the committed index
    val b1 = Seq(
      (20L, "pack my box with five dozen liquor jugs"),
      (21L, "sphinx of black quartz judge my vow tonight")).toDF("doc_id", "text")
    StreamingPower.dedupStepAgainstIndex(b1, "doc_id", "text", indexPath, batchId = 1L)
    assert(readIds() == Seq(10L, 12L, 21L), s"got ${readIds()}")
  }

  test("streaming count-min store merges to the batch sketch of the whole stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_cm_store") + "/sketch"
    val ckpt = tempDir("graft_cm_ckpt")
    val ms = MemoryStream[(Long, String)]
    val q = StreamingPower.countMin.stream(
      ms.toDF().toDF("doc_id", "text"), storePath, ckpt)(
      StreamingPower.tokenSketchRows(_, "text"))
    ms.addData((1L, "a b a c"), (2L, "b b d"))
    q.processAllAvailable()
    ms.addData((3L, "a d d e"))
    q.processAllAvailable()
    q.stop()
    val merged = StreamingPower.countMin.read(spark, storePath)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val allTokens = Seq("a b a c", "b b d", "a d d e")
      .flatMap(_.split(" ")).toDF("token")
    val batch = graft.operators.Sketches.countMinSketch(allTokens, "token")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == batch, "merged streaming sketch != whole-stream batch sketch")
    // and a retried step (same batchId) must not double counters
    StreamingPower.countMin.append(spark, storePath, 1L)(StreamingPower
      .tokenSketchRows(Seq((9L, "a d d e")).toDF("doc_id", "text"), "text"))
    val again = StreamingPower.countMin.read(spark, storePath)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == batch, "retried batch mutated the committed sketch store")
    // estimates off the merged sketch never undercount
    val est = graft.operators.Sketches.countMinEstimates(
      allTokens, "token", StreamingPower.countMin.read(spark, storePath))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = allTokens.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) => assert(est(t) >= n, s"token $t undercounted") }
  }

  test("key-sketch stores: store-fed join-size readout equals the one-shot estimate") {
    import spark.implicits._
    val pa = tempDir("graft_jss_a") + "/s"
    val pb = tempDir("graft_jss_b") + "/s"
    val a = Seq(1L, 1L, 2L, 3L, 3L, 3L, 7L).toDF("k1")
    val b = Seq(1L, 3L, 3L, 4L).toDF("k2")
    // two incremental batches per side (disjoint by parity)
    (0L to 1L).foreach { i =>
      StreamingPower.countMin.append(spark, pa, i)(StreamingPower
        .keySketchRows(a.filter(pmod(col("k1"), lit(2)) === i), "k1"))
      StreamingPower.countMin.append(spark, pb, i)(StreamingPower
        .keySketchRows(b.filter(pmod(col("k2"), lit(2)) === i), "k2"))
    }
    def joinSize() = graft.operators.Sketches.joinSizeFromSketches(
      StreamingPower.countMin.read(spark, pa),
      StreamingPower.countMin.read(spark, pb))
    def row3(df: org.apache.spark.sql.DataFrame) = {
      val r = df.select("n_a", "n_b", "est_join").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val stored = row3(joinSize())
    val oneShot = row3(graft.operators.Sketches.joinSizeEstimate(
      a, "k1", b, "k2"))
    assert(stored === oneShot,
      s"store-fed readout $stored != one-shot estimate $oneShot")
    assert(stored._1 === 7L && stored._2 === 4L)
    // est >= exact inner product (1*1 + 3*2 = 7) — the CM upper bound
    assert(stored._3 >= 7L)
    // a retried committed step is a no-op on the readout
    StreamingPower.countMin.append(spark, pa, 1L)(StreamingPower
      .keySketchRows(a.filter(pmod(col("k1"), lit(2)) === 1L), "k1"))
    assert(row3(joinSize()) === stored)
    // compaction folds each side without changing the readout
    StreamingPower.countMin.compact(spark, pa)
    assert(row3(joinSize()) === stored)
  }

  test("streaming CDC store compacts to the batch apply of the whole changelog") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_cdc_store") + "/log"
    val ckpt = tempDir("graft_cdc_ckpt")
    val ms = MemoryStream[(Long, String, Long, String)]
    val q = StreamingPower.cdc.stream(
      ms.toDF().toDF("k", "attr", "seq", "op"), storePath, ckpt)(identity)
    ms.addData((1L, "a", 0L, "I"), (2L, "b", 1L, "I"))
    q.processAllAvailable()
    ms.addData((1L, "a2", 2L, "U"), (2L, "b", 3L, "D"), (3L, "c", 4L, "I"))
    q.processAllAvailable()
    q.stop()
    def state() = graft.operators.Cdc.applyChangelog(
        StreamingPower.cdc.read(spark, storePath), "k", "seq", "op", Seq("attr"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(state() == Seq((1L, "a2", 2L), (3L, "c", 4L)),
      "streamed state != expected current state (update applied, delete dropped)")
    // a retried micro-batch (same batchId) must not re-apply its ops
    StreamingPower.cdc.append(spark, storePath, 1L)(
      Seq((9L, "ghost", 99L, "I")).toDF("k", "attr", "seq", "op"))
    assert(state() == Seq((1L, "a2", 2L), (3L, "c", 4L)),
      "retried batch mutated the committed changelog store")
  }

  test("streaming HLL store: union fold is re-delivery-proof, == whole-stream batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_hll_store") + "/hll"
    val ckpt = tempDir("graft_hll_ckpt")
    val ms = MemoryStream[(Long, String)]
    val q = StreamingPower.hll.stream(ms.toDF().toDF("id", "t"),
      storePath, ckpt, compactEvery = 2)(
      graft.operators.Sketches.hllRegisters(_, col("t")))
    val b1 = (1 to 300).map(i => (i.toLong, s"v$i"))
    val b2 = (200 to 500).map(i => (i.toLong, s"v$i")) // 200..300 re-observed
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val whole = graft.operators.Sketches
      .hllDistinct((b1 ++ b2).toDF("id", "t"), col("t")).head()
    val merged = graft.operators.Sketches.hllEstimateFromRegisters(
      StreamingPower.hll.read(spark, storePath)).head()
    // max-union absorbs the overlap EXACTLY — unlike a sum fold, which
    // would double-count the re-observed values
    assert(merged == whole, s"merged $merged != whole-stream $whole")
    // within HLL error of the 500 true distinct values
    assert(math.abs(merged.getDouble(1) - 500) / 500 < 0.1)
    // a retried (already folded) batch id is a no-op
    StreamingPower.hll.append(spark, storePath, 1L)(
      graft.operators.Sketches.hllRegisters(b2.toDF("id", "t"), col("t")))
    assert(graft.operators.Sketches.hllEstimateFromRegisters(
      StreamingPower.hll.read(spark, storePath)).head() == whole,
      "retried batch mutated the committed HLL store")
  }

  test("streaming profile store reads out as the batch profile of the whole stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_prof_store") + "/prof"
    val ckpt = tempDir("graft_prof_ckpt")
    val cols = Seq("id", "s")
    val ms = MemoryStream[(Long, String)]
    val q = StreamingPower.profile.stream(
      ms.toDF().toDF("id", "s"), storePath, ckpt, compactEvery = 2)(
      graft.operators.Profile.valueHistogram(_, cols))
    val b1 = Seq(1L -> "a", 2L -> "b", 3L -> "a")
    val b2 = Seq(4L -> "b", 5L -> "b", 6L -> "c")
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val whole = graft.operators.Profile
      .columnProfile((b1 ++ b2).toDF("id", "s"), cols).collect().toSeq
    val merged = graft.operators.Profile.profileFromCounts(
      StreamingPower.profile.read(spark, storePath)).collect().toSeq
    assert(merged == whole, s"merged $merged != whole-stream $whole")
    // cross-batch modal shift is visible: "b" (3 across batches) beats
    // "a" (2, batch-1 local winner)
    val sRow = merged.find(_.getString(0) == "s").get
    assert(sRow.getString(6) == "b" && sRow.getLong(7) == 3L)
    // a retried batch id must not inflate any count
    StreamingPower.profile.append(spark, storePath, 1L)(
      graft.operators.Profile.valueHistogram(b2.toDF("id", "s"), cols))
    assert(graft.operators.Profile.profileFromCounts(
      StreamingPower.profile.read(spark, storePath)).collect().toSeq == whole,
      "retried batch mutated the committed profile store")
  }

  test("streaming histogram store merges to the batch histogram of the whole stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_hist_store") + "/hist"
    val ckpt = tempDir("graft_hist_ckpt")
    val (lo, hi, bins) = (0.0, 100.0, 50)
    val ms = MemoryStream[(Long, Double)]
    val q = StreamingPower.histogram.stream(
      ms.toDF().toDF("id", "value"), storePath, ckpt)(
      graft.operators.Sketches.fixedHistogram(_, "value", lo, hi, bins))
    val b1 = Seq(1L -> 3.0, 2L -> 55.5, 3L -> 55.9, 4L -> -7.0) // -7 clamps to bin 0
    val b2 = Seq(5L -> 99.9, 6L -> 150.0, 7L -> 3.9)            // 150 clamps to last
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val merged = toMap(StreamingPower.histogram.read(spark, storePath))
    val whole = toMap(graft.operators.Sketches.fixedHistogram(
      (b1 ++ b2).toDF("id", "value"), "value", lo, hi, bins))
    assert(merged == whole, s"merged $merged != whole-stream $whole")
    // a retried batch id must not double any bin
    StreamingPower.histogram.append(spark, storePath, 1L)(graft.operators
      .Sketches.fixedHistogram(b2.toDF("id", "value"), "value", lo, hi, bins))
    assert(toMap(StreamingPower.histogram.read(spark, storePath)) == whole,
      "retried batch mutated the committed histogram store")
    // quantile readout: 7 values, median target = 4th smallest = 55.5,
    // which lands in bin floor(55.5/2) = 27 → lower edge 54.0 (exact
    // median within one 2.0 bin width)
    val med = graft.operators.Sketches.quantilesFromHistogram(
      StreamingPower.histogram.read(spark, storePath), lo, hi, bins,
      qs = Seq(0.5)).collect().head
    assert(med.getInt(1) == 27 && med.getDouble(2) == 54.0,
      s"median readout ${med.mkString(",")}")
  }

  test("streaming calibration store reads out as the one-shot isotonic fit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_calib_store") + "/calib"
    val ckpt = tempDir("graft_calib_ckpt")
    val ms = MemoryStream[(Double, Int)]
    val q = StreamingPower.calibration.stream(
      ms.toDF().toDF("score", "hit"), storePath, ckpt)(
      StreamingPower.calibrationRows(_, "score", "hit", bins = 5, binWidth = 1.0))
    // the hand-PAV fixture from StatExtrasSpec, split across batches
    val all = Seq(
      (0.5, 1), (0.5, 1), (0.5, 0), (0.5, 0),
      (1.5, 1), (1.5, 0), (1.5, 0), (1.5, 0),
      (2.5, 1), (2.5, 1), (2.5, 0), (2.5, 0),
      (3.5, 1), (3.5, 1), (3.5, 0), (3.5, 0),
      (4.5, 0), (4.5, 0), (4.5, 0), (4.5, 0))
    val (b1, b2) = all.splitAt(7)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(4))).toSeq
    val merged = rows(graft.operators.Sampling.isotonicFromBins(
      StreamingPower.calibration.read(spark, storePath)))
    val oneShot = rows(graft.operators.Sampling.isotonicCalibration(
      all.toDF("score", "hit"), col("score"), col("hit") === 1,
      bins = 5, binWidth = 1.0))
    assert(merged == oneShot, s"streamed $merged != one-shot $oneShot")
    // all bins pool globally to 7/20 on this fixture
    assert(merged.forall(t => math.abs(t._4 - 0.35) < 1e-9), merged.toString)
    // a retried batch id must not double any bin count
    StreamingPower.calibration.append(spark, storePath, 1L)(StreamingPower
      .calibrationRows(b2.toDF("score", "hit"), "score", "hit", bins = 5,
        binWidth = 1.0))
    assert(rows(graft.operators.Sampling.isotonicFromBins(
      StreamingPower.calibration.read(spark, storePath))) == oneShot,
      "retried batch mutated the committed calibration store")
  }

  test("stream-stream interval join matches the batch range join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(ms: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      ms.toDF().toDF("event_id", "user_id", "ts")
    val q = StreamingPower.attributionJoin(named(purchases), named(clicks))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_attr").start()
    clicks.addData((101L, 1L, t("10:00:00")), (102L, 2L, t("10:05:00")))
    purchases.addData(
      (201L, 1L, t("10:30:00")),  // within 1h of click 101 → match
      (202L, 1L, t("12:30:00")))  // 2.5h after click 101 → no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_attr")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((201L, 101L)), s"got $got")
  }

  test("batch text operators run unchanged as streaming transforms") {
    // operators are pure DataFrame => DataFrame, so map-side ones plug
    // straight into readStream — the library's batch/stream reuse story
    val srcDir = tempDir("graft_txt_src")
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = graft.operators.TextAnalysis.qualityScore(
        spark.readStream.schema(schema).parquet(srcDir), "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_quality")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_quality").orderBy("doc_id").collect()
    val batch = graft.operators.TextAnalysis.qualityScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.nonEmpty && got.sameElements(batch))
  }

  test("streaming session_window (state-store) matches batch sessionize") {
    val srcDir = tempDir("graft_sw_src")
    val events = Tables.events(spark, sf("sf0.001"))
    events.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = StreamingPower.sessionWindows(
      StreamingPower.ingest(spark, srcDir, schema), gapMinutes = 30)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sw_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("sw_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = Sessions.sessionize(Tables.events(spark, sf("sf0.001")), gapMinutes = 30)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    // append mode emits only watermark-closed sessions; each must be a
    // real batch session, and most sessions are old enough to close
    assert(got.nonEmpty)
    assert(got.subsetOf(batch), s"phantom sessions: ${(got -- batch).take(3)}")
    assert(got.size >= batch.size / 2, s"too few closed: ${got.size}/${batch.size}")
  }

  test("fMGWS survives a late cross-batch event (end never dragged backwards)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ms = MemoryStream[StreamingPower.Evt]
    val q = StreamingPower.sessionize(ms.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sess").start()
    ms.addData(StreamingPower.Evt(1L, t("10:00:00"), 1.0),
      StreamingPower.Evt(1L, t("10:10:00"), 1.0))
    q.processAllAvailable()
    // a late event INSIDE the stored session: must not rewrite end to
    // the earlier timestamp (the pre-fix behavior)
    ms.addData(StreamingPower.Evt(1L, t("10:05:00"), 1.0))
    q.processAllAvailable()
    // far-future event closes the session
    ms.addData(StreamingPower.Evt(1L, t("13:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_sess").collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.contains((t("10:00:00"), t("10:10:00"), 3L)),
      s"corrupted session bounds: ${out.toSeq}")
  }

  test("fMGWS event-time timeout flushes the open session at the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ms = MemoryStream[StreamingPower.Evt]
    val sessions = StreamingPower.sessionize(
      ms.toDS().withWatermark("ts", "0 seconds").as[StreamingPower.Evt],
      gapMinutes = 30, timeout = GroupStateTimeout.EventTimeTimeout)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("timeout_sess").start()
    ms.addData(StreamingPower.Evt(7L, t("10:00:00"), 2.0),
      StreamingPower.Evt(7L, t("10:10:00"), 3.0))
    q.processAllAvailable()
    // another key's far-future event advances the watermark past
    // user 7's end + gap -> its open session must flush via timeout
    ms.addData(StreamingPower.Evt(8L, t("12:00:00"), 1.0))
    q.processAllAvailable()
    ms.addData(StreamingPower.Evt(8L, t("14:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("timeout_sess").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.contains((7L, t("10:00:00"), t("10:10:00"), 2L)),
      s"open session never flushed: ${out.toSeq}")
  }

  test("stateful flatMapGroupsWithState sessionization matches batch sessionize") {
    import spark.implicits._
    val events = Tables.events(spark, sf("sf0.001"))
    val typed = events.select(col("user_id"), col("ts"), col("value"))
      .as[StreamingPower.Evt]
    // single batch through the stateful operator: all closed sessions
    val sessions = StreamingPower.sessionize(typed, gapMinutes = 30)
      .collect()
      .map(s => (s.user_id, s.session_start, s.n_events, math.rint(s.total_value * 1e6) / 1e6))
      .toSet
    val batch = Sessions.sessionize(events, gapMinutes = 30).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3), r.getDouble(4)))
      .toSet
    // stateful op holds the LAST session of each user open in state;
    // everything it emitted must be a real batch session
    assert(sessions.nonEmpty)
    assert(sessions.subsetOf(batch),
      s"phantom sessions: ${sessions -- batch}")
    // and it must have emitted all but at most one session per user
    val perUserBatch = batch.groupBy(_._1).view.mapValues(_.size).toMap
    val perUserGot = sessions.groupBy(_._1).view.mapValues(_.size).toMap
    perUserBatch.foreach { case (u, n) =>
      assert(perUserGot.getOrElse(u, 0) >= n - 1, s"user $u lost sessions")
    }
  }

  test("dedup-index stream with compactEvery folds generations without changing the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexPath = tempDir("graft_dedup_cx") + "/index"
    val ckpt = tempDir("graft_dedup_cx_ck")
    val ms = MemoryStream[(Long, String)]
    val q = dedupStream(ms.toDF().toDF("doc_id", "text"), indexPath, ckpt,
      compactEvery = 2)
    ms.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
    q.processAllAvailable()
    ms.addData(
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "sphinx of black quartz judge my vow tonight"))
    q.processAllAvailable()
    ms.addData(
      (5L, "pack my box with five dozen liquor jugs"),
      (6L, "how vexingly quick daft zebras jump today"))
    q.processAllAvailable()
    q.stop()
    // same survivors as the uncompacted run would keep
    val ids = spark.read.parquet(indexPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 6L), s"index holds $ids after compaction")
    // generations actually folded: at most the folded one + one live
    def dirs() = new java.io.File(indexPath).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs().length <= 2, s"store did not fold: ${dirs().toSeq}")
    // a retry of the FOLDED last engine batch is still a no-op (its
    // dir exists, committed, as the folded generation)
    val last = graft.engine.BatchStore.committedBatches(spark, indexPath).max
    StreamingPower.dedupStepAgainstIndex(
      Seq((6L, "how vexingly quick daft zebras jump today")).toDF("doc_id", "text"),
      "doc_id", "text", indexPath, batchId = last)
    assert(spark.read.parquet(indexPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == ids,
      "retry of the folded batch id mutated the store")
  }

  test("count-min store compaction merges to a constant-size generation with identical estimates") {
    import spark.implicits._
    val storePath = tempDir("graft_cm_cx") + "/sketch"
    val texts = Seq("a b a c", "b b d", "a d d e", "e e a b")
    texts.zipWithIndex.foreach { case (t, i) =>
      StreamingPower.countMin.append(spark, storePath, i.toLong)(StreamingPower
        .tokenSketchRows(Seq((i.toLong, t)).toDF("doc_id", "text"), "text"))
    }
    val before = StreamingPower.countMin.read(spark, storePath)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    StreamingPower.countMin.compact(spark, storePath)
    val after = StreamingPower.countMin.read(spark, storePath)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after == before, "compaction changed the merged sketch")
    def dirs() = new java.io.File(storePath).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs().toSeq == Seq("batch_id=3"), s"expected one folded generation, got ${dirs().toSeq}")
    // the folded generation is the MERGED sketch: one row per touched
    // (r, c), not per-batch copies
    val rows = spark.read.parquet(storePath)
    assert(rows.groupBy("r", "c").count().filter(col("count") > 1).count() == 0,
      "folded generation still holds per-batch duplicate counters")
    // append after compaction continues above the folded id
    StreamingPower.countMin.append(spark, storePath, 4L)(StreamingPower
      .tokenSketchRows(Seq((9L, "z z z")).toDF("doc_id", "text"), "text"))
    val est = graft.operators.Sketches.countMinEstimates(
      Seq("z").toDF("token"), "token",
      StreamingPower.countMin.read(spark, storePath))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("z") >= 3L, "post-compaction append lost counts")
  }

  test("streaming canonicalization: labels equal the full-recompute CC after every micro-batch, bridges included") {
    import spark.implicits._
    import graft.operators.Dedup
    val store = tempDir("graft_canon_stream") + "/canon"
    val thr = 0.2
    val a = "alpha beta gamma delta epsilon zeta"
    val c = "omega psi chi phi upsilon tau"
    val bridge = s"$a $c" // shares every shingle of BOTH sides
    val batches = Seq(
      Seq((1L, a), (2L, "totally unrelated words here entirely"), (3L, c)),
      Seq((4L, a), (5L, c)), // joins 4 to {1}, 5 to {3}
      Seq((6L, bridge)))     // near-dups BOTH a and c — must merge the two clusters
    def labels(): Set[(Long, Long, Long)] =
      StreamingPower.canonicalLabels(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def fullRecompute(upTo: Int): Set[(Long, Long, Long)] = {
      val union = batches.take(upTo + 1).flatten.toDF("doc_id", "text")
      Dedup.connectedComponentsAuto(
        Dedup.minhashLshPairs(union, "doc_id", "text", numPerm = 64,
          bands = 32, threshold = thr),
        "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingPower.canonicalStep(rows.toDF("doc_id", "text"),
        "doc_id", "text", store, threshold = thr, batchId = i.toLong,
        numPerm = 64, bands = 32)
      assert(labels() == fullRecompute(i),
        s"after batch $i: incremental ${labels()} != full ${fullRecompute(i)}")
    }
    // the bridge actually merged: docs 1 (a-cluster) and 3 (c-cluster)
    // now share a component of size 5 — this guards the TEXTS, so the
    // equality above isn't vacuously passing on an unmerged graph
    val byDoc = labels().map(l => l._1 -> l).toMap
    assert(byDoc(1L)._2 == byDoc(3L)._2 && byDoc(1L)._3 == 5L,
      s"bridge did not merge the clusters: ${labels()}")
    // a retried micro-batch (same engine batch id) is a no-op
    val before = labels()
    StreamingPower.canonicalStep(batches(2).toDF("doc_id", "text"),
      "doc_id", "text", store, threshold = thr, batchId = 2L,
      numPerm = 64, bands = 32)
    assert(labels() == before, "retry of a committed batch mutated the labels")
  }

  test("a writer killed at ANY point of the canonical label swap heals to a complete table") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = tempDir("graft_canon_kill")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t = "the quick brown fox jumps over the lazy dog"
    def freshStore(name: String): String = {
      val p = s"$base/$name/canon"
      StreamingPower.canonicalStep(
        Seq((1L, t), (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text"),
        "doc_id", "text", p, batchId = 0L)
      StreamingPower.canonicalStep(
        Seq((3L, t)).toDF("doc_id", "text"), "doc_id", "text", p, batchId = 1L)
      p
    }
    def lbls(p: String): Set[(Long, Long)] =
      StreamingPower.canonicalLabels(spark, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set((1L, 1L), (3L, 1L))

    // 1. staged labels durable (marker present), table intact: a kill
    //    before the first rename — heal drops the abandoned staging
    val t1 = freshStore("t1")
    fs.mkdirs(new Path(s"$t1/labels._compacting"))
    fs.create(new Path(s"$t1/labels._compacting/_applied")).close()
    assert(lbls(t1) == expect)
    assert(!fs.exists(new Path(s"$t1/labels._compacting")), "staging not tidied")

    // 2. killed between the renames: labels at backup, staging committed
    //    (marker created last) — heal rolls FORWARD to the staged table
    val t2 = freshStore("t2")
    spark.read.parquet(s"$t2/labels").write.parquet(s"$t2/labels._compacting")
    val out = fs.create(new Path(s"$t2/labels._compacting/_applied"))
    out.write("1".getBytes("UTF-8")); out.close()
    fs.rename(new Path(s"$t2/labels"), new Path(s"$t2/labels._old"))
    assert(lbls(t2) == expect)
    assert(!fs.exists(new Path(s"$t2/labels._old")), "backup not tidied")

    // 3. same position but NO marker (killed before the commit point):
    //    heal rolls BACK to the intact old table
    val t3 = freshStore("t3")
    spark.read.parquet(s"$t3/labels").limit(0)
      .write.parquet(s"$t3/labels._compacting") // incomplete staged content
    fs.rename(new Path(s"$t3/labels"), new Path(s"$t3/labels._old"))
    assert(lbls(t3) == expect)
    assert(!fs.exists(new Path(s"$t3/labels._compacting")), "partial staging kept")
  }

  test("a writer killed at ANY point of the batch-store compact swap heals to a complete store") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = tempDir("graft_bs_kill")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshStore(name: String): String = {
      val p = s"$base/$name"
      (0 until 3).foreach { i =>
        StreamingPower.countMin.append(spark, p, i.toLong)(StreamingPower
          .tokenSketchRows(Seq((i.toLong, s"tok$i tok$i common"))
            .toDF("doc_id", "text"), "text"))
      }
      p
    }
    def merged(p: String) = StreamingPower.countMin.read(spark, p)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = merged(freshStore("ref"))
    def stage(p: String): Unit = {
      StreamingPower.countMin.fold(spark.read.parquet(p).drop("batch_id"))
        .withColumn("batch_id", lit(2L))
        .write.partitionBy("batch_id").parquet(p + "._compacting")
      fs.create(new Path(p + "._compacting/batch_id=2/_SUCCESS")).close()
    }

    // 1. staging durable, store intact: heal drops the leftover
    val t1 = freshStore("t1")
    stage(t1)
    assert(merged(t1) == expect)
    assert(!fs.exists(new Path(t1 + "._compacting")), "staging not tidied")

    // 2. killed between the renames (store at backup, staging committed
    //    via its per-dir marker): heal rolls FORWARD
    val t2 = freshStore("t2")
    stage(t2)
    fs.rename(new Path(t2), new Path(t2 + "._old"))
    assert(merged(t2) == expect)
    assert(!fs.exists(new Path(t2 + "._old")), "backup not tidied")

    // 3. same position but the per-dir marker missing (killed before
    //    the staging commit point): heal rolls BACK
    val t3 = freshStore("t3")
    stage(t3)
    fs.delete(new Path(t3 + "._compacting/batch_id=2/_SUCCESS"), false)
    fs.rename(new Path(t3), new Path(t3 + "._old"))
    assert(merged(t3) == expect)
    assert(!fs.exists(new Path(t3 + "._compacting")), "partial staging kept")

    // 4. killed after the swap, before the backup delete
    val t4 = freshStore("t4")
    stage(t4)
    fs.rename(new Path(t4), new Path(t4 + "._bak_tmp"))
    fs.rename(new Path(t4 + "._compacting"), new Path(t4))
    fs.rename(new Path(t4 + "._bak_tmp"), new Path(t4 + "._old"))
    assert(merged(t4) == expect)
    assert(!fs.exists(new Path(t4 + "._old")), "backup not tidied")
  }

  test("cadence store: report == batch gapReport, compaction + folded-retry invisible") {
    import graft.operators.Resample
    val events = Tables.events(spark, sf("sf0.001"))
    val store = tempDir("graft_cad_store") + "/cadence"
    (0L until 3L).foreach { b =>
      StreamingPower.cadence.append(spark, store, b)(StreamingPower
        .cadenceRows(events.filter(col("event_id") % 3 === b), "user_id", "ts",
          3600L))
    }
    def report(): Seq[(Long, Long, Long, Long, Long)] =
      Resample.gapFromBuckets(StreamingPower.cadence.read(spark, store),
          "user_id", 3600L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    val batch = Resample.gapReport(events, "user_id", "ts", 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(report() == batch, "store-backed report != batch gap report")
    // fold duplicates re-observed across batches: compaction invisible
    StreamingPower.cadence.compact(spark, store)
    assert(report() == batch, "compaction changed the report")
    // the folded generation holds no duplicate grid points
    val dup = spark.read.parquet(store).groupBy("user_id", "bucket_sec")
      .count().filter(col("count") > 1).count()
    assert(dup == 0, "folded generation holds duplicate buckets")
    // retry of the folded last batch id is a no-op
    val last = graft.engine.BatchStore.committedBatches(spark, store).max
    StreamingPower.cadence.append(spark, store, last)(StreamingPower
      .cadenceRows(events.filter(col("event_id") % 3 === 2), "user_id", "ts",
        3600L))
    assert(report() == batch, "retry of the folded batch id mutated the store")
  }

  test("moment store: report == one-shot batch moments, compaction + folded-retry invisible") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val store = tempDir("graft_mom_store") + "/moments"
    (0L until 3L).foreach { b =>
      StreamingPower.moment.append(spark, store, b)(StreamingPower
        .momentRows(emb.filter(col("vec_id") % 3 === b), "embedding"))
    }
    def report(): Seq[(Int, Long, Double, Double)] =
      StreamingPower.momentReport(StreamingPower.moment.read(spark, store))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // one-shot batch computation with the same association — exact
    // integer sums over the fixed-point coordinates are order-
    // invariant across any batch split, so equality is EXACT
    val q2 = col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)")
    def mean = col("sq").cast("double") / lit(graft.operators.Pca.Scale) / col("n")
    val batch = emb
      .select(posexplode(graft.operators.Pca.quantize(col("embedding")))
        .as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"), sum(q2).as("sq2"))
      .select(col("dim"), col("n"), round(mean, 6).as("mean"),
        round(col("sq2").cast("double") / lit(graft.operators.Pca.Scale2) / col("n")
          - mean * mean, 6).as("variance"))
      .orderBy("dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val got = report()
    assert(got.length == 64)
    assert(got == batch, "store report != one-shot batch moments")
    StreamingPower.moment.compact(spark, store)
    assert(report() == got, "compaction changed the report")
    // constant-size folded generation: one row per dim
    assert(spark.read.parquet(store).count() == 64)
    // retry of the folded last batch id is a no-op
    val last = graft.engine.BatchStore.committedBatches(spark, store).max
    StreamingPower.moment.append(spark, store, last)(StreamingPower
      .momentRows(emb.filter(col("vec_id") % 3 === 2), "embedding"))
    assert(report() == got, "retry of the folded batch id mutated the store")
    // a crashed step's PARTIAL batch dir (rows written, no _SUCCESS)
    // is invisible to the report — partial per-dim sums would corrupt
    // the totals, not just waste work (BatchStore.read gate)
    import org.apache.hadoop.fs.Path
    val fs = new Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamingPower.moment.append(spark, store, last + 97)(
      StreamingPower.momentRows(emb.limit(7), "embedding"))
    fs.delete(new Path(s"$store/batch_id=${last + 97}/_SUCCESS"), false)
    assert(report() == got, "partial (uncommitted) batch dir leaked into the report")
  }

  test("cadence stream over a MemoryStream matches batch, with compactEvery") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val store = tempDir("graft_cad_ms") + "/cadence"
    val ckpt = tempDir("graft_cad_ms_ck")
    val ms = MemoryStream[StreamingPower.Evt]
    val q = StreamingPower.cadence.stream(ms.toDF(), store, ckpt,
      compactEvery = 2)(StreamingPower.cadenceRows(_, "user_id", "ts", 3600L))
    ms.addData(StreamingPower.Evt(1L, t("00:10:00"), 1.0),
      StreamingPower.Evt(1L, t("03:20:00"), 1.0))
    q.processAllAvailable()
    ms.addData(StreamingPower.Evt(1L, t("03:40:00"), 1.0),
      StreamingPower.Evt(2L, t("05:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val got = graft.operators.Resample
      .gapFromBuckets(StreamingPower.cadence.read(spark, store), "user_id", 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // user 1: hours 0..3 observed at 0 and 3 → 4 expected, 2 present,
    // longest gap 2h; user 2: singleton bucket
    assert(got == Seq((1L, 4L, 2L, 2L, 7200L), (2L, 1L, 1L, 0L, 0L)), s"got $got")
  }

  test("streaming funnel store renders exactly like the one-shot accounting") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_funnel_store") + "/funnel"
    val ckpt = tempDir("graft_funnel_ckpt")
    val docs = graft.engine.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val q = StreamingPower.funnel.stream(ms.toDF().toDF("doc_id", "text"),
      storePath, ckpt, compactEvery = 2)(
      StreamingPower.funnelRows(_, "doc_id", "text"))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val whole = docs.toDF("doc_id", "text")
    val oneShot = graft.operators.TextAnalysis.funnelReport(
      graft.operators.TextAnalysis.funnelCounts(
        graft.operators.TextAnalysis.funnelSignals(whole, "doc_id", "text")))
      .collect().toSeq
    val streamed = graft.operators.TextAnalysis.funnelReport(
      StreamingPower.funnel.read(spark, storePath))
      .collect().toSeq
    assert(streamed == oneShot,
      s"streamed funnel diverged:\n$streamed\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.funnel.append(spark, storePath, 1L)(
      StreamingPower.funnelRows(b2.toDF("doc_id", "text"), "doc_id", "text"))
    assert(graft.operators.TextAnalysis.funnelReport(
      StreamingPower.funnel.read(spark, storePath))
      .collect().toSeq == oneShot,
      "retried batch mutated the committed funnel store")
  }

  test("streaming PSI store renders exactly like the one-shot index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_psi_store") + "/psi"
    val ckpt = tempDir("graft_psi_ckpt")
    val ev = graft.engine.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSeq
    val ms = MemoryStream[(Long, String, Double)]
    val q = StreamingPower.psi.stream(
      ms.toDF().toDF("event_id", "event_type", "value"),
      storePath, ckpt, compactEvery = 2)(graft.operators.StatTests.psiBinCounts(
      _, "value", "event_type", "click", "view", lo = 0.0, hi = 500.0, bins = 10))
    val (b1, b2) = ev.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.StatTests.psi(
      ev.toDF("event_id", "event_type", "value"), "value", "event_type",
      "click", "view", lo = 0.0, hi = 500.0).collect().toSeq
    val streamed = graft.operators.StatTests.psiFromCounts(
      StreamingPower.psi.read(spark, storePath), bins = 10)
      .collect().toSeq
    assert(streamed == oneShot, s"streamed PSI diverged:\n$streamed\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.psi.append(spark, storePath, 1L)(graft.operators.StatTests
      .psiBinCounts(b2.toDF("event_id", "event_type", "value"),
        "value", "event_type", "click", "view", 0.0, 500.0, 10))
    assert(graft.operators.StatTests.psiFromCounts(
      StreamingPower.psi.read(spark, storePath), bins = 10)
      .collect().toSeq == oneShot,
      "retried batch mutated the committed PSI store")
  }

  test("W1 readout off the streamed PSI-shape store equals the one-shot wasserstein1") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_w1_store") + "/w1"
    val ckpt = tempDir("graft_w1_ckpt")
    val ev = graft.engine.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSeq
    val ms = MemoryStream[(Long, String, Double)]
    val q = StreamingPower.psi.stream(
      ms.toDF().toDF("event_id", "event_type", "value"),
      storePath, ckpt, compactEvery = 2)(graft.operators.StatTests.psiBinCounts(
      _, "value", "event_type", "click", "view", lo = 0.0, hi = 320.0, bins = 32))
    val (b1, b2) = ev.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.StatTests.wasserstein1(
      ev.toDF("event_id", "event_type", "value"), "value", "event_type",
      "click", "view", lo = 0.0, hi = 320.0, bins = 32).collect().toSeq
    def streamed() = graft.operators.StatTests.wasserstein1FromBins(
        StreamingPower.psi.read(spark, storePath), lo = 0.0, hi = 320.0, bins = 32)
      .collect().toSeq
    assert(streamed() == oneShot,
      s"streamed W1 diverged:\n${streamed()}\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.psi.append(spark, storePath, 1L)(graft.operators.StatTests
      .psiBinCounts(b2.toDF("event_id", "event_type", "value"),
        "value", "event_type", "click", "view", 0.0, 320.0, 32))
    assert(streamed() == oneShot,
      "retried batch mutated the committed W1 store")
  }

  test("streaming image-hash store: pair readout == one-shot, decode paid at ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_ih_store") + "/ih"
    val ckpt = tempDir("graft_ih_ckpt")
    val payloads = graft.operators.Multimodal.withPatternedImagePayload(
        graft.engine.Tables.documents(spark, sf("sf0.001")))
      .as[(Long, Array[Byte])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPower.fingerprint.stream(
      ms.toDF().toDF("doc_id", "payload"), storePath, ckpt, compactEvery = 2)(
      p => StreamingPower.fingerprintRows(graft.operators.Multimodal.dHash(p)))
    val (b1, b2) = payloads.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.Multimodal.dHashPairHistogram(
      graft.operators.Multimodal.dHash(
        payloads.toDF("doc_id", "payload")).toDF()).collect().toSeq
    def streamed() = graft.operators.Multimodal.dHashPairHistogram(
        StreamingPower.fingerprint.read(spark, storePath))
      .collect().toSeq
    assert(streamed() == oneShot,
      s"streamed pair histogram diverged:\n${streamed()}\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.fingerprint.append(spark, storePath, 1L)(StreamingPower
      .fingerprintRows(graft.operators.Multimodal.dHash(b2.toDF("doc_id", "payload"))))
    assert(streamed() == oneShot,
      "retried batch mutated the committed image-hash store")
  }

  test("streaming audio-fingerprint store: pair readout == one-shot, parse paid at ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_afp_store") + "/afp"
    val ckpt = tempDir("graft_afp_ckpt")
    val payloads = graft.operators.Multimodal.withPatternedAudioPayload(
        graft.engine.Tables.documents(spark, sf("sf0.001")))
      .as[(Long, Array[Byte])].collect().toSeq
    // the fixture really decodes, and identical-A clips fingerprint
    // identically (the Hamming-0 mass the histogram counts)
    val fps = graft.operators.Multimodal.audioFingerprint(
      payloads.toDF("doc_id", "payload")).collect()
    assert(fps.forall(_.real_decode), "patterned WAVs must really parse")
    val ms = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPower.fingerprint.stream(
      ms.toDF().toDF("doc_id", "payload"), storePath, ckpt, compactEvery = 2)(
      p => StreamingPower.fingerprintRows(graft.operators.Multimodal.audioFingerprint(p)))
    val (b1, b2) = payloads.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.Multimodal.dHashPairHistogram(
      graft.operators.Multimodal.audioFingerprint(
        payloads.toDF("doc_id", "payload")).toDF()).collect().toSeq
    assert(oneShot.nonEmpty, "degenerate fixture: no near-dup audio pairs")
    def streamed() = graft.operators.Multimodal.dHashPairHistogram(
        StreamingPower.fingerprint.read(spark, storePath))
      .collect().toSeq
    assert(streamed() == oneShot,
      s"streamed audio pair histogram diverged:\n${streamed()}\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.fingerprint.append(spark, storePath, 1L)(StreamingPower
      .fingerprintRows(graft.operators.Multimodal.audioFingerprint(b2.toDF("doc_id", "payload"))))
    assert(streamed() == oneShot,
      "retried batch mutated the committed audio-fingerprint store")
    // a non-WAV payload degrades to the stub row, never throws
    val stub = graft.operators.Multimodal.audioFingerprint(
      Seq((99L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload"))
      .collect().head
    assert(!stub.real_decode && stub.doc_id == 99L)
  }

  test("streaming video-fingerprint store: pair readout == one-shot, frames decoded at ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_vfp_store") + "/vfp"
    val ckpt = tempDir("graft_vfp_ckpt")
    val payloads = graft.operators.Multimodal.withPatternedVideoPayload(
        graft.engine.Tables.documents(spark, sf("sf0.001")))
      .as[(Long, Array[Byte])].collect().toSeq
    // the GIFs really decode, and the sampled luminances are the
    // planted grays: spot-check one doc's words against the closed form
    val fps = graft.operators.Multimodal.videoFingerprint(
      payloads.toDF("doc_id", "payload")).collect()
    assert(fps.forall(_.real_decode), "patterned GIFs must really decode")
    fps.find(_.doc_id == payloads.head._1).foreach { r =>
      val a = (r.doc_id % 16) * 31 + r.doc_id % 7
      val nf = (2 + a % 5).toInt
      assert(r.n_frames == nf, "frame count must come from the real sequence walk")
      val ls = Array.tabulate(33)(j => (a * 31 + ((j * nf) / 33) * 17) % 256)
      var w0 = 0L; var w1 = 0L
      (0 until 32).foreach { j =>
        if (ls(j + 1) > ls(j)) w0 |= 1L << j
        if ((ls(j) / 32) % 2 == 1) w1 |= 1L << j
      }
      assert(r.w0 == w0 && r.w1 == w1,
        s"fingerprint diverged from the closed form for doc ${r.doc_id}")
    }
    val ms = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPower.fingerprint.stream(
      ms.toDF().toDF("doc_id", "payload"), storePath, ckpt, compactEvery = 2)(
      p => StreamingPower.fingerprintRows(graft.operators.Multimodal.videoFingerprint(p)))
    val (b1, b2) = payloads.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.Multimodal.dHashPairHistogram(
      graft.operators.Multimodal.videoFingerprint(
        payloads.toDF("doc_id", "payload")).toDF()).collect().toSeq
    assert(oneShot.nonEmpty, "degenerate fixture: no near-dup video pairs")
    def streamed() = graft.operators.Multimodal.dHashPairHistogram(
        StreamingPower.fingerprint.read(spark, storePath))
      .collect().toSeq
    assert(streamed() == oneShot,
      s"streamed video pair histogram diverged:\n${streamed()}\n$oneShot")
    StreamingPower.fingerprint.append(spark, storePath, 1L)(StreamingPower
      .fingerprintRows(graft.operators.Multimodal.videoFingerprint(b2.toDF("doc_id", "payload"))))
    assert(streamed() == oneShot,
      "retried batch mutated the committed video-fingerprint store")
    val stub = graft.operators.Multimodal.videoFingerprint(
      Seq((99L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload"))
      .collect().head
    assert(!stub.real_decode && stub.doc_id == 99L)
  }

  test("streaming DSIR store scores exactly like the one-shot importance fit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_dsir_store") + "/dsir"
    val ckpt = tempDir("graft_dsir_ckpt")
    val docs = (
      (0 until 6).map(i => (i.toLong, "alpha beta alpha", 1)) ++
      (6 until 24).map(i => (i.toLong, s"noise${i % 4} noise${(i + 1) % 4}", 0)))
    val ms = MemoryStream[(Long, String, Int)]
    val q = StreamingPower.dsir.stream(
      ms.toDF().toDF("doc_id", "text", "tgt"), storePath, ckpt,
      compactEvery = 2)(graft.operators.Sampling.dsirBucketStats(
      _, "doc_id", "text", "tgt", buckets = 64))
    val (b1, b2) = docs.partition(_._1 % 2 == 0) // disjoint corpus split
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val whole = docs.toDF("doc_id", "text", "tgt")
    val oneShot = graft.operators.Sampling
      .importanceResample(whole, "doc_id", "text", "tgt", n = 24, buckets = 64)
      .collect().toSeq
    def streamed() = graft.operators.Sampling.importanceResampleWith(whole,
      "doc_id", "text", StreamingPower.dsir.read(spark, storePath), n = 24,
      buckets = 64).collect().toSeq
    assert(streamed() == oneShot,
      s"streamed model diverged from one-shot fit:\n${streamed()}\n$oneShot")
    // a retried (already folded) batch id is a no-op
    StreamingPower.dsir.append(spark, storePath, 1L)(graft.operators.Sampling
      .dsirBucketStats(b2.toDF("doc_id", "text", "tgt"), "doc_id", "text",
        "tgt", buckets = 64))
    assert(streamed() == oneShot,
      "retried batch mutated the committed DSIR store")
  }

  test("streaming volume-trend store folds daily counts == one-shot OLS") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_trend_store") + "/trend"
    val ckpt = tempDir("graft_trend_ckpt")
    val ev = graft.engine.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)].collect().toSeq
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingPower.trend.stream(
      ms.toDF().toDF("event_id", "event_type", "ts"), storePath, ckpt,
      compactEvery = 2)(graft.operators.Sessions.dailyCounts(_, "event_type", "ts"))
    val (b1, b2) = ev.partition(_._1 % 2 == 0)
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.Sessions.volumeTrend(
      ev.toDF("event_id", "event_type", "ts"), "event_type", "ts")
      .collect().toSeq
    val streamed = graft.operators.Sessions.trendFromDaily(
      StreamingPower.trend.read(spark, storePath))
      .collect().toSeq
    assert(streamed == oneShot,
      s"streamed trend diverged:\n$streamed\n$oneShot")
    StreamingPower.trend.append(spark, storePath, 1L)(graft.operators.Sessions
      .dailyCounts(b2.toDF("event_id", "event_type", "ts"), "event_type", "ts"))
    assert(graft.operators.Sessions.trendFromDaily(
      StreamingPower.trend.read(spark, storePath))
      .collect().toSeq == oneShot,
      "retried batch mutated the committed trend store")
  }

  test("streaming EWMA store chains the seeded recurrence across batches == one-shot fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storePath = tempDir("graft_ewma_store") + "/ewma"
    val ckpt = tempDir("graft_ewma_ckpt")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val all = Seq((1L, ts(1), 10.0), (1L, ts(2), 20.0), (2L, ts(1), 4.0),
      (1L, ts(3), 40.0), (2L, ts(4), 8.0), (1L, ts(5), 10.0))
    // time-ordered split: the streaming contract (per-key event time
    // never goes backwards across batches)
    val (b1, b2) = all.partition(_._2.getTime <= ts(2).getTime)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingPower.ewma.stream(
      ms.toDF().toDF("user_id", "ts", "value"), storePath, ckpt,
      compactEvery = 2)(StreamingPower.ewmaRows(_, "user_id", "ts", "value",
      alphaPpm = 500000L, storePath))
    ms.addData(b1: _*)
    q.processAllAvailable()
    ms.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val oneShot = graft.operators.Resample.ewma(
      all.toDF("user_id", "ts", "value"), "user_id", "ts", "value",
      alphaPpm = 500000L).collect().toSeq
    val streamed = StreamingPower.ewma.read(spark, storePath)
      .orderBy("user_id", "step")
      .collect().toSeq
    assert(streamed == oneShot,
      s"streamed EWMA diverged:\n$streamed\n$oneShot")
    // a retried (already folded) batch id is a no-op — the recurrence
    // must not double-apply
    StreamingPower.ewma.append(spark, storePath, 1L)(StreamingPower.ewmaRows(
      b2.toDF("user_id", "ts", "value"), "user_id", "ts", "value", 500000L,
      storePath))
    assert(StreamingPower.ewma.read(spark, storePath)
      .orderBy("user_id", "step")
      .collect().toSeq == oneShot,
      "retried batch mutated the committed EWMA store")
  }
}
