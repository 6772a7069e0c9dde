package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Tables}
import graft.functions.Md5Family
import graft.operators._
import graft.queries.QueryHelpers._
import graft.streaming.StreamingPower

/** Event, time-series, storage and multimodal family: sessionization, windows, as-of/interval joins, resample/gap/anomaly, SCD2/CDC/snapshot-diff, idempotent sinks, streaming cadence/moment stores, JSON and image-decode plumbing.
  *
  * Split from the former ExtensionQueries monolith (round 7) — query
  * bodies, registration names, and oracle SQL are unchanged;
  * [[ExtensionQueries]] concatenates every domain's `all` list.
  */
object EventStoreQueries {
  type Q = (SparkSession, String) => DataFrame


  private val jsonExtract: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")


  private val sessionizeQ: Q = (s, dir) =>
    Sessions.sessionize(Tables.events(s, dir), gapMinutes = 30)


  private val tumbling: Q = (s, dir) =>
    Sessions.tumblingHourly(Tables.events(s, dir))


  private val multimodal: Q = (s, dir) =>
    Multimodal.decodeFeatures(Tables.documents(s, dir)).toDF()
      // text stand-in payloads take the deterministic stub branch;
      // the branch flag is q162's concern, not part of this contract
      .select("doc_id", "n_bytes", "width", "height", "channels")
      .orderBy("doc_id")


  /** q162: REAL image decode end-to-end — each doc's text renders to a
    * true PNG with deterministic dimensions (8 + doc_id % 24 wide,
    * 8 + utf8len % 24 tall, `Multimodal.withImagePayload`), and
    * `decodePayloads` parses the actual container via javax.imageio:
    * recovered width/height/channels and the real-decode branch flag
    * are oracle-predicted. n_bytes (the PNG's compressed size) is
    * encoder-dependent and deliberately excluded.
    */
  private val imageDecodeQ: Q = (s, dir) =>
    Multimodal.decodePayloads(
        Multimodal.withImagePayload(Tables.documents(s, dir))).toDF()
      .select("doc_id", "width", "height", "channels", "real_decode")
      .orderBy("doc_id")


  /** q189: REAL audio decode end-to-end — each doc renders to a true
    * 16-bit PCM mono WAV (8 kHz, `64 + utf8len % 192` sample frames of
    * a doc-seeded integer waveform, `Multimodal.withAudioPayload`),
    * and `decodeAudioPayloads` parses the actual RIFF container:
    * recovered rate/channels/frame-count/duration and the EXACT
    * integer energy (Σ sample²) are all oracle-predicted, n_bytes
    * included (WAV is uncompressed: 44 + 2·n).
    */
  private val audioDecodeQ: Q = (s, dir) =>
    Multimodal.decodeAudioPayloads(
        Multimodal.withAudioPayload(Tables.documents(s, dir))).toDF()
      .orderBy("doc_id")


  /** q278: REAL video-frame sampling end-to-end — each doc renders to
    * a true multi-frame ANIMATED GIF (`Multimodal.withVideoPayload`:
    * n_frames/dims/per-frame gray all doc-derived through an exact
    * 256-gray palette) and `sampleVideoFrames` parses the actual
    * container: the frame count from the GIF sequence walk, dims and
    * the planted constant gray from really-decoded rasters, and the
    * exact full-raster pixel sum — all oracle-predicted. This de-stubs
    * q52's arithmetic frame hash; the stub stays the no-codec
    * fallback.
    */
  private val videoFramesQ: Q = (s, dir) =>
    Multimodal.sampleVideoFrames(
        Multimodal.withVideoPayload(Tables.documents(s, dir)), nSample = 4)
      .toDF().orderBy("doc_id", "sample_idx")


  /** Schema-on-read JSON parsing (from_json with an explicit schema —
    * the structured sibling of q33's get_json_object path).
    */
  private val fromJson: Q = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("p", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("p.k")).as("min_k"),
        max(col("p.k")).as("max_k"),
        round(avg(col("p.k")), 6).as("avg_k"))
      .orderBy("event_type")


  /** As-of attribution: each purchase joined to the user's most recent
    * prior (or simultaneous) click — oracled against DuckDB's native
    * ASOF JOIN, implemented here with the union+window form (one
    * shuffle on user_id, no range-join explosion).
    */
  private val asofAttribution: Q = (s, dir) => {
    val events = Tables.events(s, dir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    AsofJoin.asofLookup(purchases, clicks, "user_id", "ts", Seq("click_id", "click_ts"))
      .select(col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("asof_click_id").as("click_id"), col("asof_click_ts").as("click_ts"))
      .orderBy("purchase_id")
  }


  /** Spark's NATIVE session_window, verified against the same oracle
    * as the lag/cumsum formulation (q34) — the two sessionization
    * idioms are proven equivalent on this data. (Boundary note: the
    * built-in merges on gap < 30min strictly, the lag form on <=; no
    * exact-30-minute gaps exist at any sf, checked.) Session bounds are
    * re-derived as min/max event time because session_window.end is
    * last_event + gap, not the last event itself.
    */
  private val sessionWindowBuiltin: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .orderBy("user_id", "session_start")


  private val multimodalFrames: Q = (s, dir) =>
    Multimodal.frameSample(Tables.documents(s, dir), nFrames = 4)
      .toDF().orderBy("doc_id", "frame_idx")


  /** Ordered conversion funnel over the event stream: users who
    * viewed, then clicked at/after their first view, then purchased
    * at/after that click. Each step is a pushdown-filtered scan +
    * per-user min aggregate; steps join on user_id (one shuffle key
    * throughout) and only per-user step times cross stages.
    */
  private val funnel: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
  }


  /** Point-in-interval range join done as a bucketed equi-join:
    * purchases attributed to the click-session interval containing
    * them. The naive `ts BETWEEN start AND end` join has no equi-key
    * and falls back to a nested loop — `RangeJoin.pointInInterval`
    * restores a hash shuffle (spec-asserted: no BNLJ/cartesian in the
    * plan).
    */
  private val intervalJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    // 4h-gap sessions over the user's non-purchase activity; purchases
    // are then attributed to the activity interval containing them
    val sessions = Sessions
      .sessionize(ev.filter(col("event_type") =!= "purchase"), gapMinutes = 240)
      .select(col("user_id"), col("session_start"), col("session_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    RangeJoin.pointInInterval(purchases, sessions, Seq("user_id"),
      "ts", "session_start", "session_end")
      .select(col("event_id"), col("user_id"), col("ts"), col("session_start"))
      .orderBy("event_id")
  }


  /** Hopping (sliding) 60-minute windows every 15 minutes — each event
    * lands in size/slide = 4 windows; the built-in `window()` generator
    * handles the multi-assignment (and runs unchanged on a stream).
    */
  private val hoppingQ: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "60 minutes", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("total_value"))
      .orderBy("window_start")


  /** Aspect-preserving resize planning over the decoded stub dims. */
  private val resizePlanQ: Q = (s, dir) =>
    Multimodal.resizePlan(Tables.documents(s, dir)).toDF().orderBy("doc_id")


  /** JSONL rendering — the standard training-data interchange format:
    * one compact JSON object per row via `to_json(struct(...))`
    * (numeric/string fields only; engines agree on compact rendering).
    * Writing `.text` files of this column IS the JSONL export sink.
    */
  private val jsonlExport: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      to_json(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")))
        .as("jsonl"))
      .orderBy("doc_id")


  /** q107: dataset-versioning diff — two simulated snapshots of
    * `documents` (drops + edits derived deterministically from doc_id)
    * compared by md5 row digest; output is the change set only.
    */
  private val snapshotDiffQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(col("doc_id") % 10 =!= 3)
    val next = docs.filter(col("doc_id") % 7 =!= 2)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    SnapshotDiff.diff(prev, next, Seq("doc_id")).orderBy("doc_id")
  }


  /** q108: SCD2 merge — the customer dimension at version 1 merged
    * with an update batch touching every 7th key (acctbal shift);
    * changed keys close their v1 row and open a v2 row.
    */
  private val scd2Q: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val dim = cust
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("version", lit(1))
      .withColumn("is_current", lit(true))
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
    Scd2.merge(dim, updates, "c_custkey", Seq("c_mktsegment", "c_acctbal"))
      .orderBy("c_custkey", "version")
  }


  /** q109: cohort retention matrix over events. */
  private val retentionQ: Q = (s, dir) =>
    Retention.cohortMatrix(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_d", "offset_days")


  /** q110: trailing-7-day distinct active users per day. */
  private val rollingActiveQ: Q = (s, dir) =>
    Retention.rollingActiveUsers(Tables.events(s, dir), "user_id", "ts")
      .orderBy("target_d")


  /** q113: CDC changelog compaction — base snapshot (seq 0) + updates
    * (seq 1, every 7th key) + deletes (seq 2, every 11th key) folded
    * to current state by one max_by hash aggregate.
    */
  private val cdcQ: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    def slice(extra: DataFrame => DataFrame, seq: Long, op: String) =
      extra(cust)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("seq", lit(seq)).withColumn("op", lit(op))
    val base = slice(identity, 0L, "I")
    val upd = slice(_.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0), 1L, "U")
    val del = slice(_.filter(col("c_custkey") % 11 === 0), 2L, "D")
    Cdc.applyChangelog(base.unionByName(upd).unionByName(del),
      "c_custkey", "seq", "op", Seq("c_mktsegment", "c_acctbal"))
      .orderBy("c_custkey")
  }


  /** q116: trailing z-score anomaly flags — each event scored against
    * its user's previous-5-event mean/stddev (the gold-layer
    * volatility machinery turned into a detector). Window is
    * partitioned by user — no global sort; sample stddev is NULL on
    * short frames in both engines, and those rows are excluded.
    */
  private val anomalyQ: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-5, -1)
    Tables.events(s, dir)
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev(col("value")).over(w))
      .filter(col("sd").isNotNull && col("sd") > 0)
      .select(col("event_id"), col("user_id"), col("value"),
        round((col("value") - col("mu")) / col("sd"), 6).as("z"),
        (abs(round((col("value") - col("mu")) / col("sd"), 6)) > 3)
          .as("is_anomaly"))
      .orderBy("event_id")
  }


  /** q117: data-quality expectations — four named constraints over
    * lineitem folded in one aggregate scan (one has real violations,
    * so pass AND fail paths are exercised).
    */
  private val expectationsQ: Q = (s, dir) =>
    Expectations.validate(Tables.lineitem(s, dir), Seq(
      "qty_positive" -> (col("l_quantity") > 0),
      "price_nonneg" -> (col("l_extendedprice") >= 0),
      "discount_le_5pct" -> (col("l_discount") <= 0.05),
      "shipdate_in_range" -> col("l_shipdate").between(
        lit("1992-01-01").cast("date"), lit("1998-12-31").cast("date"))))


  /** q118: referential-integrity count — lineitem rows orphaned by a
    * parent snapshot missing every 5th order key.
    */
  private val refIntegrityQ: Q = (s, dir) =>
    Expectations.referentialViolations(
      Tables.lineitem(s, dir),
      Tables.orders(s, dir).filter(col("o_orderkey") % 5 =!= 0),
      "l_orderkey", "o_orderkey")


  /** q132: the training-data pipeline FUNNEL, end-to-end per source —
    * raw docs → C4-style clean (q127's operator) → exact dedup among
    * the keepers (q20's operator, keyed on md5(text) so the dedup
    * shuffle moves 32-char digests, not document bodies) → canonical
    * token totals → mixture share. One registered DAG composing the
    * real operators, not re-implementations: the hash match certifies
    * that the STAGES compose, which is what a pipeline user actually
    * runs. Counts stay exact integers; the single share division is
    * last. Scale: two doc-partitioned projections, one digest-keyed
    * dedup shuffle, a 20-group aggregate, and a broadcast 1-row total.
    */
  private val pipelineFunnelQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clean = TextAnalysis.cleanCorpus(docs, "doc_id", "text")
    // kept feeds BOTH sides of the dedup self-join below — checkpoint
    // it once (project invariant) instead of cleaning the corpus twice
    val kept = docs.select("doc_id", "source", "text").join(
      clean.filter(col("keep") === 1).select("doc_id", "n_tokens"), Seq("doc_id"))
      .localCheckpoint()
    val canonIds = Dedup.exactDedup(
      kept.withColumn("text_key", md5(col("text"))), "text_key", "doc_id")
      .select("doc_id")
    val canonDocs = kept.join(canonIds, Seq("doc_id"))
    val base = docs.groupBy("source").agg(count(lit(1)).as("docs_in"))
    val keptAgg = kept.groupBy("source").agg(count(lit(1)).as("docs_kept"))
    val canonAgg = canonDocs.groupBy("source").agg(
      count(lit(1)).as("docs_canonical"),
      sum(col("n_tokens").cast("long")).as("tokens_canonical"))
    val total = canonDocs.agg(
      sum(col("n_tokens").cast("long")).as("total_tokens"))
    base.join(keptAgg, Seq("source"), "left")
      .join(canonAgg, Seq("source"), "left")
      .crossJoin(broadcast(total))
      .select(col("source"), col("docs_in"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("docs_canonical"), lit(0L)).as("docs_canonical"),
        coalesce(col("tokens_canonical"), lit(0L)).as("tokens_canonical"),
        round(coalesce(col("tokens_canonical"), lit(0L)).cast("double")
          / col("total_tokens"), 6).as("token_share"))
      .orderBy("source")
  }


  /** q133: the batch STORE end-to-end — documents flow into an
    * `IdempotentSink` table in three key-overlapping appends (each
    * re-delivers a slice of the previous batch, as a retrying loader
    * would), the generations are compacted, and the table is read
    * back through the healed reader into a per-source summary. The
    * oracle is a plain aggregate over `documents`: a hash match
    * certifies the stage/commit/key-dedup/compact/read path preserved
    * exactly one copy of every row — the store's whole contract.
    */
  private val sinkRoundtripQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "text").localCheckpoint()
    withScratch(s, "graft_q133_sink") { scratch =>
      val store = scratch + "/t"
      // three appends with overlapping key ranges: [0,45%), [40%,75%),
      // [70%,100%) of the id space — every boundary slice re-delivers
      val ids = docs.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val span = math.max(1L, hi - lo + 1)
      def slice(a: Double, b: Double) = docs.filter(
        col("doc_id") >= lo + (span * a).toLong &&
          col("doc_id") < lo + (span * b).toLong + (if (b >= 1.0) 1 else 0))
      IdempotentSink.appendIfAbsent(s, slice(0.0, 0.45), store, Seq("doc_id"))
      IdempotentSink.appendIfAbsent(s, slice(0.40, 0.75), store, Seq("doc_id"))
      IdempotentSink.appendIfAbsent(s, slice(0.70, 1.0), store, Seq("doc_id"))
      IdempotentSink.compact(s, store)
      IdempotentSink.read(s, store)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text")).cast("long")).as("chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    }
  }


  /** q145: regular-grid hourly resample of the event stream per user —
    * every hour from each user's first to last event, bucket mean,
    * forward-fill with staleness, and linear interpolation across gaps
    * (`Resample.resample`). The cadence-repair pass a 1-row-per-minute
    * feed needs before window features are trustworthy.
    */
  private val resampleQ: Q = (s, dir) =>
    Resample.resample(
      Tables.events(s, dir).filter(col("user_id") % 10 === 0),
      "user_id", "ts", "value", stepSeconds = 3600L)


  /** q226: per-user EWMA smoothing of event values (α = 0.3) — the
    * exact integer recurrence (micros at birth, floor per step), step
    * order pinned to (ts, v) and surfaced as `step` so duplicate
    * observations can't make the output order ambiguous.
    */
  private val ewmaQ: Q = (s, dir) =>
    Resample.ewma(
      Tables.events(s, dir).filter(col("user_id") < 50),
      "user_id", "ts", "value", alphaPpm = 300000L)

  /** q263: Holt linear (level + trend) smoothing per user — q226's
    * exact-integer recurrence contract extended to the coupled
    * two-state fold; forecast = level + trend.
    */
  private val holtQ: Q = (s, dir) =>
    Resample.holt(
      Tables.events(s, dir).filter(col("user_id") < 50),
      "user_id", "ts", "value", alphaPpm = 300000L, betaPpm = 100000L)


  /** q234: the streaming EWMA store fed three TIME-ordered slices of
    * the same q226 stream — the seeded recurrence must chain across
    * batch boundaries so that streamed ≡ one-shot (q226's oracle
    * verbatim).
    */
  private val ewmaStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("user_id") < 50)
    withScratch(s, "graft_q234_ewma") { scratch =>
      val store = scratch + "/ewma"
      val cuts = Seq(
        col("ts") < lit("2024-01-11").cast("timestamp"),
        col("ts") >= lit("2024-01-11").cast("timestamp")
          && col("ts") < lit("2024-01-21").cast("timestamp"),
        col("ts") >= lit("2024-01-21").cast("timestamp"))
      cuts.zipWithIndex.foreach { case (cut, b) =>
        StreamingPower.ewma.append(s, store, b)(StreamingPower.ewmaRows(
          ev.filter(cut), "user_id", "ts", "value", alphaPpm = 300000L, store))
      }
      StreamingPower.ewma.compact(s, store)
      StreamingPower.ewma.read(s, store).orderBy("user_id", "step")
    }
  }


  /** q229: per-user inter-arrival burstiness profile — integer-second
    * gaps under the (ts, event_id) order, Fano factor from exact
    * Σg/Σg² sums (1 ≈ Poisson, ≫1 bursty).
    */
  private val interArrivalQ: Q = (s, dir) =>
    Sessions.interArrival(Tables.events(s, dir), "user_id", "ts",
      "event_id")


  /** The q241/q242 user-metric table: md5-randomized arms (the way a
    * real experiment assigns), pre-period (before Jan 16) value sums
    * as the CUPED covariate, post-period sums as the metric — each
    * event quantized to WHOLE integer units at birth. Units (not
    * millis) keep the reported variance small enough that round(_, 6)
    * stays exact in BOTH engines: DuckDB's round multiplies by 1e6
    * internally, so a 1e11-magnitude statistic silently loses
    * precision there.
    */
  private def userMetrics(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16").cast("timestamp")
    def units(c: org.apache.spark.sql.Column) =
      sum(round(c).cast("long"))
    val pre = ev.filter(col("ts") < cut).groupBy("user_id")
      .agg(units(col("value")).as("x_units"))
    val post = ev.filter(col("ts") >= cut).groupBy("user_id")
      .agg(units(col("value")).as("y_units"))
    ev.select("user_id").distinct()
      .withColumn("arm",
        when(pmod(Md5Family.hash(col("user_id").cast("string")), lit(2L))
          === 0L, lit("A")).otherwise(lit("B")))
      .join(pre, Seq("user_id"), "left")
      .join(post, Seq("user_id"), "left")
      .select(col("user_id"), col("arm"),
        coalesce(col("x_units"), lit(0L)).as("x_units"),
        coalesce(col("y_units"), lit(0L)).as("y_units"))
  }

  /** q241: CUPED experiment readout over the hash-randomized arms —
    * pre-period covariate adjustment; with no real treatment the
    * adjusted lift ≈ 0 and ρ² reports the variance reduction the
    * covariate buys.
    */
  private val cupedQ: Q = (s, dir) =>
    Experiment.cuped(userMetrics(s, dir), "arm", "x_units", "y_units")

  /** q242: minimum-detectable-effect planning report on the same
    * metric (α = 5%, power = 80%, conservative smaller arm).
    */
  private val mdeQ: Q = (s, dir) =>
    Experiment.minimumDetectableEffect(userMetrics(s, dir), "arm",
      "y_units")


  /** q243: sample-ratio-mismatch check over the q241 arms — chi-square
    * against the intended uniform split; large = broken assignment.
    */
  private val srmQ: Q = (s, dir) =>
    Experiment.srmCheck(userMetrics(s, dir), "arm")

  /** q244: top 3-step event paths under the per-user (ts, id) order —
    * how users actually move; distributed top-20.
    */
  private val pathsQ: Q = (s, dir) =>
    Sessions.topPaths(Tables.events(s, dir), "user_id", "ts", "event_id",
      "event_type", len = 3, k = 20)

  /** q245: per-type daily-volume trend — native-integer OLS slope over
    * epoch days, the feed-health drift monitor.
    */
  private val volumeTrendQ: Q = (s, dir) =>
    Sessions.volumeTrend(Tables.events(s, dir), "event_type", "ts")

  /** q256: CUSUM changepoint scan over per-type daily volume — the
    * regime-shift locator next to q245's trend slope; exact integer
    * deviation numerators, peak days flagged by integer compare.
    */
  private val cusumQ: Q = (s, dir) =>
    Sessions.cusumEvents(Tables.events(s, dir), "event_type", "ts")

  /** q258: additive seasonal decomposition of hourly event volume —
    * centered-MA trend, per-hour-of-day seasonal, Poisson-style
    * 3·√trend residual anomaly flag; exact integer detrending.
    */
  private val seasonalQ: Q = (s, dir) =>
    Resample.seasonalDecompose(Tables.events(s, dir), "ts",
      stepSeconds = 3600L, period = 24, halfWindow = 12)


  /** q247: the streaming volume-trend store fed three disjoint slices
    * — mergeable daily counts fold exactly, so streamed ≡ one-shot
    * (q245's oracle verbatim).
    */
  private val trendStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q247_trend") { scratch =>
      val store = scratch + "/trend"
      (0L until 3L).foreach { b =>
        StreamingPower.trend.append(s, store, b)(Sessions.dailyCounts(
          ev.filter(col("event_id") % 3 === b), "event_type", "ts"))
      }
      StreamingPower.trend.compact(s, store)
      Sessions.trendFromDaily(StreamingPower.trend.read(s, store))
    }
  }


  /** q265: one-step-ahead Holt backtest vs the naive lag-1 forecast —
    * exact micro-long absolute errors off the recurrence's own
    * states; skill < 1 ⟺ the smoother beats persistence.
    */
  private val forecastSkillQ: Q = (s, dir) =>
    Resample.holtBacktest(
      Tables.events(s, dir).filter(col("user_id") < 50),
      "user_id", "ts", "value", alphaPpm = 300000L, betaPpm = 100000L)

  /** q268: Kaplan–Meier time-to-conversion curve (signup → first
    * purchase, right-censored at the corpus horizon) — log-space
    * exact-integer product-limit estimator.
    */
  private val kmQ: Q = (s, dir) =>
    Retention.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase")

  /** q269: log-rank test between md5 arms' conversion curves —
    * censoring-correct A/B readout on time-to-purchase; per-time
    * (O−E)/V terms nano-quantized at birth, exact sums, χ²(1).
    */
  private val logRankQ: Q = (s, dir) =>
    Retention.logRank(Tables.events(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase")

  /** q277: hour-of-day load profile — p10/p50/p90 of OBSERVED hourly
    * event counts per hour-of-day (capacity-planning bands next to
    * q258's decomposition; Spark percentile == DuckDB quantile_cont,
    * the q42 precedent). Hours with zero events carry no sample.
    */
  private val hourProfileQ: Q = (s, dir) => {
    val hc = Tables.events(s, dir)
      .select(expr("unix_timestamp(ts) div 3600 * 3600").as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
      .withColumn("hour", (expr("b div 3600") % 24).cast("int"))
    hc.groupBy("hour")
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("n_events"),
        round(expr("percentile(cnt, 0.1)"), 6).as("p10"),
        round(expr("percentile(cnt, 0.5)"), 6).as("p50"),
        round(expr("percentile(cnt, 0.9)"), 6).as("p90"))
      .orderBy("hour")
  }

  /** q275: variance-to-mean dispersion of daily volume per type —
    * the Poisson-ness check; one exact-integer division.
    */
  private val dispersionQ: Q = (s, dir) =>
    Sessions.dispersionIndex(
      Sessions.dailyCounts(Tables.events(s, dir), "event_type", "ts"))

  /** q276: daily-volume autocorrelation at lags 1..7 per type — exact
    * integer deviation products, one division per lag.
    */
  private val acfQ: Q = (s, dir) =>
    Sessions.dailyAcf(
      Sessions.dailyCounts(Tables.events(s, dir), "event_type", "ts"),
      maxLag = 7)

  /** q266: Mann–Kendall trend test + Theil–Sen slope per event type —
    * the robust complement to q245's OLS; exact S/variance integers,
    * median pairwise slope as a rank-k order statistic.
    */
  private val mannKendallQ: Q = (s, dir) =>
    Sessions.mannKendallEvents(Tables.events(s, dir), "event_type", "ts")

  /** q264: the CUSUM readout over the SAME streaming daily-count
    * store as q247, fed three disjoint slices — mergeable counts fold
    * exactly, so streamed ≡ one-shot (q256's oracle verbatim).
    */
  private val cusumStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q264_cusum") { scratch =>
      val store = scratch + "/trend"
      (0L until 3L).foreach { b =>
        StreamingPower.trend.append(s, store, b)(Sessions.dailyCounts(
          ev.filter(col("event_id") % 3 === b), "event_type", "ts"))
      }
      StreamingPower.trend.compact(s, store)
      Sessions.cusumDaily(StreamingPower.trend.read(s, store))
    }
  }

  /** q274: the seasonal-decomposition readout over a streamed hourly
    * bucket-count store fed three disjoint slices — mergeable counts
    * fold exactly, so streamed ≡ one-shot (q258's oracle verbatim).
    */
  private val seasonalStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q274_seasonal") { scratch =>
      val store = scratch + "/seasonal"
      (0L until 3L).foreach { b =>
        StreamingPower.seasonal.append(s, store, b)(StreamingPower
          .seasonalRows(ev.filter(col("event_id") % 3 === b), "ts"))
      }
      StreamingPower.seasonal.compact(s, store)
      Resample.seasonalFromBuckets(StreamingPower.seasonal.read(s, store),
        stepSeconds = 3600L, period = 24, halfWindow = 12)
    }
  }

  /** q253: RFM user segmentation as of Jan 31 — quintile scores per
    * dimension (5 = best), ties pinned by user id.
    */
  private val rfmQ: Q = (s, dir) =>
    Sessions.rfmSegments(Tables.events(s, dir), "user_id", "ts", "value",
      asOfDay = "2024-01-31")


  /** q146: per-user cadence/gap report from observed buckets alone —
    * expected vs present hourly buckets and the longest missing run
    * (`Resample.gapReport`; no grid materialized).
    */
  private val gapReportQ: Q = (s, dir) =>
    Resample.gapReport(Tables.events(s, dir), "user_id", "ts",
      stepSeconds = 3600L)


  /** q151: streaming cadence store — the event stream's distinct
    * (user, hourly-bucket) grid points folded across three
    * micro-batch appends plus a compaction, then read out as the gap
    * report. Same oracle as q146: the persisted-store path must be
    * indistinguishable from the one-shot batch computation.
    */
  private val cadenceStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q151_cad") { scratch =>
      val store = scratch + "/cadence"
      (0L until 3L).foreach { b =>
        StreamingPower.cadence.append(s, store, b)(StreamingPower.cadenceRows(
          ev.filter(col("event_id") % 3 === b), "user_id", "ts",
          stepSeconds = 3600L))
      }
      StreamingPower.cadence.compact(s, store)
      Resample.gapFromBuckets(StreamingPower.cadence.read(s, store),
        "user_id", stepSeconds = 3600L)
    }
  }


  /** q152: streaming embedding-moment store — per-dim (n, Σx, Σx²)
    * folded across three micro-batch appends plus a compaction, read
    * out as per-dim mean/variance. The incremental face of q148/q149:
    * drift monitoring over an unbounded stream, constant-size state.
    */
  private val momentStoreQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    withScratch(s, "graft_q152_mom") { scratch =>
      val store = scratch + "/moments"
      (0L until 3L).foreach { b =>
        StreamingPower.moment.append(s, store, b)(StreamingPower.momentRows(
          emb.filter(col("vec_id") % 3 === b), "embedding"))
      }
      StreamingPower.moment.compact(s, store)
      StreamingPower.momentReport(StreamingPower.moment.read(s, store))
    }
  }


  /** q156: per-event session features — session index, in-session
    * position, integer seconds since previous event and since session
    * start (`Sessions.sessionFeatures`): the behavioral-model feature
    * projection over the q34 sessionization.
    */
  private val sessionFeaturesQ: Q = (s, dir) =>
    Sessions.sessionFeatures(Tables.events(s, dir), gapMinutes = 30)


  /** q172: streaming column-profile store — the documents table split
    * into three micro-batch appends of (column, value, cnt)
    * histograms, compacted, read out through the SAME profile rollup
    * as q165 (whose oracle this shares verbatim: the merged store
    * must be indistinguishable from the one-shot batch profile).
    */
  private val profileStoreQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    withScratch(s, "graft_q172_prof") { scratch =>
      val store = scratch + "/profile"
      (0L until 3L).foreach { b =>
        StreamingPower.profile.append(s, store, b)(Profile.valueHistogram(
          docs.filter(col("doc_id") % 3 === b), cols))
      }
      StreamingPower.profile.compact(s, store)
      Profile.profileFromCounts(StreamingPower.profile.read(s, store))
    }
  }


  /** q186: streaming DSIR importance-model store — the documents table
    * split into three micro-batch appends of per-bucket (tc, rc)
    * token counts, compacted, then the corpus scored through the SAME
    * sampler half as q185 (whose oracle this shares verbatim: the
    * streamed model must be indistinguishable from the one-shot fit).
    */
  private val dsirStoreQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("tgt",
        when(col("source").isin("src0", "src1"), 1).otherwise(0))
    withScratch(s, "graft_q186_dsir") { scratch =>
      val store = scratch + "/dsir"
      (0L until 3L).foreach { b =>
        StreamingPower.dsir.append(s, store, b)(Sampling.dsirBucketStats(
          docs.filter(col("doc_id") % 3 === b), "doc_id", "text", "tgt",
          buckets = 256))
      }
      StreamingPower.dsir.compact(s, store)
      Sampling.importanceResampleWith(docs, "doc_id", "text",
        StreamingPower.dsir.read(s, store), n = 100, buckets = 256)
    }
  }


  /** q196: streaming quality-funnel store — the documents table split
    * into three micro-batch appends of one-row cumulative-pass
    * counters, compacted, rendered through the SAME report as q187
    * (whose oracle this shares verbatim: the streamed funnel must be
    * indistinguishable from the one-shot accounting).
    */
  private val funnelStoreQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    withScratch(s, "graft_q196_funnel") { scratch =>
      val store = scratch + "/funnel"
      (0L until 3L).foreach { b =>
        StreamingPower.funnel.append(s, store, b)(StreamingPower.funnelRows(
          docs.filter(col("doc_id") % 3 === b), "doc_id", "text"))
      }
      StreamingPower.funnel.compact(s, store)
      TextAnalysis.funnelReport(StreamingPower.funnel.read(s, store))
    }
  }


  /** q194: recency-weighted engagement — per-user exponentially
    * decayed value sums (τ = 7 days against the stream's max event
    * time), the freshness feature a training pipeline weights
    * interactions by.
    */
  private val decayedQ: Q = (s, dir) =>
    Sessions.decayedEngagement(Tables.events(s, dir), "user_id", "ts",
      "value", tauSeconds = 604800L)


  /** q157: gap-robust anomaly detection — rolling z-score over the
    * RESAMPLED (gap-filled) grid, so a burst after a quiet stretch is
    * judged against true elapsed time, not against however many rows
    * happened to exist (the q116-style raw-row window silently spans
    * gaps). Composes q145's grid with one more partitioned window;
    * the flag compares ROUNDED z so the cut is cross-engine exact.
    */
  private val gridAnomalyQ: Q = (s, dir) => {
    val grid = Resample.resample(
      Tables.events(s, dir).filter(col("user_id") % 10 === 0),
      "user_id", "ts", "value", stepSeconds = 3600L)
    val w = Window.partitionBy("user_id").orderBy("bucket_sec")
      .rowsBetween(-23, 0)
    grid
      .withColumn("_m", avg(col("interp_value")).over(w))
      .withColumn("_sd", stddev(col("interp_value")).over(w))
      .withColumn("z", round(
        when(col("_sd") > 0, (col("interp_value") - col("_m")) / col("_sd")), 6))
      .filter(abs(col("z")) > 2.5)
      .select(col("user_id"), col("bucket_sec"), col("interp_value"), col("z"))
      .orderBy("user_id", "bucket_sec")
  }

  /** Driver-collected loopback-fixture corpus with an EXPLICIT row
    * bound: the q285/q292/q301 fixtures render ~1/20 of `events` into
    * served JSON bodies — fine at the verify/bench scale factors, but
    * previously bounded only implicitly by the modulo filter. The
    * `limit` caps what the driver can ever materialize, and the
    * require turns a larger SF_DIR into an explicit, diagnosable
    * failure instead of a silent driver-memory risk (the honest
    * alternatives at that scale are partition-wise rendering, q189's
    * WAV pattern). Under the cap the ordered limit collects exactly
    * the full ordered set, so the shared oracles are unchanged.
    */
  private val FixtureRowCap = 200000
  private def collectFixtureRows(df: DataFrame,
      sortCols: String*): Array[org.apache.spark.sql.Row] = {
    val rows = df.orderBy(sortCols.map(col): _*)
      .limit(FixtureRowCap + 1).collect()
    require(rows.length <= FixtureRowCap,
      s"HTTP-fixture corpus exceeds the $FixtureRowCap-row driver bound " +
        "- render payloads partition-wise (q189's WAV pattern) at this SF")
    rows
  }

  /** q163: the DataSource V2 feed source (`graft.sources.FeedSource`,
    * the reference S1 HTTP-ingest surface) end-to-end — four JSON
    * response bodies are rendered FROM the events table (the shape a
    * fetch sidecar drops on shared storage), read back through
    * `spark.read.format(...)` with an incremental cursor bound, and
    * aggregated per event type. The hash match certifies payload
    * parsing, schema inference, the reader-side cursor filter, and
    * multi-payload partitioning against DuckDB computing the same
    * aggregate straight from the parquet table. The 4-row collect is
    * payload RENDERING (fixture prep, q162's PNG pattern — bounded by
    * the bucket count, never by corpus size); the read path itself
    * scales one partition per payload file. Value sums travel as
    * fixed-point longs (the q148 order-invariance rule).
    */
  private val feedSourceQ: Q = (s, dir) =>
    withScratch(s, "graft_q163_feed") { scratch =>
      val recs = Tables.events(s, dir).filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
          col("value"))
      val bodies = recs
        .withColumn("bucket", pmod(xxhash64(col("event_id")), lit(4)).cast("int"))
        .select(col("bucket"), to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), col("minutes1_utc"), col("value"))).as("j"))
        .groupBy("bucket")
        .agg(concat(lit("{\"records\":["),
          concat_ws(",", collect_list(col("j"))), lit("]}")).as("body"))
        .collect()
      bodies.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(scratch, f"page${r.getInt(0)}%02d.json"),
          r.getString(1).getBytes("UTF-8"))
      }
      // explicit schema: `to_json` drops null fields, so inference from
      // one payload could miss a key — inference is FeedSourceSpec's job
      val feed = s.read.format("graft.sources.FeedSource")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "minutes1_utc STRING, value DOUBLE")
        .option("endpoint", scratch)
        .option("cursorField", "minutes1_utc")
        .option("startCursor", "2024-01-16T00:00:00")
        .load()
      feed.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6).cast("long")).as("value_sum_us"),
          min(col("minutes1_utc")).as("min_cursor"),
          max(col("minutes1_utc")).as("max_cursor"))
        .orderBy("event_type")
    }

  private val feedBronzeOracle: String =
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS value_sum_us,
      |  min(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS min_cursor,
      |  max(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS max_cursor
      |FROM events
      |WHERE event_id % 20 = 0 AND ts IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q301: the live polling STREAM end-to-end — q292's bronze-ingest
    * contract as a CONTINUOUS query: `readStream` on the loopback HTTP
    * API through [[graft.sources.HttpPollingMicroBatchStream]], rate
    * caps engaged (pageSize=256, maxPagesPerPoll=4 — every micro-batch
    * admits at most 1024 records), `Trigger.AvailableNow` draining the
    * backlog in bounded steps into the PK-deduped `IdempotentSink`.
    * The horizon lift between the two drains is q292's "run it again
    * for new data" poll, except the resume point is the ENGINE'S
    * checkpointed record position, not a watermark read from the sink
    * — the dlt incremental-state contract, engine-managed. The shared
    * oracle certifies batch ingest, live-paged ingest, and the polling
    * stream against one truth.
    */
  private val feedHttpStreamQ: Q = (s, dir) =>
    withScratch(s, "graft_q301_stream") { scratch =>
      val sink = s"$scratch/bronze"
      val ckpt = s"$scratch/ckpt"
      val rowsDf = Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0 && col("ts").isNotNull)
        .select(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("c"),
          to_json(struct(col("event_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
            round(col("value") * 1e6).cast("long").as("value_us"))).as("j"))
      val rows = collectFixtureRows(rowsDf, "c", "j")
      val cursors = rows.map(_.getString(0))
      val bodies = rows.map(_.getString(1))
      val horizon = new java.util.concurrent.atomic.AtomicReference(
        "2024-01-20T00:00:00") // drain-1 horizon; lifted before drain 2
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/dataset/PowerSystemRightNow",
        (x: com.sun.net.httpserver.HttpExchange) => {
          val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
          val start = params.getOrElse("start", "")
          val offset = params.getOrElse("offset", "0").toLong
          val limit = params.getOrElse("limit", "1000000").toInt
          val hz = horizon.get
          val idx = cursors.indices.filter(i =>
            cursors(i) >= start && cursors(i) < hz)
          val total = idx.length
          val page = idx.slice(
            math.min(offset, total).toInt,
            math.min(offset + limit, total).toInt)
          val body = page.map(bodies)
            .mkString(s"""{"total": $total, "records": [""", ",", "]}")
            .getBytes("UTF-8")
          x.getResponseHeaders.add("Content-Type", "application/json")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body)
          x.close()
        })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
      server.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}" +
          "/dataset/PowerSystemRightNow"
        def drain(): Unit = {
          val q = s.readStream.format("graft.sources.FeedSource")
            .schema("event_id BIGINT, event_type STRING, " +
              "minutes1_utc STRING, value_us BIGINT")
            .option("endpoint", url)
            .option("cursorField", "minutes1_utc")
            .option("pageSize", "256")
            .option("maxPagesPerPoll", "4")
            .option("pollIntervalMs", "0")
            .load()
            .writeStream
            .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
              IdempotentSink.appendIfAbsent(s, df, sink, Seq("event_id"))
              ()
            })
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // drain 1: records below the horizon, in capped batches
        horizon.set("~") // '~' > any ISO timestamp: the feed "caught up"
        drain() // drain 2: resumes at the checkpointed record position
        IdempotentSink.read(s, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value_us")).as("value_sum_us"),
            min(col("minutes1_utc")).as("min_cursor"),
            max(col("minutes1_utc")).as("max_cursor"))
          .orderBy("event_type")
      } finally {
        server.stop(0)
        server.getExecutor
          .asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
      }
    }

  /** q292: the reference's bronze ingest LOOP over the LIVE transport
    * — q164's contract (poll → cursor from the sink's watermark →
    * PK-deduped staged append) with the feed read through real HTTP
    * GETs instead of a payload store: the loopback API serves records
    * up to a horizon on poll 1, everything on poll 2, and the second
    * poll's `start` param comes from `max(minutes1_utc)` of the
    * healed sink read (dlt's incremental-state contract, live). The
    * `>=` boundary re-read is absorbed by the event_id dedup exactly
    * as in q164, and the shared oracle certifies both transports
    * against one truth. Fixture server corpus is the q285 bounded
    * collect; the ingest path never collects.
    */
  private val feedHttpBronzeQ: Q = (s, dir) =>
    withScratch(s, "graft_q292_http") { scratch =>
      val sink = s"$scratch/bronze"
      val rowsDf = Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0 && col("ts").isNotNull)
        .select(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("c"),
          to_json(struct(col("event_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
            round(col("value") * 1e6).cast("long").as("value_us"))).as("j"))
      val rows = collectFixtureRows(rowsDf, "c", "j")
      val cursors = rows.map(_.getString(0))
      val bodies = rows.map(_.getString(1))
      val horizon = new java.util.concurrent.atomic.AtomicReference(
        "2024-01-20T00:00:00") // poll-1 horizon; lifted before poll 2
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/dataset/PowerSystemRightNow",
        (x: com.sun.net.httpserver.HttpExchange) => {
          val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
          val start = params.getOrElse("start", "")
          val offset = params.getOrElse("offset", "0").toLong
          val limit = params.getOrElse("limit", "1000000").toInt
          val hz = horizon.get
          val idx = cursors.indices.filter(i =>
            cursors(i) >= start && cursors(i) < hz)
          val total = idx.length
          val page = idx.slice(
            math.min(offset, total).toInt,
            math.min(offset + limit, total).toInt)
          val body = page.map(bodies)
            .mkString(s"""{"total": $total, "records": [""", ",", "]}")
            .getBytes("UTF-8")
          x.getResponseHeaders.add("Content-Type", "application/json")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body)
          x.close()
        })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
      server.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}" +
          "/dataset/PowerSystemRightNow"
        def ingest(): Unit = {
          val cursor =
            if (IdempotentSink.exists(s, sink))
              IdempotentSink.read(s, sink).agg(max("minutes1_utc")).head.getString(0)
            else null
          var rd = s.read.format("graft.sources.FeedSource")
            .schema("event_id BIGINT, event_type STRING, " +
              "minutes1_utc STRING, value_us BIGINT")
            .option("endpoint", url)
            .option("cursorField", "minutes1_utc")
            .option("pageSize", "256")
          if (cursor != null) rd = rd.option("startCursor", cursor)
          IdempotentSink.appendIfAbsent(s, rd.load(), sink, Seq("event_id"))
        }
        ingest() // poll 1: records below the horizon
        horizon.set("~") // '~' > any ISO timestamp: the feed "caught up"
        ingest() // poll 2: start = sink watermark, boundary re-read deduped
        IdempotentSink.read(s, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value_us")).as("value_sum_us"),
            min(col("minutes1_utc")).as("min_cursor"),
            max(col("minutes1_utc")).as("max_cursor"))
          .orderBy("event_type")
      } finally {
        server.stop(0)
        server.getExecutor
          .asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
      }
    }

  /** q290: perceptual-hash IMAGE near-dup — the multimodal twin of
    * SimHash-on-text, over REAL rasters: docs render to true 9×8
    * PNGs with a closed-form gray pattern, `Multimodal.dHash` decodes
    * the actual containers and emits 64 row-gradient bits as two
    * 32-bit words, candidate pairs come from a 4×16-bit BANDED
    * equi-join (never all-pairs — the q21/q22 discipline), and the
    * result is the pair histogram by Hamming distance ≤ 6. The oracle
    * replays raster→bits→words→bands→pairs closed-form, so a decode
    * that misreads even one pixel, a resize that blurs the thumbnail,
    * or a banding bug that loses candidates all flip the hash.
    * Hashes feed a self-join → localCheckpoint (the repo invariant).
    * Degenerate bands (> 64 members — boilerplate/duplicate floods,
    * the thing that turns a banded join quadratic at corpus scale)
    * are dropped via the broadcast-anti hot-bucket cap, the q21 LSH
    * discipline; the cap is inactive at the oracle SF and replayed
    * in the oracle regardless.
    */
  private val imagePhashQ: Q = (s, dir) =>
    Multimodal.dHashPairHistogram(
      Multimodal.dHash(
        Multimodal.withPatternedImagePayload(Tables.documents(s, dir)))
        .toDF())

  /** q326: the PERSISTED image-hash tier — dHash rows (doc_id, w0,
    * w1) land in a batch store as three micro-batch appends (the
    * decode cost is paid once per image, at ingest), compacted, then
    * the q290 banded-pair readout runs off the STORE: streamed ≡
    * one-shot, so it shares q290's oracle verbatim. This is the shape
    * a 100 TB image corpus actually wants — rasters decode once on
    * arrival, near-dup queries touch only the 2-word hash table.
    */
  private val imageHashStoreQ: Q = (s, dir) => {
    // batch-split BEFORE the payload synthesis: the encode is an
    // opaque mapPartitions, so a filter placed after it cannot push
    // below — each batch would encode the WHOLE corpus and keep a
    // third (3x the codec CPU for the same rows)
    val docs = Tables.documents(s, dir)
    withScratch(s, "graft_q326_ih") { scratch =>
      val store = scratch + "/imagehash"
      (0L until 3L).foreach { b =>
        StreamingPower.fingerprint.append(s, store, b)(StreamingPower
          .fingerprintRows(Multimodal.dHash(Multimodal.withPatternedImagePayload(
            docs.filter(col("doc_id") % 3 === b)))))
      }
      StreamingPower.fingerprint.compact(s, store)
      Multimodal.dHashPairHistogram(StreamingPower.fingerprint.read(s, store))
    }
  }

  /** q336: the PERSISTED audio-fingerprint tier — the acoustic twin
    * of q326: each clip's RIFF/PCM parse is paid ONCE, at ingest
    * (`Multimodal.audioFingerprint`), only the two 32-bit
    * energy-gradient words land in the batch store (three doc-disjoint
    * appends), compacted, then the banded Hamming pair readout runs
    * off the STORE — streamed ≡ one-shot, the q290 pair machinery
    * verbatim over audio words. The patterned WAV fixture
    * (`Multimodal.withPatternedAudioPayload`) keeps every window
    * energy closed-form, so DuckDB rebuilds the fingerprints bit by
    * bit and replays the histogram. At 100 TB this is the shape an
    * audio corpus wants: clips decode once on arrival, near-dup
    * queries touch only the 2-word fingerprint table.
    */
  private val audioFpStoreQ: Q = (s, dir) => {
    // batch-split BEFORE the payload synthesis (see q326): a filter
    // after the opaque encode re-synthesizes the whole corpus per batch
    val docs = Tables.documents(s, dir)
    withScratch(s, "graft_q336_afp") { scratch =>
      val store = scratch + "/audiofp"
      (0L until 3L).foreach { b =>
        StreamingPower.fingerprint.append(s, store, b)(StreamingPower
          .fingerprintRows(Multimodal.audioFingerprint(
            Multimodal.withPatternedAudioPayload(
              docs.filter(col("doc_id") % 3 === b)))))
      }
      StreamingPower.fingerprint.compact(s, store)
      Multimodal.dHashPairHistogram(StreamingPower.fingerprint.read(s, store))
    }
  }

  /** q339: the PERSISTED video-fingerprint tier — the temporal third
    * of the modality triple (q326 images, q336 audio): each clip's
    * frame sequence decodes ONCE at ingest
    * (`Multimodal.videoFingerprint` — every sampled frame's full
    * raster), only the two 32-bit temporal-signature words land in
    * the batch store (three doc-disjoint appends), compacted, then
    * the banded Hamming pair readout runs off the STORE — streamed ≡
    * one-shot, the q290 pair machinery verbatim over temporal words.
    * The patterned GIF fixture keeps every sampled luminance
    * closed-form (constant-gray frames through the exact indexed
    * palette), so DuckDB rebuilds the fingerprints bit by bit and
    * replays the histogram.
    */
  private val videoFpStoreQ: Q = (s, dir) => {
    // batch-split BEFORE the payload synthesis (see q326): a filter
    // after the opaque encode re-synthesizes the whole corpus per batch
    val docs = Tables.documents(s, dir)
    withScratch(s, "graft_q339_vfp") { scratch =>
      val store = scratch + "/videofp"
      (0L until 3L).foreach { b =>
        StreamingPower.fingerprint.append(s, store, b)(StreamingPower
          .fingerprintRows(Multimodal.videoFingerprint(
            Multimodal.withPatternedVideoPayload(
              docs.filter(col("doc_id") % 3 === b)))))
      }
      StreamingPower.fingerprint.compact(s, store)
      Multimodal.dHashPairHistogram(StreamingPower.fingerprint.read(s, store))
    }
  }

  /** q285: LIVE HTTP ingest end-to-end — the reference's actual
    * transport (`bronze_ingest.py:30-39`: GET with `start`/`sort`/
    * `offset` params, an Energinet `{"total", "records"}` envelope)
    * against a loopback JDK HttpServer serving records rendered from
    * the events table. The read exercises the full live path: the
    * `total` probe, paged partition planning (pageSize=256 ⇒ many
    * page partitions at every SF), executor-side GETs, the cursor
    * bound travelling as the `start` query param AND re-applied
    * reader-side, JSON parsing into the declared schema. The per-type
    * aggregate (exact-integer value sums, id and cursor extrema)
    * hash-matches DuckDB computing the same bound straight from the
    * parquet table — a lost page, a double-fetched page, or a dropped
    * boundary record flips the hash. The driver-side collect is the
    * SERVER'S corpus (fixture prep, bounded by the %20 filter — the
    * q163 payload-rendering pattern); the client path under test
    * never collects.
    */
  private val feedHttpQ: Q = (s, dir) => {
    val rowsDf = Tables.events(s, dir)
      .filter(col("event_id") % 20 === 0 && col("ts").isNotNull)
      .select(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
        to_json(struct(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
          round(col("value") * 1e6).cast("long").as("value_us"))).as("j"))
    // deterministic offset pages via the sort inside the bounded collect
    val rows = collectFixtureRows(rowsDf, "minutes1_utc", "j")
    val cursors = rows.map(_.getString(0))
    val bodies = rows.map(_.getString(1))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dataset/PowerSystemRightNow",
      (x: com.sun.net.httpserver.HttpExchange) => {
        val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val start = params.getOrElse("start", "")
        val offset = params.getOrElse("offset", "0").toLong
        val limit = params.getOrElse("limit", "1000000").toInt
        val from = cursors.indexWhere(_ >= start) match {
          case -1 => cursors.length
          case i => i // cursors sorted: suffix from i is the eligible set
        }
        val total = cursors.length - from
        val lo = from + math.min(offset, total).toInt
        val hi = from + math.min(offset + limit, total).toInt
        val body = bodies.slice(lo, hi)
          .mkString(s"""{"total": $total, "records": [""", ",", "]}")
          .getBytes("UTF-8")
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body)
        x.close()
      })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}" +
        "/dataset/PowerSystemRightNow"
      s.read.format("graft.sources.FeedSource")
        .schema("event_id BIGINT, event_type STRING, minutes1_utc STRING, " +
          "value_us BIGINT")
        .option("endpoint", url)
        .option("cursorField", "minutes1_utc")
        .option("startCursor", "2024-01-18T00:00:00")
        .option("pageSize", "256")
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_us")).as("value_sum_us"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          min(col("minutes1_utc")).as("min_cursor"),
          max(col("minutes1_utc")).as("max_cursor"))
        .orderBy("event_type")
        .localCheckpoint()
    } finally {
      server.stop(0)
      server.getExecutor
        .asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
    }
  }

  /** q164: the reference's bronze ingest loop END-TO-END through the
    * V2 feed source — two polls (payload drops rendered from the
    * events table; the second re-delivers everything past an overlap
    * point, the at-least-once delivery dlt's `primary_key` guards
    * against), each ingested as: read the feed past the sink's cursor
    * watermark → PK-deduped staged append (`IdempotentSink`, S7's
    * left-anti + append) → healed read. The final aggregate hash-
    * matches DuckDB reading the raw table directly, which certifies
    * cursor extraction, overlap dedup, and the store commit path in
    * ONE chain (S1+S2+S3+S7 composed, dlt-style): a broken dedup
    * double-counts the overlap window's exact-integer value sums and
    * the hash flips. Payload rendering is fixture prep (q163's
    * pattern); the ingest path itself is the production shape —
    * feed scan → anti-join on the healed store → append.
    */
  private val feedBronzeQ: Q = (s, dir) =>
    withScratch(s, "graft_q164_bronze") { scratch =>
      val feedDir = java.nio.file.Paths.get(scratch, "feed")
      java.nio.file.Files.createDirectories(feedDir)
      val sink = s"$scratch/bronze"
      val recs = Tables.events(s, dir).filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
          round(col("value") * 1e6).cast("long").as("value_us"))
      val cut = "2024-01-20T00:00:00" // poll-1 horizon
      val overlapFrom = "2024-01-15T00:00:00" // poll 2 re-delivers from here
      def drop(name: String, df: DataFrame): Unit = {
        val body = df
          .select(to_json(struct(col("event_id"), col("event_type"),
            col("minutes1_utc"), col("value_us"))).as("j"))
          .agg(concat(lit("{\"records\":["),
            concat_ws(",", collect_list(col("j"))), lit("]}")).as("b"))
          .head.getString(0)
        java.nio.file.Files.write(feedDir.resolve(name), body.getBytes("UTF-8"))
      }
      def ingest(): Unit = {
        val cursor =
          if (IdempotentSink.exists(s, sink))
            IdempotentSink.read(s, sink).agg(max("minutes1_utc")).head.getString(0)
          else null
        var rd = s.read.format("graft.sources.FeedSource")
          .schema("event_id BIGINT, event_type STRING, minutes1_utc STRING, " +
            "value_us BIGINT")
          .option("endpoint", feedDir.toString)
          .option("cursorField", "minutes1_utc")
        if (cursor != null) rd = rd.option("startCursor", cursor)
        // >= cursor re-reads the boundary second from already-ingested
        // drops — exactly the at-least-once window the PK dedup absorbs
        IdempotentSink.appendIfAbsent(s, rd.load(), sink, Seq("event_id"))
      }
      drop("drop-000.json", recs.filter(col("minutes1_utc") < cut))
      ingest()
      drop("drop-001.json", recs.filter(col("minutes1_utc") >= overlapFrom))
      ingest()
      IdempotentSink.read(s, sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_us")).as("value_sum_us"),
          min(col("minutes1_utc")).as("min_cursor"),
          max(col("minutes1_utc")).as("max_cursor"))
        .orderBy("event_type")
    }

  /** q279: ADDITIVE SCHEMA EVOLUTION through the whole bronze chain —
    * the dlt auto-evolve behavior (`bronze_ingest.py:39-43`) under the
    * explicit contract (`IdempotentSink.checkEvolution`): poll 1's
    * payload carries 4 fields and lands as generation 0; the API then
    * ADDS a `quality` field, so poll 2's payload (re-delivering an
    * overlap window) carries 5, and its cursor-bounded, PK-deduped
    * append lands as generation 1 with the extra column. The healed
    * merged read unions the schemas — pre-evolution rows surface
    * quality = NULL — and the final per-type aggregate (exact-integer
    * value/quality sums, non-null quality counts) hash-matches DuckDB
    * replaying the evolution boundary straight from the events table:
    * a reader that dropped the late column, backfilled wrongly, or
    * double-ingested the overlap flips the hash. Feed inference is
    * exercised too: the poll-2 read derives its 5-field schema from
    * the MIXED payload store (union across payloads), not from a
    * caller-supplied schema.
    */
  private val schemaEvolutionQ: Q = (s, dir) =>
    withScratch(s, "graft_q279_evo") { scratch =>
      val feedDir = java.nio.file.Paths.get(scratch, "feed")
      java.nio.file.Files.createDirectories(feedDir)
      val sink = s"$scratch/bronze"
      val recs = Tables.events(s, dir).filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("minutes1_utc"),
          round(col("value") * 1e6).cast("long").as("value_us"))
      val cut = "2024-01-20T00:00:00" // poll-1 horizon == evolution point
      val overlapFrom = "2024-01-15T00:00:00" // poll 2 re-delivers from here
      def drop(name: String, df: DataFrame, cols: Seq[String]): Unit = {
        val body = df
          .select(to_json(struct(cols.map(col): _*)).as("j"))
          .agg(concat(lit("{\"records\":["),
            concat_ws(",", collect_list(col("j"))), lit("]}")).as("b"))
          .head.getString(0)
        java.nio.file.Files.write(feedDir.resolve(name), body.getBytes("UTF-8"))
      }
      def ingest(): Unit = {
        val cursor =
          if (IdempotentSink.exists(s, sink))
            IdempotentSink.read(s, sink).agg(max("minutes1_utc")).head.getString(0)
          else null
        // schema INFERRED from the mixed payload store (the additive
        // union), not caller-supplied — the evolution surface under test
        var rd = s.read.format("graft.sources.FeedSource")
          .option("endpoint", feedDir.toString)
          .option("cursorField", "minutes1_utc")
        if (cursor != null) rd = rd.option("startCursor", cursor)
        IdempotentSink.appendIfAbsent(s, rd.load(), sink, Seq("event_id"))
      }
      val base = Seq("event_id", "event_type", "minutes1_utc", "value_us")
      drop("drop-000.json", recs.filter(col("minutes1_utc") < cut), base)
      ingest()
      drop("drop-001.json",
        recs.filter(col("minutes1_utc") >= overlapFrom)
          .withColumn("quality", pmod(col("event_id"), lit(5L))),
        base :+ "quality")
      ingest()
      IdempotentSink.read(s, sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_us")).as("value_sum_us"),
          count(col("quality")).as("n_quality"),
          coalesce(sum(col("quality")), lit(0L)).as("quality_sum"),
          min(col("minutes1_utc")).as("min_cursor"),
          max(col("minutes1_utc")).as("max_cursor"))
        .orderBy("event_type")
    }

  /** q280: grouped quantiles with NO pre-declared bin edges — the
    * mergeable bottom-k (KMV-style) quantile sketch
    * (`Sketches.sampledGroupQuantiles`): per event type, the k = 256
    * smallest-md5-hash rows form a uniform sample and the quantile is
    * read off its ranked values. The entire sketch chain — hash
    * sampling, salted two-stage trim, rank readout — hash-matches
    * DuckDB replaying the same closed-form membership; the rank-error
    * bound (3σ ≈ 9% of n at this k) is asserted against exact
    * percentiles in QuantileSketchSpec.
    */
  private val quantileSketchQ: Q = (s, dir) =>
    Sketches.sampledGroupQuantiles(Tables.events(s, dir), "event_type",
      "event_id", "value", k = 256)

  /** q281: the STREAMED form of q280 — three key-overlapping
    * micro-batch appends of per-batch bottom-k samples (batch 1
    * re-delivers a third of batch 0: the (group, h) dedup inside the
    * merge absorbs it where a naive union would skew the sample),
    * compacted through the store's bottom-k fold, read out through the same
    * ranked readout. Shares q280's oracle verbatim: streamed must
    * equal one-shot, which is exactly the bottom-k merge identity.
    */
  private val quantileStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q281_qtile") { scratch =>
      val store = scratch + "/qtile"
      val sample = StreamingPower.quantile(256)
      Seq(col("event_id") % 3 === 0, col("event_id") % 3 <= 1,
          col("event_id") % 3 === 2).zipWithIndex.foreach { case (slice, b) =>
        sample.append(s, store, b)(Sketches.quantileSample(ev.filter(slice),
          "event_type", "event_id", "value", k = 256))
      }
      sample.compact(s, store)
      Sketches.quantilesFromSample(sample.read(s, store))
    }
  }

  /** q181: streaming HLL distinct-count store — the documents table
    * split into three OVERLAPPING micro-batch appends (batch 1
    * re-delivers a third of batch 0: per-register MAX union is
    * idempotent where the sum-based stores would double-count),
    * compacted, read out through the q47 closed form.
    */
  private val hllStoreQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    withScratch(s, "graft_q181_hll") { scratch =>
      val store = scratch + "/hll"
      Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 <= 1,
          col("doc_id") % 3 === 2).zipWithIndex.foreach { case (slice, b) =>
        StreamingPower.hll.append(s, store, b)(
          Sketches.hllRegisters(docs.filter(slice), col("text")))
      }
      StreamingPower.hll.compact(s, store)
      Sketches.hllEstimateFromRegisters(StreamingPower.hll.read(s, store))
    }
  }

  /** q211: signup→click→purchase conversion funnel, first-touch
    * ordering (each stage's event at or after the user's previous
    * stage time).
    */
  private val eventFunnelQ: Q = (s, dir) =>
    Sessions.eventFunnel(Tables.events(s, dir), "user_id", "ts",
      "event_type", Seq("signup", "click", "purchase"))

  /** q212: first-order event-type transition matrix under the
    * deterministic (ts, event_id) order; probabilities one exact
    * division per prev type.
    */
  private val transitionsQ: Q = (s, dir) =>
    Sessions.eventTransitions(Tables.events(s, dir), "user_id", "ts",
      "event_id", "event_type")

  /** q216: streaming PSI drift-monitor store — the events split into
    * three micro-batch appends of per-bin counts, compacted, rendered
    * through the SAME smoothed index as q213 (whose oracle this
    * shares verbatim: streamed must equal one-shot).
    */
  private val psiStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    withScratch(s, "graft_q216_psi") { scratch =>
      val store = scratch + "/psi"
      (0L until 3L).foreach { b =>
        StreamingPower.psi.append(s, store, b)(StatTests.psiBinCounts(
          ev.filter(col("event_id") % 3 === b), "value", "event_type",
          "click", "view", lo = 0.0, hi = 500.0, bins = 10))
      }
      StreamingPower.psi.compact(s, store)
      StatTests.psiFromCounts(StreamingPower.psi.read(s, store), bins = 10)
    }
  }

  /** q324: store-fed Wasserstein-1 drift — the SAME mergeable
    * (bin, ca, cb) rows a q216-style PSI monitor store persists,
    * written as three micro-batch appends at q322's grid, compacted,
    * then read through the W₁ readout (`StatTests.wasserstein1FromBins`):
    * streamed ≡ one-shot, so it shares q322's oracle verbatim. One
    * persisted store now serves both the per-bin (PSI) and the
    * metric-aware (W₁) drift readings.
    */
  private val wassersteinStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    withScratch(s, "graft_q324_w1") { scratch =>
      val store = scratch + "/w1"
      (0L until 3L).foreach { b =>
        StreamingPower.psi.append(s, store, b)(StatTests.psiBinCounts(
          ev.filter(col("event_id") % 3 === b), "value", "event_type",
          "click", "view", lo = 0.0, hi = 320.0, bins = 32))
      }
      StreamingPower.psi.compact(s, store)
      StatTests.wasserstein1FromBins(StreamingPower.psi.read(s, store),
        lo = 0.0, hi = 320.0, bins = 32)
    }
  }

  /** q280's oracle — the full bottom-k quantile-sketch chain; shared
    * verbatim by q281 (streamed must equal one-shot by the bottom-k
    * merge identity).
    */
  private lazy val oracleSqlQuantile: String = {
    val h = md5l("CAST(event_id AS VARCHAR)")
    s"""WITH hh AS (SELECT event_type AS grp, $h AS h,
      |    CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL),
      |s AS (SELECT grp, h, v,
      |    row_number() OVER (PARTITION BY grp ORDER BY h, v) AS rn
      |  FROM hh),
      |kk AS (SELECT grp, h, v FROM s WHERE rn <= 256),
      |r AS (SELECT grp, h, v,
      |    row_number() OVER (PARTITION BY grp ORDER BY v, h) AS vr
      |  FROM kk),
      |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS sample_n
      |  FROM kk GROUP BY 1),
      |t AS (SELECT grp, sample_n, q AS percentile,
      |    greatest(CAST(ceil(q * sample_n) AS BIGINT), 1) AS target
      |  FROM m, (SELECT unnest([0.1e0, 0.5e0, 0.9e0, 0.99e0]) AS q) qs)
      |SELECT t.grp AS "group", t.percentile,
      |  round(r.v, 6) AS value_est, t.sample_n
      |FROM t JOIN r ON r.grp = t.grp AND r.vr = t.target
      |ORDER BY 1, 2""".stripMargin
  }

  /** q245's oracle — native-integer OLS over folded daily counts;
    * shared verbatim by q247 (streamed must equal one-shot).
    */
  private lazy val oracleSqlTrend: String =
    """WITH dd AS (SELECT event_type AS "group",
      |    epoch_us(date_trunc('day', ts))//1000000//86400 AS d
      |  FROM events),
      |c AS (SELECT "group", d, CAST(count(*) AS BIGINT) AS c
      |  FROM dd GROUP BY 1, 2),
      |a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(d) AS BIGINT) AS sd,
      |    CAST(SUM(c * d) AS BIGINT) AS sdc,
      |    CAST(SUM(d * d) AS BIGINT) AS sdd
      |  FROM c GROUP BY 1)
      |SELECT "group", n_days, n_events,
      |  ROUND(CAST(n_events AS DOUBLE) / n_days, 6) AS mean_per_day,
      |  CASE WHEN CAST(n_days AS DOUBLE) * CAST(sdd AS DOUBLE)
      |      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) > 0e0 THEN
      |    ROUND((CAST(n_days AS DOUBLE) * CAST(sdc AS DOUBLE)
      |      - CAST(sd AS DOUBLE) * CAST(n_events AS DOUBLE))
      |      / (CAST(n_days AS DOUBLE) * CAST(sdd AS DOUBLE)
      |        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)), 6)
      |  END AS slope_per_day
      |FROM a ORDER BY "group"""".stripMargin

  /** q226's oracle — the recurrence as a recursive CTE; shared
    * verbatim by q234 (streamed must equal one-shot).
    */
  private lazy val ewmaOracle: String =
    """WITH RECURSIVE q AS (SELECT user_id,
      |    epoch_us(ts)//1000000 AS ts_sec,
      |    CAST(round(value * 1000000, 0) AS BIGINT) AS v
      |  FROM events WHERE user_id < 50),
      |o AS (SELECT user_id, ts_sec, v, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_sec, v) AS i FROM q),
      |e AS (
      |  SELECT user_id, ts_sec, v, i, v AS s FROM o WHERE i = 1
      |  UNION ALL
      |  SELECT o.user_id, o.ts_sec, o.v, o.i,
      |    (300000 * o.v + 700000 * e.s
      |      - (((300000 * o.v + 700000 * e.s) % 1000000 + 1000000)
      |        % 1000000)) // 1000000
      |  FROM o JOIN e ON o.user_id = e.user_id AND o.i = e.i + 1)
      |SELECT user_id, CAST(i AS BIGINT) AS step, ts_sec, v AS v_micro,
      |  s AS s_micro, ROUND(s / 1000000e0, 6) AS ewma
      |FROM e ORDER BY user_id, step""".stripMargin

  /** q276's oracle: the 7 lags unrolled (DuckDB lead needs a constant
    * offset); deviations exact, one division per lag, + 0e0 on the
    * signed acf.
    */
  private lazy val acfOracle: String = {
    val lags = (1 to 7).map { k =>
      s"""SELECT "group", CAST($k AS INTEGER) AS lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(devn * nx) AS BIGINT) AS num
        |  FROM (SELECT "group", devn, lead(devn, $k) OVER (
        |      PARTITION BY "group" ORDER BY d) AS nx FROM dv)
        |  WHERE nx IS NOT NULL GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dd AS (SELECT event_type AS "group",
      |    epoch_us(date_trunc('day', ts))//1000000//86400 AS d
      |  FROM events),
      |c AS (SELECT "group", d, CAST(count(*) AS BIGINT) AS c
      |  FROM dd GROUP BY 1, 2),
      |t AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(c) AS BIGINT) AS sx FROM c GROUP BY 1),
      |dv AS MATERIALIZED (SELECT c."group", c.d, t.n * c.c - t.sx
      |    AS devn
      |  FROM c JOIN t ON t."group" = c."group"),
      |den AS (SELECT "group", CAST(SUM(devn * devn) AS BIGINT)
      |    AS dn FROM dv GROUP BY 1),
      |ag AS (
      |$lags)
      |SELECT ag."group", ag.lag, ag.n_pairs,
      |  CASE WHEN den.dn > 0 THEN
      |    ROUND(CAST(ag.num AS DOUBLE) / CAST(den.dn AS DOUBLE), 6)
      |      + 0e0
      |  END AS acf
      |FROM ag JOIN den ON den."group" = ag."group"
      |ORDER BY ag."group", ag.lag""".stripMargin
  }

  /** q256/q264's shared oracle: the CUSUM scan over per-type daily
    * counts (q264's streamed store must fold to the identical frame).
    */
  private lazy val cusumOracle: String =
    """WITH dd AS (SELECT event_type AS "group",
      |    epoch_us(date_trunc('day', ts))//1000000//86400 AS d
      |  FROM events),
      |c AS (SELECT "group", d, CAST(count(*) AS BIGINT) AS cnt
      |  FROM dd GROUP BY 1, 2),
      |t AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY 1),
      |cu AS (SELECT "group", d, cnt,
      |    CAST(row_number() OVER (PARTITION BY "group" ORDER BY d)
      |      AS BIGINT) AS i,
      |    CAST(SUM(cnt) OVER (PARTITION BY "group" ORDER BY d
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
      |dev AS (SELECT cu."group", d, cnt,
      |    n * cum - i * total AS devn, n
      |  FROM cu JOIN t ON t."group" = cu."group"),
      |mx AS (SELECT "group", CAST(MAX(abs(devn)) AS BIGINT) AS mabs
      |  FROM dev GROUP BY 1)
      |SELECT dev."group", d, cnt,
      |  ROUND(CAST(devn AS DOUBLE) / n, 6) AS cusum,
      |  CAST(abs(devn) = mabs AS INTEGER) AS is_peak
      |FROM dev JOIN mx ON mx."group" = dev."group"
      |ORDER BY 1, 2""".stripMargin

  /** q263's oracle — the coupled Holt recurrence as a recursive CTE;
    * b's step needs the SAME step's l, so l's floor expression is
    * inlined (the operator does the identical inlining). Floors via
    * subtract-pmod-then-`//` exactly as q226.
    */
  /** q258/q274's shared oracle: the seasonal decomposition over the
    * dense hourly grid (q274's streamed store must fold to the
    * identical frame).
    */
  private lazy val seasonalOracle: String =
    """WITH obs AS (SELECT epoch_us(ts)//1000000//3600*3600 AS b,
      |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
      |bounds AS (SELECT min(b) AS bmin, max(b) AS bmax FROM obs),
      |grid AS (SELECT gs.b FROM bounds,
      |  LATERAL (SELECT unnest(generate_series(bmin, bmax, 3600)) AS b) gs),
      |dense AS (SELECT g.b, CAST(coalesce(o.cnt, 0) AS BIGINT) AS cnt
      |  FROM grid g LEFT JOIN obs o ON o.b = g.b),
      |w AS (SELECT b, cnt,
      |    CAST(count(*) OVER win AS BIGINT) AS wn,
      |    CAST(SUM(cnt) OVER win AS BIGINT) AS wsum,
      |    CAST((b // 3600) % 24 AS INTEGER) AS phase
      |  FROM dense WINDOW win AS (ORDER BY b
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |t AS (SELECT b, cnt, phase,
      |    CASE WHEN wn = 25 THEN wsum END AS wsum,
      |    CASE WHEN wn = 25 THEN 25 * cnt - wsum END AS detr FROM w),
      |seas AS (SELECT phase, CAST(SUM(detr) AS BIGINT) AS snum,
      |    CAST(count(*) AS BIGINT) AS scnt
      |  FROM t WHERE detr IS NOT NULL GROUP BY 1)
      |SELECT t.b AS bucket_sec, t.phase, t.cnt,
      |  ROUND(CAST(t.wsum AS DOUBLE) / 25e0, 6) AS trend,
      |  ROUND(CAST(s.snum AS DOUBLE)
      |    / CAST(25 * s.scnt AS DOUBLE), 6) + 0e0 AS seasonal,
      |  ROUND(CAST(t.cnt AS DOUBLE) - CAST(t.wsum AS DOUBLE) / 25e0
      |    - CAST(s.snum AS DOUBLE) / CAST(25 * s.scnt AS DOUBLE), 6)
      |    + 0e0 AS residual,
      |  CASE WHEN t.wsum IS NOT NULL AND s.snum IS NOT NULL THEN
      |    CAST(abs(CAST(t.cnt AS DOUBLE) - CAST(t.wsum AS DOUBLE) / 25e0
      |      - CAST(s.snum AS DOUBLE) / CAST(25 * s.scnt AS DOUBLE))
      |      > 3e0 * sqrt(CAST(t.wsum AS DOUBLE) / 25e0) AS INTEGER)
      |  END AS is_anomaly
      |FROM t LEFT JOIN seas s ON s.phase = t.phase
      |ORDER BY bucket_sec""".stripMargin

  private lazy val holtCtes: String = {
    val lx = """(300000 * o.v + 700000 * (e.l + e.b)
      |      - (((300000 * o.v + 700000 * (e.l + e.b)) % 1000000
      |        + 1000000) % 1000000)) // 1000000""".stripMargin
    val braw = s"""100000 * ($lx - e.l) + 900000 * e.b"""
    s"""RECURSIVE q AS (SELECT user_id,
      |    epoch_us(ts)//1000000 AS ts_sec,
      |    CAST(round(value * 1000000, 0) AS BIGINT) AS v
      |  FROM events WHERE user_id < 50),
      |o AS (SELECT user_id, ts_sec, v, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_sec, v) AS i FROM q),
      |e AS (
      |  SELECT user_id, ts_sec, v, i, v AS l, CAST(0 AS BIGINT) AS b
      |  FROM o WHERE i = 1
      |  UNION ALL
      |  SELECT o.user_id, o.ts_sec, o.v, o.i,
      |    $lx AS l,
      |    ($braw - ((($braw) % 1000000 + 1000000) % 1000000))
      |      // 1000000 AS b
      |  FROM o JOIN e ON o.user_id = e.user_id AND o.i = e.i + 1)"""
      .stripMargin
  }

  private lazy val holtOracle: String =
    s"""WITH $holtCtes
      |SELECT user_id, CAST(i AS BIGINT) AS step, ts_sec, v AS v_micro,
      |  l AS l_micro, b AS b_micro,
      |  ROUND(l / 1000000e0, 6) AS level,
      |  ROUND(b / 1000000e0, 6) AS trend,
      |  ROUND((l + b) / 1000000e0, 6) AS forecast
      |FROM e ORDER BY user_id, step""".stripMargin

  /** q265's oracle: the holt chain, one lag, exact micro-long error
    * sums, one division per MAE, exact-rational skill.
    */
  private lazy val forecastSkillOracle: String =
    s"""WITH $holtCtes,
      |lagd AS (SELECT user_id, v,
      |    lag(l + b) OVER (PARTITION BY user_id ORDER BY i) AS fp,
      |    lag(v) OVER (PARTITION BY user_id ORDER BY i) AS vp
      |  FROM e),
      |err AS (SELECT user_id, abs(v - fp) AS ae, abs(v - vp) AS an
      |  FROM lagd WHERE fp IS NOT NULL),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
      |    CAST(SUM(ae) AS BIGINT) AS sae, CAST(SUM(an) AS BIGINT) AS san
      |  FROM err GROUP BY 1)
      |SELECT user_id, n_eval,
      |  ROUND(CAST(sae AS DOUBLE)
      |    / CAST(n_eval * 1000000 AS DOUBLE), 6) AS mae_holt,
      |  ROUND(CAST(san AS DOUBLE)
      |    / CAST(n_eval * 1000000 AS DOUBLE), 6) AS mae_naive,
      |  CASE WHEN san > 0 THEN
      |    ROUND(CAST(sae AS DOUBLE) / CAST(san AS DOUBLE), 6)
      |  END AS skill
      |FROM a ORDER BY user_id""".stripMargin

  /** The q241/q242 shared user-metric CTE (md5 arms, whole-unit sums). */
  private lazy val userMetricCte: String =
    s"""um AS (SELECT u.user_id,
      |    CASE WHEN ${md5l("CAST(u.user_id AS VARCHAR)")} % 2 = 0
      |      THEN 'A' ELSE 'B' END AS arm,
      |    coalesce(p.x, 0) AS x, coalesce(q.y, 0) AS y
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  LEFT JOIN (SELECT user_id,
      |      CAST(SUM(CAST(round(value, 0) AS BIGINT)) AS BIGINT) AS x
      |    FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1) p
      |    USING (user_id)
      |  LEFT JOIN (SELECT user_id,
      |      CAST(SUM(CAST(round(value, 0) AS BIGINT)) AS BIGINT) AS y
      |    FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1) q
      |    USING (user_id))""".stripMargin

  /** q290/q326 shared oracle: the 9x8 fixture raster is closed-form,
    * so DuckDB rebuilds the dHash words bit by bit (Σ bit·2^b over
    * 32-bit halves), bands them identically, and replays the pair
    * histogram; the Spark side must reach the same words THROUGH the
    * real PNG encode+decode (inline for q290, decode-at-ingest via
    * the persisted store for q326).
    */
  private lazy val oracleSqlQ290: String =
    """WITH d AS (SELECT doc_id,
      |    (doc_id % 16) * 31 + doc_id % 7 AS a FROM documents),
      |g AS (SELECT doc_id, gr.r * 8 + gc.c AS b,
      |    CASE WHEN (a + 7 * (gc.c + 1) + 13 * gr.r) % 256
      |            > (a + 7 * gc.c + 13 * gr.r) % 256
      |      THEN 1 ELSE 0 END AS bit
      |  FROM d,
      |    LATERAL (SELECT unnest(generate_series(0, 7)) AS r) gr,
      |    LATERAL (SELECT unnest(generate_series(0, 7)) AS c) gc),
      |h AS MATERIALIZED (SELECT doc_id,
      |    CAST(SUM(CASE WHEN b < 32 THEN bit * (1::BIGINT << b)
      |      ELSE 0 END) AS BIGINT) AS w0,
      |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32))
      |      ELSE 0 END) AS BIGINT) AS w1
      |  FROM g GROUP BY 1),
      |banded AS MATERIALIZED (SELECT doc_id, gs.k,
      |    CASE gs.k WHEN 0 THEN w0 & 65535 WHEN 1 THEN (w0 >> 16) & 65535
      |              WHEN 2 THEN w1 & 65535 ELSE (w1 >> 16) & 65535
      |    END AS band
      |  FROM h, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) gs),
      |bands AS MATERIALIZED (SELECT bd.* FROM banded bd
      |  LEFT JOIN (SELECT k, band FROM banded
      |             GROUP BY 1, 2 HAVING count(*) > 64) hot
      |    ON hot.k = bd.k AND hot.band = bd.band
      |  WHERE hot.k IS NULL),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id),
      |p AS (SELECT CAST(bit_count(xor(ha.w0, hb.w0))
      |      + bit_count(xor(ha.w1, hb.w1)) AS INTEGER) AS hamming
      |  FROM cand JOIN h ha ON ha.doc_id = cand.id_a
      |            JOIN h hb ON hb.doc_id = cand.id_b)
      |SELECT hamming, count(*) AS n_pairs
      |FROM p WHERE hamming <= 6 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q336 oracle: the patterned WAV waveform is closed-form
    * (`s(i) = ((A·37 + i·131) % 4001) − 2000` over
    * `n = 64 + 3A % 192` frames, `A = (doc_id % 16)·31 + doc_id % 7`),
    * so DuckDB rebuilds each clip's 33 window energies and DC sums
    * exactly (window of frame i = ⌊i·33/n⌋, both engines truncating
    * positive ints), packs the 32 gradient bits per word
    * (Σ bit·2^j — the q290 packing), and replays the band / hot-cap /
    * candidate / Hamming-histogram chain verbatim; the Spark side must
    * reach the same words THROUGH the real WAV synth + RIFF parse and
    * the persisted store fold.
    */
  private lazy val oracleSqlQ336: String =
    """WITH d AS (SELECT doc_id,
      |    (doc_id % 16) * 31 + doc_id % 7 AS a FROM documents),
      |p AS (SELECT doc_id, a, 64 + (a * 3) % 192 AS n FROM d),
      |s AS (SELECT doc_id, n, gs.i,
      |    ((a * 37 + gs.i * 131) % 4001) - 2000 AS v
      |  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) gs),
      |w AS (SELECT doc_id, (i * 33) // n AS j,
      |    CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS e,
      |    CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS aa
      |  FROM s GROUP BY 1, 2),
      |b AS (SELECT doc_id, j,
      |    CASE WHEN lead(e) OVER (PARTITION BY doc_id ORDER BY j) > e
      |      THEN 1 ELSE 0 END AS be,
      |    CASE WHEN lead(aa) OVER (PARTITION BY doc_id ORDER BY j) > aa
      |      THEN 1 ELSE 0 END AS ba
      |  FROM w),
      |h AS MATERIALIZED (SELECT doc_id,
      |    CAST(SUM(be * (1::BIGINT << j)) AS BIGINT) AS w0,
      |    CAST(SUM(ba * (1::BIGINT << j)) AS BIGINT) AS w1
      |  FROM b WHERE j < 32 GROUP BY 1),
      |banded AS MATERIALIZED (SELECT doc_id, gs.k,
      |    CASE gs.k WHEN 0 THEN w0 & 65535 WHEN 1 THEN (w0 >> 16) & 65535
      |              WHEN 2 THEN w1 & 65535 ELSE (w1 >> 16) & 65535
      |    END AS band
      |  FROM h, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) gs),
      |bands AS MATERIALIZED (SELECT bd.* FROM banded bd
      |  LEFT JOIN (SELECT k, band FROM banded
      |             GROUP BY 1, 2 HAVING count(*) > 64) hot
      |    ON hot.k = bd.k AND hot.band = bd.band
      |  WHERE hot.k IS NULL),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id),
      |pr AS (SELECT CAST(bit_count(xor(ha.w0, hb.w0))
      |      + bit_count(xor(ha.w1, hb.w1)) AS INTEGER) AS hamming
      |  FROM cand JOIN h ha ON ha.doc_id = cand.id_a
      |            JOIN h hb ON hb.doc_id = cand.id_b)
      |SELECT hamming, count(*) AS n_pairs
      |FROM pr WHERE hamming <= 6 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q339 oracle: the patterned GIF's sampled luminances are
    * closed-form (constant-gray frames, exact indexed palette —
    * average luminance = the planted gray; sample position j reads
    * frame ⌊j·nf/33⌋, both engines truncating positive ints), so
    * DuckDB rebuilds the temporal gradient word and the 8-level
    * quantization word exactly and replays the q336/q290 band /
    * hot-cap / candidate / Hamming-histogram chain verbatim; the
    * Spark side must reach the same words THROUGH the real GIF
    * synthesis + frame-sequence decode and the persisted store fold.
    */
  private lazy val oracleSqlQ339: String =
    """WITH d AS (SELECT doc_id,
      |    (doc_id % 16) * 31 + doc_id % 7 AS a FROM documents),
      |p AS (SELECT doc_id, a, 2 + a % 5 AS nf FROM d),
      |s AS (SELECT doc_id, gs.j,
      |    (a * 31 + ((gs.j * nf) // 33) * 17) % 256 AS lum
      |  FROM p, LATERAL (SELECT unnest(generate_series(0, 32)) AS j) gs),
      |b AS (SELECT doc_id, j,
      |    CASE WHEN lead(lum) OVER (PARTITION BY doc_id ORDER BY j) > lum
      |      THEN 1 ELSE 0 END AS bg,
      |    (lum // 32) % 2 AS bl
      |  FROM s),
      |h AS MATERIALIZED (SELECT doc_id,
      |    CAST(SUM(bg * (1::BIGINT << j)) AS BIGINT) AS w0,
      |    CAST(SUM(bl * (1::BIGINT << j)) AS BIGINT) AS w1
      |  FROM b WHERE j < 32 GROUP BY 1),
      |banded AS MATERIALIZED (SELECT doc_id, gs.k,
      |    CASE gs.k WHEN 0 THEN w0 & 65535 WHEN 1 THEN (w0 >> 16) & 65535
      |              WHEN 2 THEN w1 & 65535 ELSE (w1 >> 16) & 65535
      |    END AS band
      |  FROM h, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) gs),
      |bands AS MATERIALIZED (SELECT bd.* FROM banded bd
      |  LEFT JOIN (SELECT k, band FROM banded
      |             GROUP BY 1, 2 HAVING count(*) > 64) hot
      |    ON hot.k = bd.k AND hot.band = bd.band
      |  WHERE hot.k IS NULL),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id),
      |pr AS (SELECT CAST(bit_count(xor(ha.w0, hb.w0))
      |      + bit_count(xor(ha.w1, hb.w1)) AS INTEGER) AS hamming
      |  FROM cand JOIN h ha ON ha.doc_id = cand.id_a
      |            JOIN h hb ON hb.doc_id = cand.id_b)
      |SELECT hamming, count(*) AS n_pairs
      |FROM pr WHERE hamming <= 6 GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q336_audio_fp_store", audioFpStoreQ, oracleSqlQ336),
    Query("q339_video_fp_store", videoFpStoreQ, oracleSqlQ339),
    Query("q234_ewma_store", ewmaStoreQ, ewmaOracle),
    // q247: mergeable daily counts fold exactly -> streamed must
    // equal the one-shot q245 trend verbatim.
    Query("q247_trend_store", trendStoreQ, oracleSqlTrend),
    // q253: recency/frequency/monetary all exact integers; ntile ties
    // pinned by user id; 5 = best on every axis.
    Query("q253_rfm", rfmQ,
      """WITH per AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE),
        |      DATE '2024-01-31') AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(round(value, 0) AS BIGINT)) AS BIGINT)
        |      AS monetary
        |  FROM events GROUP BY 1),
        |sc AS (SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id)
        |      AS INTEGER) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, user_id)
        |      AS INTEGER) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary, user_id)
        |      AS INTEGER) AS m_score
        |  FROM per)
        |SELECT user_id, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
        |    CAST(m_score AS VARCHAR)) AS segment
        |FROM sc ORDER BY user_id""".stripMargin),
    // q243: per-arm GOF term (o·k − N)²/(N·k) nano-floored over exact
    // counts.
    Query("q243_srm", srmQ,
      s"""WITH $userMetricCte,
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS o FROM um GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k FROM a),
        |s AS (SELECT n, k, CAST(floor(
        |    (CAST(o * k - n AS DOUBLE) * CAST(o * k - n AS DOUBLE)
        |      / CAST(n * k AS DOUBLE)) * 1000000000e0 + 0.5e0) AS BIGINT)
        |    AS tn
        |  FROM a CROSS JOIN t)
        |SELECT n AS n_items, k AS n_arms, k - 1 AS dof,
        |  ROUND(CAST(SUM(tn) AS BIGINT) / 1000000000e0, 6) AS chi2
        |FROM s GROUP BY 1, 2, 3""".stripMargin),
    // q244: two leads off one per-user window, exact path counts,
    // top-20 on (n DESC, path).
    Query("q244_event_paths", pathsQ,
      """WITH s AS (SELECT event_type,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT concat(event_type, '>', t1, '>', t2) AS path,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE t1 IS NOT NULL AND t2 IS NOT NULL GROUP BY 1),
        |r AS (SELECT path, n,
        |    row_number() OVER (ORDER BY n DESC, path) AS rank FROM p)
        |SELECT CAST(rank AS INTEGER) AS rank, path, n
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // q245: epoch-day indexes and counts are native integers — the
    // OLS sums are exact with no quantization at all. Shared verbatim
    // by q247 (streamed must equal one-shot).
    Query("q245_volume_trend", volumeTrendQ, oracleSqlTrend),
    // q256: the CUSUM numerator n·cum − t·total is an exact long; the
    // single division and the integer peak compare keep both engines
    // bit-identical (|devn| ≥ 1 ⇒ |cusum| ≥ 1/n, so no -0.0 rounding).
    Query("q256_cusum", cusumQ, cusumOracle),
    // q264: the streamed store folds the same exact daily counts —
    // streamed must equal one-shot, so q256's oracle verbatim.
    Query("q264_cusum_store", cusumStoreQ, cusumOracle),
    // q258: dense zero-filled hourly grid; detrended values stay the
    // exact integer 25·x − Σwindow; trend/seasonal/residual divide
    // once in mirrored expressions; + 0e0 normalizes round()'s -0.0
    // on the two signed outputs (the q148 rule).
    Query("q258_seasonal", seasonalQ, seasonalOracle),
    // q274: the streamed store folds the same exact hourly counts —
    // streamed must equal one-shot, so q258's oracle verbatim.
    Query("q274_seasonal_store", seasonalStoreQ, seasonalOracle),
    // q241: pooled theta/rho2 from exact sums, per-arm adjustment one
    // float expression.
    Query("q241_cuped", cupedQ,
      s"""WITH $userMetricCte,
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy FROM um),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
        |  FROM um GROUP BY 1),
        |c AS (SELECT a.arm, a.n_users, a.sxa, a.sya, t.n, t.sx,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv
        |  FROM a CROSS JOIN t),
        |th AS (SELECT *,
        |    CASE WHEN dx > 0e0 THEN cv / dx ELSE 0e0 END AS theta,
        |    CASE WHEN dx > 0e0 AND dy > 0e0 THEN cv * cv / (dx * dy)
        |      ELSE 0e0 END AS rho2 FROM c)
        |SELECT arm, n_users,
        |  ROUND(CAST(sya AS DOUBLE) / n_users, 6) AS mean_y,
        |  ROUND((CAST(sya AS DOUBLE) - theta * (CAST(sxa AS DOUBLE)
        |    - CAST(n_users AS DOUBLE)
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
        |    / n_users, 6) AS adj_mean_y,
        |  ROUND(theta, 6) AS theta, ROUND(rho2, 6) AS rho2
        |FROM th ORDER BY arm""".stripMargin),
    // q242: pooled sample variance exact; the z constant is one
    // parsed literal on both engines.
    Query("q242_mde", mdeQ,
      s"""WITH $userMetricCte,
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy FROM um),
        |ma AS (SELECT CAST(MIN(na) AS BIGINT) AS n_per_arm FROM
        |  (SELECT arm, count(*) AS na FROM um GROUP BY 1)),
        |v AS (SELECT *, CASE WHEN n_users > 1 THEN
        |    (CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_users AS DOUBLE) * CAST(n_users - 1 AS DOUBLE))
        |  END AS var_y FROM t CROSS JOIN ma),
        |m AS (SELECT *, CASE WHEN n_per_arm > 0 THEN
        |    2.801585e0 * sqrt(2e0 * var_y / CAST(n_per_arm AS DOUBLE))
        |  END AS mde FROM v)
        |SELECT n_users, n_per_arm,
        |  ROUND(CAST(sy AS DOUBLE) / n_users, 6) AS mean_y,
        |  ROUND(var_y, 6) AS var_y, ROUND(mde, 6) AS mde_abs,
        |  CASE WHEN sy > 0 THEN ROUND(mde / (CAST(sy AS DOUBLE)
        |    / CAST(n_users AS DOUBLE)), 6) END AS mde_rel
        |FROM m""".stripMargin),
    // q229: gaps from truncated seconds but ORDERED by the full-
    // resolution (ts, event_id) chain on both engines; Σg/Σg² exact,
    // mean and Fano one float expression each.
    Query("q229_interarrival", interArrivalQ,
      """WITH s AS (SELECT user_id, ts, event_id,
        |    epoch_us(ts)//1000000 AS sec FROM events),
        |g AS (SELECT user_id, sec - lag(sec) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS g FROM s),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(g) AS BIGINT) AS n_gaps,
        |    CAST(coalesce(SUM(g), 0) AS BIGINT) AS sg,
        |    CAST(coalesce(SUM(g * g), 0) AS BIGINT) AS sgg,
        |    CAST(MAX(g) AS BIGINT) AS max_gap
        |  FROM g GROUP BY 1)
        |SELECT user_id, n_events, n_gaps,
        |  CASE WHEN n_gaps > 0 THEN ROUND(CAST(sg AS DOUBLE) / n_gaps, 6)
        |  END AS mean_gap,
        |  max_gap,
        |  CASE WHEN n_gaps >= 2 AND sg > 0 THEN
        |    ROUND(((CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
        |        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |      / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps - 1 AS DOUBLE)))
        |      / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6)
        |  END AS fano
        |FROM a ORDER BY user_id""".stripMargin),
    // q226: the linear recurrence replayed as a recursive CTE — the
    // identical integer floor step (subtract-pmod form, exact for
    // either sign), identical (ts, v) chain order.
    Query("q226_ewma", ewmaQ, ewmaOracle),
    Query("q263_holt", holtQ, holtOracle),
    Query("q265_forecast_skill", forecastSkillQ, forecastSkillOracle),
    // q269: the q268 duration chain split by md5 arm; per-time (O−E)
    // and V terms are one mirrored float expression over exact
    // integer products, nano-quantized at birth; χ² squares by
    // explicit self-multiplication; + 0e0 on the signed oe_a.
    Query("q269_log_rank", logRankQ, {
      val h = md5l("CAST(u AS VARCHAR)")
      s"""WITH s0 AS (SELECT user_id AS u,
        |    min(epoch_us(ts)//1000000) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |mx AS (SELECT max(epoch_us(ts)//1000000) AS tmax FROM events),
        |p AS (SELECT user_id AS u, epoch_us(ts)//1000000 AS tp
        |  FROM events WHERE event_type = 'purchase'),
        |fe AS (SELECT s0.u, s0.t0,
        |    min(CASE WHEN p.tp >= s0.t0 THEN p.tp END) AS tp
        |  FROM s0 LEFT JOIN p ON p.u = s0.u GROUP BY 1, 2),
        |du AS (SELECT u,
        |    CAST(CASE WHEN tp IS NOT NULL THEN tp - t0
        |      ELSE (SELECT tmax FROM mx) - t0 END AS BIGINT) AS t_sec,
        |    CAST(tp IS NOT NULL AS INTEGER) AS evt,
        |    CAST(($h % 2) = 0 AS INTEGER) AS a FROM fe),
        |tb AS (SELECT t_sec, CAST(count(*) AS BIGINT) AS alln,
        |    CAST(SUM(evt) AS BIGINT) AS d,
        |    CAST(SUM(a * evt) AS BIGINT) AS d1,
        |    CAST(SUM(a) AS BIGINT) AS all1 FROM du GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS n1,
        |    CAST(SUM(evt) AS BIGINT) AS dtot,
        |    CAST(SUM(a * evt) AS BIGINT) AS dtot1 FROM du),
        |km AS (SELECT t_sec, d, d1,
        |    tot.n - CAST(coalesce(SUM(alln) OVER (ORDER BY t_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nr,
        |    tot.n1 - CAST(coalesce(SUM(all1) OVER (ORDER BY t_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nr1
        |  FROM tb CROSS JOIN tot),
        |terms AS (SELECT
        |    CAST(floor(CAST(d1 * nr - d * nr1 AS DOUBLE) * 1000000000e0
        |      / CAST(nr AS DOUBLE) + 0.5e0) AS BIGINT) AS oe,
        |    CAST(floor(CAST(d * (nr - d) AS DOUBLE)
        |      * CAST(nr1 * (nr - nr1) AS DOUBLE)
        |      * 1000000000e0
        |      / (CAST(nr * nr AS DOUBLE) * CAST(nr - 1 AS DOUBLE))
        |      + 0.5e0) AS BIGINT)
        |      AS v
        |  FROM km WHERE d > 0 AND nr > 1),
        |ag AS (SELECT CAST(coalesce(SUM(oe), 0) AS BIGINT) AS soe,
        |    CAST(coalesce(SUM(v), 0) AS BIGINT) AS sv FROM terms)
        |SELECT tot.n1 AS n_a, tot.n - tot.n1 AS n_b,
        |  tot.dtot1 AS events_a, tot.dtot - tot.dtot1 AS events_b,
        |  ROUND(CAST(soe AS DOUBLE) / 1000000000e0, 6) + 0e0 AS oe_a,
        |  ROUND(CAST(sv AS DOUBLE) / 1000000000e0, 6) AS var_lr,
        |  CASE WHEN sv > 0 THEN
        |    ROUND((CAST(soe AS DOUBLE) / 1000000000e0)
        |      * (CAST(soe AS DOUBLE) / 1000000000e0)
        |      / (CAST(sv AS DOUBLE) / 1000000000e0), 6)
        |  END AS chi2
        |FROM tot CROSS JOIN ag""".stripMargin
    }),
    // q268: durations/at-risk/tallies exact longs; each KM factor's
    // ln is of an exact rational quantized to nanos at birth, the
    // product is an exact SUM in log space, exp/round once per row.
    Query("q268_kaplan_meier", kmQ,
      """WITH s0 AS (SELECT user_id AS u,
        |    min(epoch_us(ts)//1000000) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |mx AS (SELECT max(epoch_us(ts)//1000000) AS tmax FROM events),
        |p AS (SELECT user_id AS u, epoch_us(ts)//1000000 AS tp
        |  FROM events WHERE event_type = 'purchase'),
        |fe AS (SELECT s0.u, s0.t0,
        |    min(CASE WHEN p.tp >= s0.t0 THEN p.tp END) AS tp
        |  FROM s0 LEFT JOIN p ON p.u = s0.u GROUP BY 1, 2),
        |du AS (SELECT CAST(CASE WHEN tp IS NOT NULL THEN tp - t0
        |      ELSE (SELECT tmax FROM mx) - t0 END AS BIGINT) AS t_sec,
        |    CAST(tp IS NOT NULL AS INTEGER) AS evt FROM fe),
        |tb AS (SELECT t_sec, CAST(SUM(evt) AS BIGINT) AS d,
        |    CAST(SUM(1 - evt) AS BIGINT) AS c FROM du GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM du),
        |km AS (SELECT t_sec, d, c,
        |    n - CAST(coalesce(SUM(d + c) OVER (ORDER BY t_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM tb CROSS JOIN tot),
        |lt AS (SELECT t_sec, d, c, n_risk,
        |    CASE WHEN d > 0 AND n_risk > d THEN
        |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)) * 1000000000e0 + 0.5e0)
        |        AS BIGINT)
        |    ELSE 0 END AS term,
        |    CASE WHEN d > 0 AND d = n_risk THEN 1 ELSE 0 END AS hit0
        |  FROM km),
        |cu AS (SELECT t_sec, d, c, n_risk,
        |    CAST(SUM(term) OVER (ORDER BY t_sec
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    MAX(hit0) OVER (ORDER BY t_sec
        |      ROWS UNBOUNDED PRECEDING) AS z
        |  FROM lt)
        |SELECT t_sec, n_risk, d AS n_events, c AS n_censored,
        |  CASE WHEN z = 0 THEN
        |    ROUND(CAST(cum AS DOUBLE) / 1000000000e0, 6) + 0e0
        |  END AS ln_survival,
        |  CASE WHEN z = 1 THEN 0e0 ELSE
        |    ROUND(exp(CAST(cum AS DOUBLE) / 1000000000e0), 6)
        |  END AS survival
        |FROM cu ORDER BY t_sec""".stripMargin),
    // q277: Spark percentile == DuckDB quantile_cont (q42 precedent);
    // observed hours only.
    Query("q277_hour_profile", hourProfileQ,
      """WITH hc AS (SELECT epoch_us(ts)//1000000//3600*3600 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |h AS (SELECT CAST((b // 3600) % 24 AS INTEGER) AS hour, cnt
        |  FROM hc)
        |SELECT hour, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  ROUND(quantile_cont(cnt, 0.1e0), 6) AS p10,
        |  ROUND(quantile_cont(cnt, 0.5e0), 6) AS p50,
        |  ROUND(quantile_cont(cnt, 0.9e0), 6) AS p90
        |FROM h GROUP BY 1 ORDER BY hour""".stripMargin),
    // q275: sample variance · n(n−1) = n·Σx² − (Σx)² exactly; D is
    // one division of exact longs.
    Query("q275_dispersion", dispersionQ,
      """WITH dd AS (SELECT event_type AS "group",
        |    epoch_us(date_trunc('day', ts))//1000000//86400 AS d
        |  FROM events),
        |c AS (SELECT "group", d, CAST(count(*) AS BIGINT) AS c
        |  FROM dd GROUP BY 1, 2)
        |SELECT "group", CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(SUM(c) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(c) AS DOUBLE) / count(*), 6) AS mean_per_day,
        |  CASE WHEN count(*) > 1 AND SUM(c) > 0 THEN
        |    ROUND(CAST(count(*) * SUM(c * c) - SUM(c) * SUM(c)
        |        AS DOUBLE)
        |      / CAST((count(*) - 1) * SUM(c) AS DOUBLE), 6)
        |  END AS dispersion
        |FROM c GROUP BY 1 ORDER BY "group"""".stripMargin),
    // q276: deviations devn = n·x − Σx exact (the n² factor cancels
    // in the ratio); numerator/denominator exact longs, one division
    // per lag; + 0e0 on the signed acf.
    Query("q276_acf", acfQ, acfOracle),
    // q266: S and tie-corrected Var·18 exact longs; z one mirrored
    // float expression (+ 0e0 against round()'s -0.0); the Theil–Sen
    // median is a rank-k order statistic under (slope, d1, d2).
    Query("q266_mann_kendall", mannKendallQ,
      """WITH dd AS (SELECT event_type AS "group",
        |    epoch_us(date_trunc('day', ts))//1000000//86400 AS d
        |  FROM events),
        |c AS (SELECT "group", d, CAST(count(*) AS BIGINT) AS c
        |  FROM dd GROUP BY 1, 2),
        |p AS (SELECT a."group", a.d AS d1, b.d AS d2,
        |    CAST(sign(b.c - a.c) AS BIGINT) AS sgn,
        |    CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
        |      AS slope
        |  FROM c a JOIN c b ON a."group" = b."group" AND a.d < b.d),
        |nd AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_days
        |  FROM c GROUP BY 1),
        |tt AS (SELECT "group",
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
        |  FROM (SELECT "group", c, CAST(count(*) AS BIGINT) AS t
        |        FROM c GROUP BY 1, 2) GROUP BY 1),
        |ag AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(sgn) AS BIGINT) AS s_stat FROM p GROUP BY 1),
        |mr AS (SELECT "group", slope, row_number() OVER (
        |    PARTITION BY "group" ORDER BY slope, d1, d2) AS rn FROM p),
        |md AS (SELECT mr."group", mr.slope AS ts FROM mr
        |  JOIN ag ON ag."group" = mr."group"
        |  WHERE mr.rn = (ag.n_pairs + 1) // 2),
        |v AS (SELECT nd."group", nd.n_days, ag.n_pairs, ag.s_stat,
        |    nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - tt.tie
        |      AS var18, md.ts
        |  FROM nd JOIN tt ON tt."group" = nd."group"
        |  JOIN ag ON ag."group" = nd."group"
        |  JOIN md ON md."group" = nd."group")
        |SELECT "group", n_days, n_pairs, s_stat, var18,
        |  CASE WHEN var18 > 0 THEN
        |    ROUND(CAST(s_stat - CAST(sign(s_stat) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18e0), 6) + 0e0
        |  END AS z,
        |  ROUND(ts, 6) + 0e0 AS ts_slope
        |FROM v ORDER BY "group"""".stripMargin),
    // q216: q213's oracle verbatim — the folded bin counts must
    // reproduce the one-shot index exactly.
    Query("q216_psi_store", psiStoreQ, StatsQueries.psiOracle),
    // q324: q322's oracle verbatim — the folded store counts must
    // reproduce the one-shot W₁ readout exactly (streamed ≡ one-shot).
    Query("q324_wasserstein_store", wassersteinStoreQ, StatsQueries.wassersteinOracle),
    // q211: each stage a filtered min-aggregate gated on the previous
    // stage's first-touch time; conversions one division vs stage 1.
    Query("q211_event_funnel", eventFunnelQ,
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1),
        |c AS (
        |  SELECT CAST(1 AS INTEGER) AS stage, 'signup' AS stage_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click',
        |    (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |  UNION ALL SELECT 3, 'purchase',
        |    (SELECT CAST(count(*) AS BIGINT) FROM s3))
        |SELECT stage, stage_name, n_users,
        |  CASE WHEN (SELECT count(*) FROM s1) > 0 THEN
        |    ROUND(CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s1), 6)
        |  END AS conversion
        |FROM c ORDER BY stage""".stripMargin),
    // q212: lead() under the same (ts, event_id) order, exact pair
    // counts, one division per prev type.
    Query("q212_event_transitions", transitionsQ,
      """WITH nx AS (SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |p AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM p GROUP BY 1)
        |SELECT p.prev_type, p.next_type, p.n,
        |  ROUND(CAST(p.n AS DOUBLE) / t.tot, 6) AS prob
        |FROM p JOIN t USING (prev_type)
        |ORDER BY p.prev_type, p.next_type""".stripMargin),
    // q181: the q47 deterministic-HLL closed form over the whole
    // documents.text column — the folded store (with its overlapping
    // re-delivery) must be indistinguishable from the one-shot batch
    // sketch.
    Query("q181_hll_store", hllStoreQ,
      s"""WITH hp AS (SELECT ${md5l("text")} AS h
        |            FROM documents WHERE text IS NOT NULL),
        |rp AS (SELECT h % 4096 AS bucket,
        |         max(CASE WHEN h // 4096 = 0 THEN 49
        |             ELSE 49 - length(bin(h // 4096)) END) AS rho
        |       FROM hp GROUP BY 1),
        |zp AS (SELECT count(*) AS occ,
        |         CAST(coalesce(sum(1::BIGINT << (49 - rho)), 0) AS BIGINT)
        |           + (4096 - count(*)) * (1::BIGINT << 49) AS z_int
        |       FROM rp)
        |SELECT CAST(occ AS BIGINT) AS occupied_buckets,
        |  ROUND(CASE WHEN (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |            * 562949953421312e0 / CAST(z_int AS DOUBLE)
        |            <= 2.5e0 * 4096e0 AND (4096 - occ) > 0
        |        THEN 4096e0 * ln(4096e0 / (4096 - occ))
        |        ELSE (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |            * 562949953421312e0 / CAST(z_int AS DOUBLE) END, 6)
        |    AS hll_estimate
        |FROM zp""".stripMargin),
    // q172: q165's oracle verbatim — the folded store must read out
    // exactly like the one-shot batch profile.
    Query("q172_profile_store", profileStoreQ, columnProfileOracle),
    // q186: q185's oracle verbatim — the streamed importance model
    // must score exactly like the one-shot DSIR fit.
    Query("q186_dsir_store", dsirStoreQ, StatsQueries.dsirOracle),
    // q196: q187's oracle verbatim — the folded funnel counters must
    // render exactly like the one-shot accounting.
    Query("q196_funnel_store", funnelStoreQ, TextQueries.qualityFunnelOracle),
    // q194: per-event decay terms quantize to nanos in the identical
    // float expression over exact integer seconds; sums are exact.
    Query("q194_decayed_engagement", decayedQ,
      """WITH e AS (SELECT user_id, epoch_us(ts)//1000000 AS s,
        |    CAST(value AS DOUBLE) AS v FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL),
        |t AS (SELECT max(s) AS tmax FROM e),
        |n AS (SELECT user_id,
        |    CAST(floor(v * exp(-CAST(tmax - s AS DOUBLE) / 604800e0)
        |      * 1000000000e0 + 0.5e0) AS BIGINT) AS term_nano
        |  FROM e CROSS JOIN t)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST((SUM(term_nano) + 500) // 1000 AS BIGINT) AS decayed_micros
        |FROM n GROUP BY 1 ORDER BY user_id""".stripMargin),
    // q164/q292: the polls' union covers every non-null-ts record of
    // the %20 subset exactly once after PK dedup, so DuckDB aggregates
    // the raw table directly; a dedup failure double-counts the overlap
    // window's exact-integer sums and flips the hash. q292 runs the
    // SAME ingest contract over the live HTTP transport, hence the
    // shared oracle (the q280/q281 pattern: two paths, one truth).
    Query("q164_feed_bronze", feedBronzeQ, feedBronzeOracle),
    Query("q292_feed_http_bronze", feedHttpBronzeQ, feedBronzeOracle),
    // q301 is the same contract again as a rate-capped polling STREAM
    // (checkpointed record position instead of the sink watermark) —
    // third path, same truth.
    Query("q301_feed_http_stream", feedHttpStreamQ, feedBronzeOracle),
    // q280/q281: DuckDB replays the bottom-k sketch's closed-form
    // membership exactly — md5 bottom-256 per type (single-stage ==
    // the salted two-stage, an algebraic identity), ranked readout at
    // ceil(q·m); q281 shares it verbatim (streamed ≡ one-shot).
    Query("q280_quantile_sketch", quantileSketchQ, oracleSqlQuantile),
    Query("q281_quantile_store", quantileStoreQ, oracleSqlQuantile),
    // q279: DuckDB replays the evolution boundary directly — quality
    // exists exactly for rows at/after the poll-2 horizon (the field
    // was added there and the overlap re-delivery deduped), NULL
    // before; integer sums CAST back from DuckDB's HUGEINT.
    Query("q279_schema_evolution", schemaEvolutionQ,
      """WITH r AS (SELECT event_id, event_type,
        |    strftime(ts, '%Y-%m-%dT%H:%M:%S') AS c,
        |    CAST(round(value * 1e6) AS BIGINT) AS value_us
        |  FROM events WHERE event_id % 20 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(SUM(value_us) AS BIGINT) AS value_sum_us,
        |  CAST(count(CASE WHEN c >= '2024-01-20T00:00:00' THEN 1 END)
        |    AS BIGINT) AS n_quality,
        |  CAST(coalesce(SUM(CASE WHEN c >= '2024-01-20T00:00:00'
        |    THEN event_id % 5 END), 0) AS BIGINT) AS quality_sum,
        |  min(c) AS min_cursor, max(c) AS max_cursor
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    // q163: DuckDB computes the same cursor-bounded per-type aggregate
    // straight from the parquet table the payloads were rendered from;
    // value sums as fixed-point BIGINTs (q148's order-invariance rule),
    // the cursor bound replayed on the same second-resolution string.
    Query("q163_feed_source", feedSourceQ,
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS value_sum_us,
        |  min(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS min_cursor,
        |  max(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS max_cursor
        |FROM events
        |WHERE event_id % 20 = 0
        |  AND strftime(ts, '%Y-%m-%dT%H:%M:%S') >= '2024-01-16T00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // q285: DuckDB replays the cursor bound straight from the parquet
    // table the server's corpus was rendered from; the live path's
    // probe/pagination/parsing must reproduce it exactly — a lost or
    // doubled page flips the exact-integer sums.
    Query("q285_feed_http", feedHttpQ,
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS value_sum_us,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS min_cursor,
        |  max(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS max_cursor
        |FROM events
        |WHERE event_id % 20 = 0
        |  AND strftime(ts, '%Y-%m-%dT%H:%M:%S') >= '2024-01-18T00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // q326: q290's oracle verbatim — the folded store's hash table
    // must reproduce the one-shot pair histogram exactly (streamed ≡
    // one-shot; decode-at-ingest changes where the codec runs, never
    // the words).
    Query("q326_image_hash_store", imageHashStoreQ, oracleSqlQ290),
    // q290: the 9x8 fixture raster is closed-form, so DuckDB rebuilds
    // the dHash words bit by bit (Σ bit·2^b over 32-bit halves), bands
    // them identically, and replays the pair histogram; the Spark side
    // must reach the same words THROUGH the real PNG encode+decode.
    Query("q290_image_phash", imagePhashQ, oracleSqlQ290),
    // q162: the PNG fixture's dimensions are derived from the doc, so
    // a decode that parses the real container must recover them; the
    // flag certifies the imageio branch ran, not the stub.
    Query("q162_image_decode", imageDecodeQ,
      """SELECT doc_id,
        |  CAST(8 + doc_id % 24 AS INTEGER) AS width,
        |  CAST(8 + octet_length(encode(text)) % 24 AS INTEGER) AS height,
        |  3 AS channels, true AS real_decode
        |FROM documents ORDER BY doc_id""".stripMargin),
    // q189: the WAV fixture is fully predictable — frame count from
    // utf8 length, byte size closed-form (uncompressed PCM), energy as
    // the exact integer sum of squared synthesized samples.
    Query("q189_audio_decode", audioDecodeQ,
      """WITH d AS (SELECT doc_id,
        |    64 + (octet_length(encode(text)) % 192) AS n FROM documents),
        |s AS (SELECT doc_id, n, CAST(SUM(v * v) AS BIGINT) AS sum_sq FROM (
        |    SELECT doc_id, n, ((doc_id * 37 + i * 131) % 4001) - 2000 AS v
        |    FROM d, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) gs)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(44 + 2 * n AS INTEGER) AS n_bytes,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(n AS INTEGER) AS n_samples,
        |  CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
        |  sum_sq, true AS real_decode
        |FROM s ORDER BY doc_id""".stripMargin),
    // q278: the animated-GIF fixture is fully predictable — frame
    // count / dims / per-frame constant gray all closed-form from the
    // doc, the pixel sum is gray·w·h (constant raster), sampled frame
    // index mirrors the evenly-spaced integer division.
    Query("q278_video_frames", videoFramesQ,
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 5 AS BIGINT) AS nf,
        |    CAST(8 + doc_id % 16 AS INTEGER) AS w,
        |    CAST(8 + octet_length(encode(text)) % 16 AS INTEGER) AS h
        |  FROM documents),
        |f AS (SELECT doc_id, nf, w, h, CAST(i AS INTEGER) AS sample_idx,
        |    CAST((i * nf) // 4 AS INTEGER) AS frame_idx
        |  FROM d, (SELECT unnest(generate_series(0, 3)) AS i) gs)
        |SELECT doc_id, sample_idx, frame_idx,
        |  CAST(nf AS INTEGER) AS n_frames, w AS width, h AS height,
        |  CAST((doc_id * 31 + frame_idx * 17) % 256 AS INTEGER) AS gray,
        |  CAST(((doc_id * 31 + frame_idx * 17) % 256) * w * h AS BIGINT)
        |    AS pixel_sum,
        |  true AS real_decode
        |FROM f ORDER BY doc_id, sample_idx""".stripMargin),
    // q157: q145's grid CTE + one more 24-bucket window; sample
    // stddev (NULL under 2 rows) and the cut on ROUNDED z in both
    // engines.
    Query("q157_grid_anomaly", gridAnomalyQ,
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts)//1000000//3600*3600 AS b,
        |         count(*) AS n, round(avg(value), 6) AS v
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(b) AS bmin, max(b) AS bmax
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, gs.b FROM bounds,
        |  LATERAL (SELECT unnest(generate_series(bmin, bmax, 3600)) AS b) gs),
        |u AS (SELECT user_id, b, 0 AS side, n, v FROM obs
        |  UNION ALL SELECT user_id, b, 1, NULL, NULL FROM grid),
        |w AS (SELECT user_id, b, side,
        |    last_value(v IGNORE NULLS) OVER back AS fv,
        |    last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER back AS fb,
        |    first_value(v IGNORE NULLS) OVER fwd AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER fwd AS nb
        |  FROM u WINDOW
        |    back AS (PARTITION BY user_id ORDER BY b, side
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    fwd AS (PARTITION BY user_id ORDER BY b, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |r AS (SELECT user_id, b AS bucket_sec,
        |    round(CASE WHEN fb = b THEN fv
        |      WHEN fv IS NOT NULL AND nv IS NOT NULL
        |        THEN fv + (nv - fv) * (b - fb) / (nb - fb)
        |      ELSE fv END, 6) AS interp_value
        |  FROM w WHERE side = 1),
        |zz AS (SELECT user_id, bucket_sec, interp_value,
        |    avg(interp_value) OVER wz AS m,
        |    stddev_samp(interp_value) OVER wz AS sd
        |  FROM r WINDOW wz AS (PARTITION BY user_id ORDER BY bucket_sec
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT user_id, bucket_sec, interp_value,
        |  round((interp_value - m)/sd, 6) AS z
        |FROM zz WHERE sd > 0
        |  AND abs(round((interp_value - m)/sd, 6)) > 2.5e0
        |ORDER BY user_id, bucket_sec""".stripMargin),
    // q156: the same lag → flag → running-sum chain definitionally;
    // second deltas are exact integer µs divisions, so no float time
    // math on either side.
    Query("q156_session_features", sessionFeaturesQ,
      """WITH f AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER w AS prev_ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT f.*, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS session_idx FROM f)
        |SELECT event_id, user_id, session_idx,
        |  CAST(row_number() OVER ws AS INTEGER) AS event_idx,
        |  CASE WHEN new_s = 1 THEN 0
        |    ELSE (epoch_us(ts) - epoch_us(prev_ts))//1000000 END
        |    AS secs_since_prev,
        |  epoch_us(ts)//1000000
        |    - min(epoch_us(ts)//1000000) OVER ws AS secs_since_start
        |FROM g WINDOW ws AS (PARTITION BY user_id, session_idx
        |  ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),
    // q152: definitional per-dim mean/variance over the full corpus on
    // the FIXED-POINT coordinates (q = round(x*1e6), Pca.quantize) —
    // the store's merged integer sums are exact and order-invariant,
    // so this is bit-identical to the one-shot computation (same
    // association as q148/q149: mean = Σq/1e6/n, var = Σq²/1e12/n −
    // mean·mean).
    Query("q152_moment_store", momentStoreQ,
      """WITH t AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT CAST(gs.i - 1 AS INTEGER) AS dim,
        |    CAST(round(v[gs.i]*1e6) AS BIGINT) AS q
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) gs)
        |SELECT dim, count(*) AS n,
        |  round(CAST(sum(q) AS DOUBLE)/1e6/count(*), 6) AS mean,
        |  round(CAST(sum(q*q) AS DOUBLE)/1e12/count(*)
        |    - CAST(sum(q) AS DOUBLE)/1e6/count(*)
        |      *(CAST(sum(q) AS DOUBLE)/1e6/count(*)), 6) AS variance
        |FROM u GROUP BY dim ORDER BY dim""".stripMargin),
    // q151: q146's oracle VERBATIM — the store-backed streaming path
    // must be indistinguishable from the one-shot batch gap report.
    Query("q151_cadence_store", cadenceStoreQ,
      """WITH obs AS (SELECT DISTINCT user_id,
        |    epoch_us(ts)//1000000//3600*3600 AS b FROM events),
        |d AS (SELECT user_id, b,
        |    lead(b) OVER (PARTITION BY user_id ORDER BY b) AS nb FROM obs)
        |SELECT user_id,
        |  (max(b) - min(b))//3600 + 1 AS n_expected,
        |  count(*) AS n_present,
        |  (max(b) - min(b))//3600 + 1 - count(*) AS n_missing,
        |  coalesce(max(nb - b - 3600), 0) AS max_gap_sec
        |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin),
    // q145: same grid ∪ observations + one window definitionally —
    // buckets are epoch-second floors, the grid is generate_series
    // over each user's bucket span, fills read off the same
    // (bucket, side) ordering with obs rows sorted first.
    Query("q145_resample", resampleQ,
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts)//1000000//3600*3600 AS b,
        |         count(*) AS n, round(avg(value), 6) AS v
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(b) AS bmin, max(b) AS bmax
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, gs.b FROM bounds,
        |  LATERAL (SELECT unnest(generate_series(bmin, bmax, 3600)) AS b) gs),
        |u AS (SELECT user_id, b, 0 AS side, n, v FROM obs
        |  UNION ALL SELECT user_id, b, 1, NULL, NULL FROM grid),
        |w AS (SELECT user_id, b, side,
        |    last_value(v IGNORE NULLS) OVER back AS fv,
        |    last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER back AS fb,
        |    last_value(n IGNORE NULLS) OVER back AS fn,
        |    first_value(v IGNORE NULLS) OVER fwd AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER fwd AS nb
        |  FROM u WINDOW
        |    back AS (PARTITION BY user_id ORDER BY b, side
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    fwd AS (PARTITION BY user_id ORDER BY b, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, b AS bucket_sec,
        |  CASE WHEN fb = b THEN fn ELSE 0 END AS n_obs,
        |  CASE WHEN fb = b THEN fv END AS obs_value,
        |  fv AS ffill_value,
        |  b - fb AS ffill_age_sec,
        |  round(CASE WHEN fb = b THEN fv
        |    WHEN fv IS NOT NULL AND nv IS NOT NULL
        |      THEN fv + (nv - fv) * (b - fb) / (nb - fb)
        |    ELSE fv END, 6) AS interp_value
        |FROM w WHERE side = 1
        |ORDER BY user_id, bucket_sec""".stripMargin),
    // q146: cadence report from observed buckets alone — expected =
    // span/step + 1, longest gap from the lead() delta between
    // successive present buckets.
    Query("q146_gap_report", gapReportQ,
      """WITH obs AS (SELECT DISTINCT user_id,
        |    epoch_us(ts)//1000000//3600*3600 AS b FROM events),
        |d AS (SELECT user_id, b,
        |    lead(b) OVER (PARTITION BY user_id ORDER BY b) AS nb FROM obs)
        |SELECT user_id,
        |  (max(b) - min(b))//3600 + 1 AS n_expected,
        |  count(*) AS n_present,
        |  (max(b) - min(b))//3600 + 1 - count(*) AS n_missing,
        |  coalesce(max(nb - b - 3600), 0) AS max_gap_sec
        |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin),
    // q133: the store round-trip must reproduce the source table
    // exactly — the oracle aggregates `documents` directly, so the
    // hash match is over WHAT SURVIVED the staged appends, key dedup,
    // compaction, and healed read.
    Query("q133_sink_roundtrip", sinkRoundtripQ,
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(text)) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // q132: q127's clean rules + q20's dedup (keyed on md5(text)) +
    // token totals, per source — the funnel every stage's own oracle
    // already verifies in isolation, composed. Counts CAST to BIGINT
    // (DuckDB sums INTEGER into HUGEINT); the share division is last.
    Query("q132_pipeline_funnel", pipelineFunnelQ,
      """WITH t AS (SELECT doc_id, source, text,
        |  regexp_split_to_array(text, '\s+') AS toks FROM documents),
        |m AS (SELECT doc_id, source, text,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  ROUND(CAST(len(list_filter(toks, x -> x IN
        |    ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |    / len(toks), 6) AS stopword_ratio,
        |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr
        |FROM t),
        |kept AS (SELECT doc_id, source, text, n_tokens FROM m
        |  WHERE n_tokens >= 10 AND stopword_ratio >= 0.05e0 AND ttr >= 0.2e0),
        |canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        |canon_docs AS (SELECT k.source, k.n_tokens
        |  FROM kept k JOIN canon c USING (doc_id)),
        |base AS (SELECT source, count(*) AS docs_in FROM documents GROUP BY source),
        |keptagg AS (SELECT source, count(*) AS docs_kept FROM kept GROUP BY source),
        |canonagg AS (SELECT source, count(*) AS docs_canonical,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_canonical
        |  FROM canon_docs GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM canon_docs)
        |SELECT b.source, b.docs_in,
        |  coalesce(k.docs_kept, 0) AS docs_kept,
        |  coalesce(c.docs_canonical, 0) AS docs_canonical,
        |  coalesce(c.tokens_canonical, 0) AS tokens_canonical,
        |  ROUND(CAST(coalesce(c.tokens_canonical, 0) AS DOUBLE)
        |    / t.total_tokens, 6) AS token_share
        |FROM base b
        |LEFT JOIN keptagg k USING (source)
        |LEFT JOIN canonagg c USING (source)
        |CROSS JOIN tot t
        |ORDER BY b.source""".stripMargin),
    Query("q117_expectations", expectationsQ,
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN coalesce(l_quantity > 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |  CAST(sum(CASE WHEN coalesce(l_extendedprice >= 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN coalesce(l_discount <= 0.05e0, false) THEN 0 ELSE 1 END) AS BIGINT) AS c2,
        |  CAST(sum(CASE WHEN coalesce(l_shipdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31', false) THEN 0 ELSE 1 END) AS BIGINT) AS c3
        |  FROM lineitem)
        |SELECT 'discount_le_5pct' AS check_name, c2 AS n_violations, c2 = 0 AS passed FROM s
        |UNION ALL SELECT 'price_nonneg', c1, c1 = 0 FROM s
        |UNION ALL SELECT 'qty_positive', c0, c0 = 0 FROM s
        |UNION ALL SELECT 'shipdate_in_range', c3, c3 = 0 FROM s
        |ORDER BY check_name""".stripMargin),
    Query("q118_ref_integrity", refIntegrityQ,
      """SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |FROM lineitem l LEFT JOIN
        |  (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 != 0) o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL""".stripMargin),
    Query("q116_anomaly_flags", anomalyQ,
      """WITH x AS (SELECT event_id, user_id, value,
        |    avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value,
        |  ROUND((value - mu) / sd, 6) AS z,
        |  abs(ROUND((value - mu) / sd, 6)) > 3 AS is_anomaly
        |FROM x WHERE sd IS NOT NULL AND sd > 0
        |ORDER BY event_id""".stripMargin),
    Query("q113_cdc_apply", cdcQ,
      """SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0e0
        |       ELSE c_acctbal END AS c_acctbal,
        |  CAST(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS last_seq
        |FROM customer WHERE c_custkey % 11 != 0
        |ORDER BY c_custkey""".stripMargin),
    Query("q107_snapshot_diff", snapshotDiffQ,
      s"""WITH prev AS (SELECT doc_id, ${docDigest("text")} AS h1
        |  FROM documents WHERE doc_id % 10 != 3),
        |nxt AS (SELECT doc_id,
        |    ${docDigest("CASE WHEN doc_id % 5 = 0 THEN concat(text, ' v2') ELSE text END")} AS h2
        |  FROM documents WHERE doc_id % 7 != 2),
        |j AS (SELECT coalesce(prev.doc_id, nxt.doc_id) AS doc_id, h1, h2
        |  FROM prev FULL OUTER JOIN nxt ON prev.doc_id = nxt.doc_id)
        |SELECT doc_id,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM j WHERE h1 IS NULL OR h2 IS NULL OR h1 != h2
        |ORDER BY doc_id""".stripMargin),
    Query("q108_scd2_merge", scd2Q,
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(1 AS INTEGER) AS version,
        |  (c_custkey % 7 != 0) AS is_current
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_acctbal + 100.0e0,
        |  CAST(2 AS INTEGER), true
        |FROM customer WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey, version""".stripMargin),
    Query("q109_retention", retentionQ,
      """WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |f AS (SELECT u, min(d) AS cohort_d FROM act GROUP BY u)
        |SELECT cohort_d, CAST(d - cohort_d AS INTEGER) AS offset_days,
        |  count(*) AS n_users
        |FROM act JOIN f USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q110_rolling_active", rollingActiveQ,
      """WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS target_d FROM act)
        |SELECT target_d, count(DISTINCT u) AS active_users
        |FROM days JOIN act ON act.d BETWEEN target_d - 6 AND target_d
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q94_jsonl_export", jsonlExport,
      """SELECT doc_id,
        |  CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
        |    source := source, n_chars := n_chars)) AS VARCHAR) AS jsonl
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q93_multimodal_resize", resizePlanQ,
      """WITH m AS (SELECT doc_id,
        |    CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS src_w,
        |    CAST(64 + ascii(substr(text, 1, 1)) % 512 AS INTEGER) AS src_h
        |  FROM documents),
        |s AS (SELECT doc_id, src_w, src_h,
        |    LEAST(256.0e0 / src_w, 256.0e0 / src_h, 1.0e0) AS sc FROM m)
        |SELECT doc_id, src_w, src_h,
        |  CAST(GREATEST(1, floor(src_w * sc)) AS INTEGER) AS dst_w,
        |  CAST(GREATEST(1, floor(src_h * sc)) AS INTEGER) AS dst_h,
        |  ROUND(sc, 6) AS scale
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q86_hopping_window", hoppingQ,
      """WITH b AS (SELECT ts, value,
        |    date_trunc('hour', ts)
        |      + (CAST(minute(ts) AS BIGINT) // 15) * INTERVAL 15 MINUTE AS bucket
        |  FROM events),
        |w AS (SELECT ts, value, bucket - o.o * INTERVAL 15 MINUTE AS window_start
        |      FROM b, (SELECT unnest(generate_series(0, 3)) AS o) o
        |      WHERE ts < bucket - o.o * INTERVAL 15 MINUTE + INTERVAL 60 MINUTE)
        |SELECT window_start, count(*) AS n_events,
        |  ROUND(sum(value), 6) AS total_value
        |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin),
    Query("q76_interval_join", intervalJoin,
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 240 MINUTE THEN 1 ELSE 0 END AS ns
        |  FROM events WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |iv AS (SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        |       FROM s GROUP BY user_id, sid)
        |SELECT p.event_id, p.user_id, p.ts, iv.session_start
        |FROM events p JOIN iv ON p.user_id = iv.user_id
        |  AND p.ts >= iv.session_start AND p.ts <= iv.session_end
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin),
    Query("q75_funnel", funnel,
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |      GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_view_click,
        |  (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin),
    Query("q52_multimodal_frames", multimodalFrames,
      """SELECT doc_id, CAST(f.i AS INTEGER) AS frame_idx,
        |  CAST((f.i * octet_length(encode(text))) // 4 AS INTEGER) AS frame_offset,
        |  ascii(substr(text,
        |    CAST((f.i * octet_length(encode(text))) // 4 AS INTEGER) + 1, 1))
        |    AS frame_hash
        |FROM documents, (SELECT unnest(generate_series(0, 3)) AS i) f
        |ORDER BY doc_id, frame_idx""".stripMargin),
    Query("q51_session_window_builtin", sessionWindowBuiltin,
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
    Query("q41_asof_attribution", asofAttribution,
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin),
    Query("q38_from_json", fromJson,
      """SELECT event_type, count(*) AS n_events,
        |  CAST(min(json_extract_string(props, '$.k') :: INTEGER) AS INTEGER) AS min_k,
        |  CAST(max(json_extract_string(props, '$.k') :: INTEGER) AS INTEGER) AS max_k,
        |  ROUND(avg(json_extract_string(props, '$.k') :: INTEGER), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q33_json_extract", jsonExtract,
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q34_sessionize", sessionizeQ,
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
    Query("q35_tumbling_hourly", tumbling,
      """SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 6) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q36_multimodal_decode", multimodal,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |  CAST(64 + ascii(substr(text, 1, 1)) % 512 AS INTEGER) AS height,
        |  3 AS channels
        |FROM documents ORDER BY doc_id""".stripMargin))

  val queries: Map[String, Q] = Query.builds(all)

  val oracleSql: Map[String, String] = Query.oracles(all)
}
