package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators: gap-based sessionization and tumbling-window
  * aggregation — the batch forms; the Structured Streaming forms
  * (session_window / window + watermark) live in graft.streaming.
  */
object Sessions {
  /** Gap-based sessions per user: a new session starts when the gap to
    * the previous event exceeds `gapMinutes`. Classic lag → flag →
    * running-sum session index → aggregate.
    *
    * Scale: both windows are PARTITIONED by user_id — one shuffle on
    * user_id, then all window work is within-partition; no global sort.
    * (Contrast the reference's unpartitioned gold window, SURVEY §2.5.)
    */
  /** lag → gap flag → running-sum session index, shared by the
    * per-session aggregate and the per-event feature projection.
    */
  private def flagged(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapNs = gapMinutes * 60L * 1000000L // µs
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapNs, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    flagged(events, gapMinutes).groupBy("user_id", "session_idx")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .orderBy("user_id", "session_start")
  }

  /** Tumbling-window aggregate (window() → one hash aggregate on the
    * truncated timestamp; partial aggregation keeps the shuffle at one
    * row per (window, partition)).
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
      .select(col("w.start").as("hour_start"), col("n_events"), col("total_value"))
      .orderBy("hour_start")

  /** Per-EVENT session features — what a behavioral model trains on:
    * the session index, the event's position within it, integer
    * seconds since the previous event (0 at a session start) and
    * since the session began. Same one-shuffle shape as `sessionize`
    * (every window is user- or (user, session)-partitioned); second
    * deltas stay exact BIGINTs (µs difference, integer division) —
    * no float time math.
    */
  def sessionFeatures(events: DataFrame, gapMinutes: Int): DataFrame = {
    val bySession = Window.partitionBy("user_id", "session_idx")
      .orderBy("ts", "event_id")
    flagged(events, gapMinutes)
      .withColumn("event_idx", row_number().over(bySession))
      .withColumn("secs_since_prev",
        when(col("new_session") === 1, lit(0L))
          .otherwise(expr("(unix_micros(ts) - unix_micros(prev_ts)) DIV 1000000")))
      .withColumn("secs_since_start",
        expr("unix_micros(ts) DIV 1000000")
          - min(expr("unix_micros(ts) DIV 1000000")).over(bySession))
      .select(col("event_id"), col("user_id"), col("session_idx"),
        col("event_idx"), col("secs_since_prev"), col("secs_since_start"))
      .orderBy("event_id")
  }

  /** Exponentially time-decayed engagement score per key: each event
    * contributes `value · exp(−(T − t)/τ)` with T = the stream's max
    * event time — the recency-weighted activity feature a
    * training-data pipeline uses to weight fresh interactions over
    * stale ones without a cutoff cliff.
    *
    * Determinism (the q148 rule): every per-event term is one float
    * expression over exact integer seconds, quantized to integer
    * nanos at birth, so the per-key aggregate is an exact integer sum
    * — order- and partition-invariant. Scale shape: one 1-row
    * broadcast (T), one map-side-combined aggregate; nothing else.
    *
    * Output: (key, n_events, decayed_micros — the score in exact
    * fixed-point 1e-6 units), ordered by key.
    */
  def decayedEngagement(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tauSeconds: Long): DataFrame = {
    require(tauSeconds > 0)
    val secs = expr(s"unix_micros($tsCol) DIV 1000000")
    val live = events
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), secs.as("_s"),
        col(valueCol).cast("double").as("_v"))
    val tmax = live.agg(max(col("_s")).as("_tmax"))
    live.crossJoin(broadcast(tmax))
      .withColumn("_term_nano",
        floor(col("_v")
          * exp(-(col("_tmax") - col("_s")).cast("double")
            / lit(tauSeconds.toDouble))
          * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        // stay fixed-point to the end: a 6dp-rounded double would sit
        // on the .5 boundary for ~1/1000 keys (nano sums mod 1000) and
        // flip between engines; integer micros cannot
        expr("(sum(_term_nano) + 500) div 1000").as("decayed_micros"))
      .orderBy(keyCol)
  }

  /** Ordered conversion funnel over an event stream: a user reaches
    * stage i when an event of `stages(i)` occurs AT OR AFTER their
    * first stage-(i−1) event (first-touch semantics; ties at the same
    * timestamp count — the stages differ by type, so no event double-
    * counts). Reports per stage the users reaching it and the
    * conversion from stage 1, one exact division per row.
    *
    * Scale shape: one filtered min-aggregate per stage, each a join +
    * aggregate on the SAME user key (the shuffle partitioning is
    * reused stage to stage); stage count is a small constant.
    *
    * Output: (stage, stage_name, n_users, conversion), by stage.
    */
  def eventFunnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    var reached = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t"))
      .localCheckpoint()
    var counts = Vector(stages.head -> reached.count())
    stages.tail.foreach { st =>
      reached = events.filter(col(typeCol) === st)
        .join(reached, Seq(userCol))
        .filter(col(tsCol) >= col("_t"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t"))
        .localCheckpoint()
      counts = counts :+ (st -> reached.count())
    }
    val n1 = counts.head._2
    counts.zipWithIndex.map { case ((name, n), i) =>
      (i + 1, name, n,
        if (n1 == 0) None
        else Some(BigDecimal(n.toDouble / n1)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("stage", "stage_name", "n_users", "conversion")
      .orderBy("stage")
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences: consecutive pairs under the deterministic
    * (ts, event_id) order, exact pair counts, and the transition
    * probability as ONE division against the per-prev total. The
    * pre-training analogue is session-shape profiling; here it's the
    * event-grammar audit. One user-partitioned window + one pair
    * aggregate.
    *
    * Output: (prev_type, next_type, n, prob), by (prev, next).
    */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("prev_type"), col("_next").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("_tot"))
    pairs.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("_tot"), 6).as("prob"))
      .orderBy("prev_type", "next_type")
  }

  /** Top event paths — the most common `len`-step type sequences
    * under the deterministic per-user (ts, id) order (the "how do
    * users actually move" mining behind funnel design): sliding
    * windows of consecutive types, exact counts, distributed top-k
    * on (count DESC, path). Paths are rendered `a>b>c`.
    *
    * Scale shape: `len−1` leads off ONE per-user sort window, a
    * map-side-combined path count, and a TakeOrdered top-k — no
    * global sort. Output: (rank, path, n), ordered by rank.
    */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, len: Int = 3,
      k: Int = 20): DataFrame = {
    require(len >= 2 && k >= 1, s"bad len/k: $len/$k")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val steps = (1 until len).foldLeft(
      events.select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).as("_t0"))) { (d, i) =>
      d.withColumn(s"_t$i", lead(col("_t0"), i).over(w))
    }
    val path = concat_ws(">",
      (0 until len).map(i => col(s"_t$i")): _*)
    val counted = steps
      .filter((1 until len).map(i => col(s"_t$i").isNotNull)
        .reduce(_ && _))
      .select(path.as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
    counted.withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path"))).cast("int"))
      .select(col("rank"), col("path"), col("n"))
      .orderBy("rank")
  }

  /** Per-group daily-volume trend — the feed-health drift monitor:
    * one row per group with the OLS slope of daily counts over the
    * epoch-day index. Day indexes and counts are native integers, so
    * every OLS sum is exact with NO quantization; the slope and
    * per-day mean are one float expression each. NULL slope for
    * single-day groups.
    *
    * Scale shape: one (group, day) count aggregate (map-side
    * combined), then a per-group fold over ≤days rows.
    *
    * Output: (group, n_days, n_events, mean_per_day, slope_per_day),
    * ordered by group.
    */
  def volumeTrend(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    trendFromDaily(dailyCounts(events, groupCol, tsCol))

  /** The mergeable half of [[volumeTrend]]: per-(group, epoch-day)
    * exact counts — rows fold across any disjoint event split (the
    * streaming-store shape; `StreamingPower.trend` persists them
    * per micro-batch).
    */
  def dailyCounts(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    events.select(col(groupCol).as("group"),
        expr(s"unix_timestamp(date_trunc('DAY', $tsCol)) div 86400")
          .as("d"))
      .groupBy(col("group"), col("d")).agg(count(lit(1)).as("c"))

  /** The report half of [[volumeTrend]]: fold daily-count rows, then
    * the native-integer OLS.
    */
  def trendFromDaily(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts.groupBy(col("group"), col("d"))
      .agg(sum(col("c")).as("c"))
    daily.groupBy(col("group"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"),
        sum(col("d")).as("_sd"), sum(col("c") * col("d")).as("_sdc"),
        sum(col("d") * col("d")).as("_sdd"))
      .select(col("group"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days"), 6)
          .as("mean_per_day"),
        when(col("n_days").cast("double") * col("_sdd").cast("double")
          - col("_sd").cast("double") * col("_sd").cast("double") > 0.0,
          round((col("n_days").cast("double") * col("_sdc").cast("double")
            - col("_sd").cast("double") * col("n_events").cast("double"))
            / (col("n_days").cast("double") * col("_sdd").cast("double")
              - col("_sd").cast("double") * col("_sd").cast("double")), 6))
          .as("slope_per_day"))
      .orderBy("group")
  }

  /** Dispersion (variance-to-mean) index of the per-(group, day)
    * counts — the Poisson-ness check: D ≈ 1 means arrivals spread
    * like independent events; D ≫ 1 means bursty days (campaign
    * spikes, batch backfills) that a mean-based capacity plan will
    * miss. Complements the inter-arrival Fano factor (q229), which
    * looks at gaps WITHIN days.
    *
    * Determinism: with Sx = Σx, Sxx = Σx², sample variance · n·(n−1)
    * = n·Sxx − Sx² exactly, and D = (n·Sxx − Sx²)/((n−1)·Sx) is ONE
    * division of exact longs. NULL for single-day groups or zero
    * total. Output: (group, n_days, n_events, mean_per_day 6dp,
    * dispersion 6dp), ordered by group.
    */
  def dispersionIndex(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts.groupBy(col("group"), col("d"))
      .agg(sum(col("c")).as("c"))
    daily.groupBy("group")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("_sxx"))
      .select(col("group"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days"), 6)
          .as("mean_per_day"),
        when(col("n_days") > 1L && col("n_events") > 0L,
          round((col("n_days") * col("_sxx")
            - col("n_events") * col("n_events")).cast("double")
            / ((col("n_days") - 1L) * col("n_events")).cast("double"), 6))
          .as("dispersion"))
      .orderBy("group")
  }

  /** Autocorrelation function of the per-(group, day) counts at lags
    * 1..`maxLag` — does yesterday predict today (serial dependence a
    * weekly-seasonality or backfill process leaves behind)? Evaluated
    * on the exact integer deviations devnₜ = n·xₜ − Σx (the common n²
    * factor cancels in the ratio):
    *   r_k = Σₜ devnₜ·devnₜ₊ₖ / Σₜ devnₜ²
    * — numerator and denominator exact longs, ONE division. Lag pairs
    * come from a lead window over the day-ordered series (gaps in the
    * calendar make this an INDEX lag, documented). NULL when the
    * denominator is 0 (constant series).
    *
    * Output: (group, lag, n_pairs, acf 6dp), ordered by (group, lag).
    */
  def dailyAcf(dailyCounts: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    val daily = dailyCounts.groupBy(col("group"), col("d"))
      .agg(sum(col("c")).as("c"))
    val tot = daily.groupBy("group")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"))
    val w = Window.partitionBy("group").orderBy("d")
    val dev = daily.join(broadcast(tot), Seq("group"))
      .withColumn("devn", col("n") * col("c") - col("sx"))
      .localCheckpoint()
    val den = dev.groupBy("group")
      .agg(sum(col("devn") * col("devn")).as("_den"))
    val lags = (1 to maxLag).map { k =>
      dev.withColumn("_next", lead(col("devn"), k).over(w))
        .filter(col("_next").isNotNull)
        .groupBy("group")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("devn") * col("_next")).as("_num"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    lags.join(broadcast(den), Seq("group"))
      .select(col("group"), col("lag"), col("n_pairs"),
        when(col("_den") > 0L,
          round(col("_num").cast("double") / col("_den").cast("double"), 6))
          .as("acf"))
      .orderBy("group", "lag")
  }

  /** Mann–Kendall trend test + Theil–Sen slope over the per-(group,
    * day) counts — the ROBUST complement to [[volumeTrend]]'s OLS
    * (one changepoint or outlier day drags a least-squares slope;
    * the rank statistic and the median-of-pairwise-slopes barely
    * move). Per group over all day pairs i<j:
    *   S = Σ sign(c_j − c_i); Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    *   (tie-corrected, exact); z = (S ∓ 1)/√(Var);
    *   Theil–Sen = the exact median pairwise slope.
    *
    * Determinism: S and Var·18 are exact longs; z is one mirrored
    * float expression; each pairwise slope is ONE division of exact
    * longs and the median is a rank-k order statistic under the
    * (slope, d_i, d_j) total order. NULL z when Var = 0 (all-tied).
    *
    * Scale shape: the pair join is per-group DAYS squared (a year =
    * ~66k pairs), never events — the day table is the collapsed
    * aggregate. Output: (group, n_days, n_pairs, s_stat, var18,
    * z 6dp, ts_slope 6dp), ordered by group.
    */
  def mannKendall(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts.groupBy(col("group"), col("d"))
      .agg(sum(col("c")).as("c")).localCheckpoint()
    val a = daily.select(col("group"), col("d").as("d1"), col("c").as("c1"))
    val b = daily.select(col("group"), col("d").as("d2"), col("c").as("c2"))
    val pairs = a.join(b, Seq("group")).filter(col("d1") < col("d2"))
      .withColumn("_sgn", signum(col("c2") - col("c1")).cast("long"))
      .withColumn("_slope",
        (col("c2") - col("c1")).cast("double")
          / (col("d2") - col("d1")).cast("double"))
      .localCheckpoint()
    val nd = daily.groupBy("group").agg(count(lit(1)).as("n_days"))
    // tie term: Σ t(t−1)(2t+5) over runs of equal counts
    val ties = daily.groupBy(col("group"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("group")
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("_tie"))
    val agg = pairs.groupBy("group")
      .agg(count(lit(1)).as("n_pairs"), sum(col("_sgn")).as("s_stat"))
    val wk = Window.partitionBy("group")
      .orderBy(col("_slope"), col("d1"), col("d2"))
    val med = pairs.withColumn("_rn", row_number().over(wk).cast("long"))
      .join(broadcast(agg.select(col("group"), col("n_pairs"))),
        Seq("group"))
      .filter(col("_rn") === expr("(n_pairs + 1) div 2"))
      .select(col("group"), col("_slope").as("_ts"))
    nd.join(broadcast(ties), Seq("group"))
      .join(broadcast(agg), Seq("group"))
      .join(broadcast(med), Seq("group"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1L)
          * (lit(2L) * col("n_days") + 5L) - col("_tie"))
      .select(col("group"), col("n_days"), col("n_pairs"), col("s_stat"),
        col("var18"),
        when(col("var18") > 0L, round(
          (col("s_stat") - signum(col("s_stat")).cast("long"))
            .cast("double")
            / sqrt(col("var18").cast("double") / lit(18.0)), 6))
          .as("z"),
        round(col("_ts"), 6).as("ts_slope"))
      .orderBy("group")
  }

  /** [[mannKendall]] over raw events. */
  def mannKendallEvents(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    mannKendall(dailyCounts(events, groupCol, tsCol))

  /** CUSUM changepoint scan over the per-(group, day) counts — where
    * did a source's daily volume regime shift? The classic cumulative
    * deviation-from-mean curve: S_t = Σ_{i≤t}(x_i − μ) peaks (in
    * absolute value) at the most likely changepoint.
    *
    * Determinism: S_t is evaluated as (n·cum_t − t·total)/n — the
    * numerator is an exact long recurrence-free window sum, the mean
    * never materializes, and the peak test compares exact integers,
    * so ties flag every argmax day identically in both engines.
    *
    * Scale shape: one map-side-combined (group, day) count, one O(n)
    * running-sum window per group (days, not events), one broadcast
    * per-group total join. Output: (group, d, cnt, cusum 6dp,
    * is_peak), ordered by (group, d).
    */
  def cusumDaily(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts.groupBy(col("group"), col("d"))
      .agg(sum(col("c")).as("cnt"))
    val tot = daily.groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("total"))
    val w = Window.partitionBy("group").orderBy("d")
    val dev = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(tot), Seq("group"))
      .withColumn("devn", col("n") * col("cum") - col("t") * col("total"))
    dev
      .withColumn("mabs",
        max(abs(col("devn"))).over(Window.partitionBy("group")))
      .select(col("group"), col("d"), col("cnt"),
        round(col("devn").cast("double") / col("n"), 6).as("cusum"),
        (abs(col("devn")) === col("mabs")).cast("int").as("is_peak"))
      .orderBy("group", "d")
  }

  /** [[cusumDaily]] over raw events. */
  def cusumEvents(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    cusumDaily(dailyCounts(events, groupCol, tsCol))

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * user-value grid: per user, days since last event at `asOfDay`
    * (epoch day, exact), event count, and whole-unit value mass; each
    * dimension scored 1–5 by ntile with 5 = best (most recent / most
    * frequent / highest value), ties pinned by user id; segment =
    * the concatenated scores.
    *
    * Scale note: the three ntile windows are global over USERS (not
    * events) — fine for user-cardinality frames; pre-bucket at
    * extreme scale. Output: (userCol, recency_days, frequency,
    * monetary, r_score, f_score, m_score, segment), ordered by user.
    */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, asOfDay: String): DataFrame = {
    val per = events.groupBy(col(userCol))
      .agg(
        datediff(lit(asOfDay).cast("date"), max(col(tsCol)).cast("date"))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(round(col(valueCol)).cast("long")).as("monetary"))
    val r = Window.orderBy(col("recency_days").desc, col(userCol))
    val f = Window.orderBy(col("frequency"), col(userCol))
    val m = Window.orderBy(col("monetary"), col(userCol))
    per
      .withColumn("r_score", ntile(5).over(r))
      .withColumn("f_score", ntile(5).over(f))
      .withColumn("m_score", ntile(5).over(m))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .orderBy(userCol)
  }

  /** Inter-arrival burstiness profile per key — the cadence-health
    * summary a feed monitor reads: gaps between consecutive events in
    * integer seconds under the deterministic (ts, id) order, rolled
    * up to n_events, n_gaps, mean/max gap, and the Fano factor
    * (sample variance of gaps / mean gap; 1 ≈ Poisson arrivals, ≫1 =
    * bursty, ≪1 = metronome). Gap sums Σg and Σg² are exact longs;
    * mean and Fano are one float expression each, NULL when fewer
    * than 2 gaps or a zero mean.
    *
    * Scale shape: one per-key lag window + one map-side-combined
    * aggregate. Output: (keyCol, n_events, n_gaps, mean_gap, max_gap,
    * fano), ordered by keyCol.
    */
  def interArrival(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    events
      .select(col(keyCol), col(tsCol), unix_timestamp(col(tsCol)).as("_s"),
        col(idCol))
      .withColumn("_g", col("_s") - lag(col("_s"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        count(col("_g")).as("n_gaps"),
        coalesce(sum(col("_g")), lit(0L)).as("_sg"),
        coalesce(sum(col("_g") * col("_g")), lit(0L)).as("_sgg"),
        max(col("_g")).as("max_gap"))
      .select(col(keyCol), col("n_events"), col("n_gaps"),
        when(col("n_gaps") > 0L,
          round(col("_sg").cast("double") / col("n_gaps"), 6)).as("mean_gap"),
        col("max_gap"),
        when(col("n_gaps") >= 2L && col("_sg") > 0L,
          round(((col("n_gaps").cast("double") * col("_sgg").cast("double")
            - col("_sg").cast("double") * col("_sg").cast("double"))
            / (col("n_gaps").cast("double") * (col("n_gaps") - 1)
              .cast("double")))
            / (col("_sg").cast("double") / col("n_gaps").cast("double")), 6))
          .as("fano"))
      .orderBy(keyCol)
  }
}
