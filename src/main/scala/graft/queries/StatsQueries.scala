package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Tables, TimeFeatures}
import graft.functions.Md5Family
import graft.operators._
import graft.queries.QueryHelpers._
import graft.streaming.StreamingPower

/** Sampling/statistics family: splits, stratified/temperature/weighted draws, calibration, quantiles and sketches, packing, z-order, salted/bucketed joins.
  *
  * Split from the former ExtensionQueries monolith (round 7) — query
  * bodies, registration names, and oracle SQL are unchanged;
  * [[ExtensionQueries]] concatenates every domain's `all` list.
  */
object StatsQueries {
  type Q = (SparkSession, String) => DataFrame


  /** Interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont` semantics — verified by the oracle).
    */
  private val percentiles: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 6).as("med"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"))
      .orderBy("event_type")


  /** Pivot (cross-tab): linestatus columns per returnflag — Spark's
    * pivot == manual CASE aggregation (the oracle's portable form).
    */
  private val pivotQ: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .orderBy("l_returnflag")


  /** Ranking-window family (absent from the reference, SURVEY §2.5
    * notes — added as extension coverage): row_number / rank /
    * dense_rank / lag / lead / ntile over a user-partitioned ordering.
    */
  private val rankWindows: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), col("value"),
        row_number().over(byUser).as("rn"),
        rank().over(byUser).as("rnk"),
        dense_rank().over(byUser).as("drnk"),
        lag(col("value"), 1).over(byUser).as("prev_value"),
        lead(col("value"), 1).over(byUser).as("next_value"),
        ntile(4).over(byUser).as("quartile"))
      .orderBy("user_id", "rn")
  }


  /** Deterministic hash-bucket train/val/test split (Md5Family so the
    * bucket function is engine-portable and the oracle exact).
    */
  private val hashSplit: Q = (s, dir) =>
    Sampling.split(Tables.documents(s, dir), "doc_id", hashes = Md5Family)
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")


  /** Token-budget shard packing over the hash order — oracled against
    * the global-window cumulative-sum rendering.
    */
  private val shardPack: Q = (s, dir) =>
    Packing.packByTokenBudget(Tables.documents(s, dir), "doc_id", "text",
      budgetTokens = 10000L)


  /** Canonical text normalization (lowercase / strip punctuation /
    * collapse whitespace) — pure projection.
    */
  private val normalizeQ: Q = (s, dir) =>
    TextAnalysis.normalize(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")


  /** Mixture balancing with computed rates: cap every language at ~100
    * docs, keep smaller languages whole (q70 is the fixed-rate form).
    */
  private val capGroupsQ: Q = (s, dir) =>
    Sampling.capGroups(Tables.documents(s, dir), "doc_id", "lang",
      cap = 100L, hashes = Md5Family)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")


  /** Exact-k complement of q81: exactly min(100, |lang|) docs kept per
    * language, chosen by hash order.
    */
  private val capGroupsExactQ: Q = (s, dir) =>
    Sampling.capGroupsExact(Tables.documents(s, dir), "doc_id", "lang",
      cap = 100, hashes = Md5Family)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")


  /** q128: token-budget mixture trim — each lang keeps hash-priority
    * docs until 5000 cumulative tokens (UniMax-style: budgets are in
    * tokens, not documents).
    */
  private val capTokensQ: Q = (s, dir) =>
    Sampling.capGroupsByTokens(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens")),
      "doc_id", "lang", "n_tokens", budgetTokens = 5000L, hashes = Md5Family)
      .orderBy("doc_id")


  /** Join-key skew profile over events.user_id — the pre-salting
    * diagnostic.
    */
  private val skewProfile: Q = (s, dir) =>
    SkewJoin.keySkewProfile(Tables.events(s, dir), "user_id", topN = 10)


  /** Portable approximate distinct (linear counting over md5 buckets) —
    * the oracle-checkable sibling of q47's HLL.
    */
  private val linearCount: Q = (s, dir) =>
    Sketches.linearCountDistinct(Tables.events(s, dir), col("user_id"))


  /** Corpus rebalancing: downsample the dominant language (en keeps
    * 30%), keep the rest at 80% — per-group deterministic hash
    * sampling.
    */
  private val stratified: Q = (s, dir) =>
    Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 30), defaultPct = 80, hashes = Md5Family)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")


  /** Salted skew join, oracle-checked against the PLAIN inner join —
    * the salt is pure execution strategy, invisible in the result.
    */
  private val saltedJoin: Q = (s, dir) => {
    val orders = Tables.orders(s, dir)
    val customer = Tables.customer(s, dir)
      .withColumnRenamed("c_custkey", "o_custkey")
    SkewJoin.saltedInnerJoin(orders, customer, "o_custkey",
        idCol = "o_orderkey", numSalts = 7)
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }


  /** Context-window chunking: 64-token windows every 48 tokens. */
  private val chunkQ: Q = (s, dir) =>
    Chunking.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 64, stride = 48)


  /** Morton z-value of (l_partkey, l_suppkey) — the sort key behind the
    * z-order layout (the layout write itself is spec'd in ZOrderSpec;
    * partition/file boundaries depend on range sampling, so only the
    * deterministic key computation is oracle-checked).
    */
  private val zorderQ: Q = (s, dir) =>
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      ZOrder.interleave(col("l_partkey"), col("l_suppkey")).as("z"))
      .orderBy("l_orderkey", "l_linenumber")


  /** Histogram-sketch quantiles over lineitem prices — the mergeable
    * constant-memory alternative to the exact sort-based q42.
    */
  private val histQuantiles: Q = (s, dir) =>
    Sketches.histogramQuantiles(Tables.lineitem(s, dir), "l_extendedprice")


  /** Count-min heavy hitters over the document token stream. */
  private val countMin: Q = (s, dir) =>
    Sketches.countMinTopK(
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token")),
      "token")

  /** q327: SKETCH-based join-size estimation — |lineitem ⋈ orders on
    * orderkey| predicted from two constant-size count-min sketches
    * (per-row inner product, min over rows) WITHOUT running the join,
    * certified against the exact Σ f_A·f_B. Where q227's advisor
    * needs the key-granular count tables (state ∝ distinct keys),
    * the sketch form is depth×width regardless of vocabulary and
    * MERGEABLE (the `StreamingPower.countMin` store shape) — the planning
    * primitive that still works when the key tables themselves are
    * too big to hold. The orderkey vocabulary exceeds the sketch
    * width at every SF, so the estimate genuinely carries collision
    * mass (est_ratio > 1) — the bound under test, not a degenerate
    * exact replay.
    */
  private val joinSizeSketchQ: Q = (s, dir) =>
    Sketches.joinSizeEstimate(
      Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey", width = 65536)

  /** q332: the STORE-FED form of q327 — each fact table maintains a
    * persisted count-min KEY sketch (two incremental batches here,
    * `StreamingPower.keySketchRows`), and the planner's join-size
    * readout folds the two stores and runs the AMS min-inner-product
    * with NO scan of either fact table (the q216→q324 pattern applied
    * to the planning primitive). Count-min is linear in its input, so
    * the folded store sketch == the one-shot corpus sketch exactly;
    * the exact Σ f_A·f_B certification side is recomputed from the
    * raw tables as in q327, whose oracle this shares verbatim.
    */
  private val joinSizeStoreQ: Q = (s, dir) =>
    withScratch(s, "graft_q332_jss") { scratch =>
      val pa = s"$scratch/li"
      val pb = s"$scratch/ord"
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      // the two fact tables' sketch stores are DISJOINT roots with no
      // ordering contract between them — maintain concurrently (batch
      // order stays sequential within each store); BuildTiming's union
      // accounting keeps build_s a wall-clock share
      inParallel(
        () => graft.engine.BuildTiming.timed {
          (0L to 1L).foreach { b =>
            StreamingPower.countMin.append(s, pa, b)(StreamingPower.keySketchRows(
              li.filter(pmod(col("l_orderkey"), lit(2)) === b), "l_orderkey",
              width = 65536))
          }
        },
        () => graft.engine.BuildTiming.timed {
          (0L to 1L).foreach { b =>
            StreamingPower.countMin.append(s, pb, b)(StreamingPower.keySketchRows(
              ord.filter(pmod(col("o_orderkey"), lit(2)) === b), "o_orderkey",
              width = 65536))
          }
        })
      val base = Sketches.joinSizeFromSketches(
        StreamingPower.countMin.read(s, pa), StreamingPower.countMin.read(s, pb))
      // exact side on the NATIVE long key (the string cast is the sketch
      // side's hash contract, not the join's): same groups, same matches,
      // 8-byte shuffle rows instead of decimal strings
      val exact = li.select(col("l_orderkey").as("jk")).groupBy("jk")
        .agg(count(lit(1)).as("fa"))
        .join(ord.select(col("o_orderkey").as("jk")).groupBy("jk")
          .agg(count(lit(1)).as("fb")), Seq("jk"))
        .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_join"))
      base.crossJoin(broadcast(exact))
        .select(col("n_a"), col("n_b"), col("est_join"), col("exact_join"),
          when(col("exact_join") > 0L,
            round(col("est_join").cast("double")
              / col("exact_join").cast("double"), 6)).as("est_ratio"))
    }


  /** Mixture-governance report for the temperature rebalance: per
    * language, corpus share before vs after — the number a data-mixing
    * review actually signs off on. Two tiny hash aggregates; fractions
    * divide exact integer counts so both engines agree bit-for-bit.
    */
  private val mixReport: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val kept = Sampling.temperatureSample(docs, "doc_id", "lang",
      targetFrac = 0.5, hashes = Md5Family)
    val before = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
    val after = kept.groupBy("lang").agg(count(lit(1)).as("n_after"))
    val joined = before.join(after, Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
    val totals = joined.agg(sum(col("n_before")).as("_tb"),
      sum(col("n_after")).as("_ta"))
    joined.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_before"), col("n_after"),
        round(col("n_before") / col("_tb"), 6).as("frac_before"),
        round(col("n_after") / col("_ta"), 6).as("frac_after"))
      .orderBy("lang")
  }


  /** Per-language document-length quantiles off the mergeable
    * fixed-edge histogram (declared [0, 5000)×500 bins) — the grouped,
    * constant-memory alternative to exact percentiles.
    */
  private val groupedQuantilesQ: Q = (s, dir) =>
    Sketches.groupedHistogramQuantiles(Tables.documents(s, dir), "lang",
      "n_chars", lo = 0.0, hi = 5000.0, bins = 500)


  /** The composed data-mixing stage — what a training-data pipeline
    * actually ships: temperature-rebalance the corpus (q95's rule),
    * then lay the kept docs into a reproducible epoch-1 training
    * order (q97's rule). Operators compose as plain DataFrame
    * transforms; the corpus is touched by one broadcast-join filter
    * and one shard exchange end to end.
    */
  private val mixturePipeline: Q = (s, dir) => {
    val sampled = Sampling.temperatureSample(Tables.documents(s, dir),
      "doc_id", "lang", targetFrac = 0.5, hashes = Md5Family)
    Sampling.epochShuffle(sampled, "doc_id", epoch = 1, numShards = 8,
      hashes = Md5Family)
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }


  /** Per-file footer-stats report for the z-order layout: each z-range
    * cell's (partkey, suppkey) bounding box plus the would-read flags
    * for one range predicate per axis — the file-skipping evidence.
    */
  private val zorderStatsQ: Q = (s, dir) =>
    ZOrder.pruningStats(Tables.lineitem(s, dir), "l_partkey", "l_suppkey",
      xLo = 100L, xHi = 300L, yLo = 10L, yHi = 20L)
      .orderBy("file")


  /** Epoch-1 deterministic training shuffle into 8 shards. */
  private val epochShuffleQ: Q = (s, dir) =>
    Sampling.epochShuffle(Tables.documents(s, dir), "doc_id", epoch = 1,
      numShards = 8, hashes = Md5Family)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")


  /** α=0.5 temperature rebalancing by language, half-corpus target. */
  private val temperatureQ: Q = (s, dir) =>
    Sampling.temperatureSample(Tables.documents(s, dir), "doc_id", "lang",
      targetFrac = 0.5, hashes = Md5Family)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")


  /** q119: winsorization — event values clamped to the [p05, p95]
    * band estimated from the mergeable fixed-bin histogram (q88's
    * machinery reused as thresholds; clamp is map-side).
    */
  private val winsorizeQ: Q = (s, dir) =>
    Sketches.winsorize(Tables.events(s, dir), "event_id", "value")
      .orderBy("event_id")


  /** q121: the documents → training-sequences layout path, composed
    * end-to-end: context-window chunking (q83's 64/48 windows) feeding
    * token-budget shard packing (q72's distributed prefix sum) keyed
    * by a per-chunk id. Plain DataFrame composition — no new
    * machinery, which is the point.
    */
  private val chunkPackQ: Q = (s, dir) => {
    val chunks = Chunking.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 64, stride = 48)
      .select(concat(col("doc_id").cast("string"), lit(":"),
        col("chunk_id").cast("string")).as("chunk_key"),
        col("chunk_text"))
    Packing.packByTokenBudget(chunks, "chunk_key", "chunk_text",
      budgetTokens = 2000L)
      .orderBy("chunk_key")
  }


  /** q134: quality-weighted mixture draw — Efraimidis–Spirakis
    * weighted sampling without replacement, 3 docs per source with
    * inclusion probability ∝ n_chars. The u draws are Md5Family-
    * deterministic, so DuckDB reproduces the "random" sample
    * bit-for-bit: the hash match certifies the weighting math, not
    * just the plumbing. Output carries only integers (rank + row
    * columns) — the continuous float key never leaves the plan, so
    * there is no cross-engine float-rounding surface at all.
    */
  private val weightedSampleQ: Q = (s, dir) =>
    Sampling.weightedSample(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 3, groupCol = "source")
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy("source", "rank")


  /** q314: isotonic score calibration — the weighted-PAV monotone
    * projection of per-bin purchase rate against the event value, via
    * the minimax closed form (`Sampling.isotonicCalibration`). The
    * oracle replays the identical pipeline in SQL: one bin aggregate,
    * prefix sums, pair means as single integer/integer divisions, and
    * the max-of-min fold — every intermediate is either an exact long
    * or a division of two exact longs, so the monotone fit
    * hash-matches bit-for-bit; only the readout rounds. 16 bins of
    * width 8 cover the value range at every SF (values clamp into the
    * top bin).
    */
  private val isotonicQ: Q = (s, dir) =>
    Sampling.isotonicCalibration(
      Tables.events(s, dir).filter(col("value").isNotNull),
      col("value"), col("event_type") === "purchase",
      bins = 16, binWidth = 8.0)

  /** Shared CTE chain through the per-bin isotonic fit — used by the
    * q314/q316 oracle and q323's calibration-error readout.
    */
  private val isotonicCtes: String =
    """binned AS MATERIALIZED (
      |  SELECT least(15, greatest(0, CAST(floor(value / 8e0) AS INTEGER)))
      |      AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |pref AS MATERIALIZED (
      |  SELECT bin, n, pos,
      |    SUM(n) OVER (ORDER BY bin) AS cn,
      |    SUM(pos) OVER (ORDER BY bin) AS cp
      |  FROM binned),
      |pm AS MATERIALIZED (
      |  SELECT l.bin AS j, h.bin AS k,
      |    CAST(h.cp - (l.cp - l.pos) AS DOUBLE)
      |      / CAST(h.cn - (l.cn - l.n) AS DOUBLE) AS m
      |  FROM pref l JOIN pref h ON l.bin <= h.bin),
      |mins AS (
      |  SELECT b.bin, p.j, min(p.m) AS mmin
      |  FROM binned b JOIN pm p ON p.j <= b.bin AND p.k >= b.bin
      |  GROUP BY b.bin, p.j),
      |fit AS (SELECT bin, max(mmin) AS iso FROM mins GROUP BY bin),
      |rows2 AS MATERIALIZED (
      |  SELECT CAST(b.bin AS INTEGER) AS bin, b.n, b.pos,
      |    round(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
      |      AS raw_rate,
      |    round(f.iso, 6) AS iso_rate
      |  FROM binned b JOIN fit f ON f.bin = b.bin)""".stripMargin

  private val isotonicOracle: String =
    s"""WITH $isotonicCtes
       |SELECT bin, n, pos, raw_rate, iso_rate FROM rows2
       |ORDER BY bin""".stripMargin

  /** q322: 1-D Wasserstein-1 drift — the earth-mover's distance
    * between the click and view value distributions over a 32-bin
    * grid (`StatTests.wasserstein1`): cross-multiplied integer CDFs,
    * empty bins included (the CDF gap persists across them), one
    * final division. The metric-aware sibling of q116/q256's
    * PSI-family monitors.
    */
  private val wassersteinQ: Q = (s, dir) =>
    StatTests.wasserstein1(
      Tables.events(s, dir).filter(col("value").isNotNull),
      "value", "event_type", "click", "view", lo = 0.0, hi = 320.0,
      bins = 32)

  lazy val wassersteinOracle: String =
    """WITH ev AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
      |    least(greatest(CAST(floor(value / 10e0) AS BIGINT), 0), 31)
      |      AS bin
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
      |c AS (SELECT bin, CAST(SUM(is_a) AS BIGINT) AS ca,
      |    CAST(SUM(1 - is_a) AS BIGINT) AS cb
      |  FROM ev GROUP BY 1),
      |f AS MATERIALIZED (SELECT g.bin, coalesce(c.ca, 0) AS ca,
      |    coalesce(c.cb, 0) AS cb
      |  FROM (SELECT unnest(generate_series(0, 31)) AS bin) g
      |  LEFT JOIN c USING (bin)),
      |cum AS (SELECT bin,
      |    CAST(SUM(ca) OVER (ORDER BY bin) AS BIGINT) AS cuma,
      |    CAST(SUM(cb) OVER (ORDER BY bin) AS BIGINT) AS cumb
      |  FROM f),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM f)
      |SELECT t.na AS n_a, t.nb AS n_b,
      |  round(CAST(SUM(abs(cum.cuma * t.nb - cum.cumb * t.na))
      |      AS DOUBLE) * 10e0 / CAST(t.na * t.nb AS DOUBLE), 6) AS w1
      |FROM cum, t GROUP BY t.na, t.nb""".stripMargin

  /** q323: calibration-error readout over the q314 isotonic fit —
    * ECE (how far pooling moved the raw rates) plus the Murphy
    * decomposition (reliability/resolution/uncertainty) with the fit
    * as the forecast. Shares q314's CTE chain; per-bin terms
    * nano-quantize at birth over the already-deterministic 6dp rates.
    */
  private val calibrationErrorQ: Q = (s, dir) =>
    Sampling.calibrationErrorReport(
      Sampling.isotonicCalibration(
        Tables.events(s, dir).filter(col("value").isNotNull),
        col("value"), col("event_type") === "purchase",
        bins = 16, binWidth = 8.0))

  private val calibrationErrorOracle: String =
    s"""WITH $isotonicCtes,
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
       |    CAST(SUM(pos) AS BIGINT) AS pt FROM rows2),
       |tm AS (SELECT r.n, r.raw_rate, r.iso_rate, t.nt, t.pt,
       |    CAST(t.pt AS DOUBLE) / CAST(t.nt AS DOUBLE) AS pbar,
       |    CAST(round(r.n * abs(r.raw_rate - r.iso_rate) * 1e9)
       |      AS BIGINT) AS e_nano,
       |    CAST(round(r.n * (r.iso_rate - r.raw_rate)
       |      * (r.iso_rate - r.raw_rate) * 1e9) AS BIGINT) AS l_nano,
       |    CAST(round(r.n * (r.raw_rate
       |        - CAST(t.pt AS DOUBLE) / CAST(t.nt AS DOUBLE))
       |      * (r.raw_rate
       |        - CAST(t.pt AS DOUBLE) / CAST(t.nt AS DOUBLE)) * 1e9)
       |      AS BIGINT) AS r_nano
       |  FROM rows2 r, t)
       |SELECT nt AS n_total, CAST(count(*) AS INTEGER) AS n_bins,
       |  round(CAST(SUM(e_nano) AS DOUBLE) / nt / 1e9, 6) AS ece,
       |  round(CAST(SUM(l_nano) AS DOUBLE) / nt / 1e9, 6) AS reliability,
       |  round(CAST(SUM(r_nano) AS DOUBLE) / nt / 1e9, 6) AS resolution,
       |  round(pbar * (1e0 - pbar), 6) AS uncertainty
       |FROM tm GROUP BY nt, pbar""".stripMargin

  /** q321: Sinkhorn mixture transport (`Transport.sinkhornPlan`) —
    * the entropic-OT plan moving per-source corpus mass onto a
    * UNIFORM language target, with cost 1e6 − share_ppm(lang | src)
    * (a source aligned with a language moves mass there cheaply).
    * Supply/demand/cost are all exact integer ppm from hash
    * aggregates; the oracle replays the Gibbs kernel and SIX unrolled
    * scaling rounds (MATERIALIZED per round — the q231 inlining rule)
    * bit-identically.
    */
  private val sinkhornQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val bySrc = docs.groupBy(col("source").as("src"))
      .agg(count(lit(1)).as("_n"))
      .localCheckpoint() // supply AND the cost grid
    val supply = bySrc
      .crossJoin(broadcast(bySrc.agg(sum("_n").as("_t"))))
      .select(col("src"), expr("_n * 1000000L div _t").as("a_ppm"))
    val langs = docs.select(col("lang").as("dst")).distinct()
      .localCheckpoint() // demand AND the grid
    val demand = langs
      .crossJoin(broadcast(langs.agg(count(lit(1)).as("_m"))))
      .select(col("dst"), expr("1000000L div _m").as("b_ppm"))
    val cell = docs
      .groupBy(col("source").as("src"), col("lang").as("dst"))
      .agg(count(lit(1)).as("_c"))
    val cost = bySrc.crossJoin(broadcast(langs))
      .join(cell, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        expr("1000000L - coalesce(_c, 0L) * 1000000L div _n")
          .as("cost_ppm"))
    Transport.sinkhornPlan(supply, demand, cost)
  }

  private val sinkhornOracle: String = {
    val rounds = (1 to 6).map { r =>
      val pu = if (r == 1) "v0" else s"v${r - 1}"
      s"""u$r AS MATERIALIZED (SELECT a.src,
         |    a.a_ppm * 1000000000000 // kv.s AS u
         |  FROM a JOIN (SELECT k.src,
         |      CAST(SUM(k.k_ppm * $pu.v) AS BIGINT) AS s
         |    FROM kk k JOIN $pu ON $pu.dst = k.dst GROUP BY 1) kv
         |    ON kv.src = a.src),
         |v$r AS MATERIALIZED (SELECT b.dst,
         |    b.b_ppm * 1000000000000 // ku.s AS v
         |  FROM b JOIN (SELECT k.dst,
         |      CAST(SUM(k.k_ppm * u$r.u) AS BIGINT) AS s
         |    FROM kk k JOIN u$r ON u$r.src = k.src GROUP BY 1) ku
         |    ON ku.dst = b.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH bysrc AS MATERIALIZED (
       |  SELECT source AS src, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM bysrc),
       |a AS MATERIALIZED (SELECT src, n * 1000000 // t AS a_ppm
       |  FROM bysrc, tot),
       |langs AS (SELECT DISTINCT lang AS dst FROM documents),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS m FROM langs),
       |b AS MATERIALIZED (SELECT dst, 1000000 // m AS b_ppm
       |  FROM langs, nl),
       |cell AS (SELECT source AS src, lang AS dst,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |cost AS (SELECT s2.src, l.dst,
       |    1000000 - coalesce(c.c, 0) * 1000000 // s2.n AS cost_ppm
       |  FROM bysrc s2 CROSS JOIN langs l
       |  LEFT JOIN cell c ON c.src = s2.src AND c.dst = l.dst),
       |kk AS MATERIALIZED (SELECT src, dst,
       |    greatest(1, CAST(round(exp((-cost_ppm) / 200000e0)
       |      * 1000000e0) AS BIGINT)) AS k_ppm
       |  FROM cost),
       |v0 AS (SELECT dst, CAST(1000000 AS BIGINT) AS v FROM b),
       |$rounds
       |SELECT k.src, k.dst,
       |  round(CAST(u6.u * k.k_ppm * v6.v AS DOUBLE) / 1e18, 6) AS plan
       |FROM kk k
       |JOIN u6 ON u6.src = k.src
       |JOIN v6 ON v6.dst = k.dst
       |ORDER BY k.src, k.dst""".stripMargin
  }

  /** q316: the STREAMED form of q314 — the isotonic calibration
    * readout over a per-bin outcome-count store fed three disjoint
    * event slices, with batch 1 RE-DELIVERED (the committed-skip
    * guard must absorb the retry — count stores double on naive
    * re-appends), then compacted. Counts merge by summation, so the
    * minimax fold over the merged bins is identical to the one-shot
    * fit: shares q314's oracle verbatim.
    */
  private val calibrationStoreQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .withColumn("_hit", (col("event_type") === "purchase").cast("int"))
    withScratch(s, "graft_q316_calib") { scratch =>
      val store = scratch + "/calib"
      // batch 1 twice: a re-delivered micro-batch, which the _SUCCESS
      // guard makes a no-op
      Seq(0L, 1L, 2L, 1L).foreach { b =>
        StreamingPower.calibration.append(s, store, b)(StreamingPower
          .calibrationRows(ev.filter(col("event_id") % 3 === b), "value",
            "_hit", bins = 16, binWidth = 8.0))
      }
      StreamingPower.calibration.compact(s, store)
      Sampling.isotonicFromBins(StreamingPower.calibration.read(s, store))
    }
  }

  /** q317: cumulative gains / lift table — the decile targeting
    * readout over the event value as a purchase score
    * (`StatTests.gainsTable`). The Spark side ranks via the
    * distributed range-partition prefix sum; the oracle uses the
    * plain global window — both produce the SAME total order
    * ((value desc, event_id) is unique), and band membership is the
    * exact integer ((rank−1)·10) div N, so the table hash-matches.
    */
  private val gainsQ: Q = (s, dir) =>
    StatTests.gainsTable(
      Tables.events(s, dir).filter(col("value").isNotNull),
      "event_id", "value", col("event_type") === "purchase", buckets = 10)

  private val gainsOracle: String =
    """WITH r AS MATERIALIZED (
      |  SELECT event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS h,
      |    row_number() OVER (ORDER BY value DESC, event_id) AS rn
      |  FROM events WHERE value IS NOT NULL),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n0,
      |    CAST(SUM(h) AS BIGINT) AS p0 FROM r),
      |g AS (SELECT CAST(((rn - 1) * 10) // (SELECT n0 FROM t)
      |      AS INTEGER) AS band,
      |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(h) AS BIGINT) AS pos
      |  FROM r GROUP BY 1),
      |c AS (SELECT band, n, pos,
      |    CAST(SUM(pos) OVER (ORDER BY band) AS BIGINT) AS cum_pos
      |  FROM g)
      |SELECT band, n, pos,
      |  round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
      |    / (CAST(t.p0 AS DOUBLE) / CAST(t.n0 AS DOUBLE)), 6) AS lift,
      |  round(CAST(cum_pos AS DOUBLE) / CAST(t.p0 AS DOUBLE), 6)
      |    AS capture
      |FROM c, t ORDER BY band""".stripMargin

  /** q315: per-slice ROC-AUC (Mann–Whitney U) — does the event value
    * separate purchases from non-purchases, sliced by day-of-week
    * (`StatTests.mannWhitneyAuc`). 2U accumulates as an exact long via
    * per-distinct-value positive/negative counts and a prefix sum
    * (ties exact, no rank jitter); AUC is one long/long division, the
    * tie-corrected z a fixed double chain, p the ppm-quantized A-S
    * tail — the whole row set hash-matches bit-for-bit.
    */
  private val aucQ: Q = (s, dir) =>
    StatTests.mannWhitneyAuc(
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(TimeFeatures.dayOfWeek0Sun(col("ts")).as("dow"),
          col("value"), col("event_type")),
      "dow", "value", col("event_type") === "purchase")

  private val aucOracle: String =
    """WITH ev AS (
      |  SELECT dayofweek(ts) AS g, value AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS h
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |bv AS (SELECT g, v, CAST(SUM(h) AS BIGINT) AS pos,
      |    CAST(count(*) - SUM(h) AS BIGINT) AS neg
      |  FROM ev GROUP BY 1, 2),
      |c AS (SELECT g, pos, neg,
      |    CAST(SUM(neg) OVER (PARTITION BY g ORDER BY v)
      |      - neg AS BIGINT) AS negb,
      |    pos + neg AS t
      |  FROM bv),
      |agg AS (SELECT g,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    CAST(SUM(pos * (2 * negb + neg)) AS BIGINT) AS u2,
      |    CAST(SUM(t * t * t - t) AS BIGINT) AS s
      |  FROM c GROUP BY 1
      |  HAVING SUM(pos) > 0 AND SUM(neg) > 0),
      |fin AS (SELECT g, n_pos, n_neg, u2,
      |    CAST(n_pos * n_neg AS DOUBLE) AS prod,
      |    CAST(u2 - n_pos * n_neg AS DOUBLE)
      |      / (2e0 * sqrt(CAST(n_pos * n_neg AS DOUBLE) / 12e0
      |        * (CAST(n_pos + n_neg + 1 AS DOUBLE)
      |          - CAST(s AS DOUBLE)
      |            / CAST((n_pos + n_neg) * (n_pos + n_neg - 1)
      |              AS DOUBLE)))) AS z
      |  FROM agg)
      |SELECT CAST(g AS INTEGER) AS dow, n_pos, n_neg,
      |  round(CAST(u2 AS DOUBLE) / (2e0 * prod), 6) AS auc,
      |  round(z, 6) + 0e0 AS z,
      |  CAST(round(exp(-0.5e0 * abs(z) * abs(z))
      |    * 0.3989422804014327e0
      |    * (((((1.330274429e0 * tt + -1.821255978e0) * tt
      |        + 1.781477937e0) * tt + -0.356563782e0) * tt
      |        + 0.319381530e0) * tt)
      |    * 2e6) AS BIGINT) AS p_ppm
      |FROM (SELECT *, 1e0 / (1e0 + 0.2316419e0 * abs(z)) AS tt FROM fin)
      |ORDER BY dow""".stripMargin

  /** q195: per-source data card — the "datasheets for datasets" rollup
    * every release ships: volume (docs, tokens, chars), language
    * spread, and the within-source exact-duplicate mass, one row per
    * provenance slice. Counts exact; mean_chars is one division.
    */
  private val dataCardQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val base = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextAnalysis.wsTokens(col("text")))).as("n_tokens"),
      sum(col("n_chars")).as("n_chars_total"),
      countDistinct(col("lang")).as("n_langs"),
      round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
        .as("mean_chars"))
    val dups = docs.select(col("source"), md5(col("text")).as("_d"))
      .groupBy("source", "_d").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .groupBy("source").agg(sum(col("_c") - 1).as("n_dup_docs"))
    base.join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars_total"), col("n_langs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        col("mean_chars"))
      .orderBy("source")
  }


  /** q193: k-anonymity over the (lang, source, length-bucket) quasi
    * identifiers — the dataset-release privacy check, reported as the
    * exact equivalence-class-size histogram with a below-k flag.
    */
  private val kAnonQ: Q = (s, dir) =>
    Profile.kAnonymity(
      Tables.documents(s, dir)
        .withColumn("lb", least(expr("n_chars div 64"), lit(9L))),
      Seq("lang", "source", "lb"), kMin = 5)


  /** q190: histogram matching — thin the raw (non-src0) corpus so its
    * doc-length distribution matches src0's (64-char buckets, top
    * capped), reported per bucket with exact-integer acceptance and
    * kept counts.
    */
  private val histMatchQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("lb", least(expr("n_chars div 64"), lit(9L)))
    Sampling.histogramMatch(docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "lb")
  }


  /** q185: DSIR importance resampling toward the "curated" sources
    * (src0/src1 as the target domain) — hashed-unigram log-likelihood
    * ratios, Gumbel-top-100 selection.
    */
  private val dsirQ: Q = (s, dir) =>
    Sampling.importanceResample(
      Tables.documents(s, dir)
        .withColumn("tgt",
          when(col("source").isin("src0", "src1"), 1).otherwise(0)),
      "doc_id", "text", "tgt", n = 100)


  /** q135: bucketed co-located join — orders ⋈ customer on the
    * customer key with BOTH sides pre-bucketed, so the join itself
    * plans zero ShuffleExchange (BucketingSpec asserts the plan
    * shape; this query hash-verifies that the exchange-free layout
    * computes the same answer as the oracle's plain join). The
    * layout write is part of the query on purpose: at scale it is
    * the one-off cost a pipeline amortizes across every downstream
    * join, same as q85's z-order range shuffle.
    */
  private val bucketedJoinQ: Q = (s, dir) => {
    // catalog tables unique per call, dropped even when the query fails
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ot, ct) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
    try withScratch(s, "graft_q135_bkt") { scratch =>
      Bucketing.writeBucketed(s,
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, scratch + "/orders", 8, Seq("o_custkey"))
      Bucketing.writeBucketed(s,
        Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
        ct, scratch + "/customer", 8, Seq("c_custkey"))
      Bucketing.colocatedJoin(s, ot, ct, "o_custkey", "c_custkey")
        .groupBy("c_mktsegment")
        // revenue in exact integer cents: double sums over a shuffled
        // join visit rows in engine-dependent order, so order-varying
        // cross-engine sums accumulate as exact integers
        .agg(count(lit(1)).as("orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    } finally Bucketing.dropTables(s, ot, ct)
  }


  /** q150: per-language score calibration of document lengths —
    * z-score against the group's own moments + in-group percentile
    * rank (`Sampling.scoreCalibration`): the step that makes a global
    * quality threshold language-fair.
    */
  private val scoreCalibrationQ: Q = (s, dir) =>
    Sampling.scoreCalibration(Tables.documents(s, dir),
      "doc_id", "lang", "n_chars")


  /** q154: robust per-language calibration — median/MAD z-scores and
    * deterministic decile bins (`Sampling.robustCalibration`), the
    * outlier-proof sibling of q150 plus the curriculum-binning
    * primitive.
    */
  private val robustCalibrationQ: Q = (s, dir) =>
    Sampling.robustCalibration(Tables.documents(s, dir),
      "doc_id", "lang", "n_chars")


  /** q165: column-level profiling (`Profile.columnProfile`) — one scan,
    * one (column, value) histogram shuffle, everything else on the
    * collapsed frame. Float columns stay out per the cross-engine
    * string-rendering rule (documents has none).
    */
  private val columnProfileQ: Q = (s, dir) =>
    Profile.columnProfile(Tables.documents(s, dir),
      Seq("doc_id", "lang", "n_chars", "source", "text"))

  /** q209: embedding-table audit — per-label exact counts, dim
    * bounds, zero/non-finite counts, mean L2 norm (per-element pico
    * quantization keeps the fold order-invariant).
    */
  private val embAuditQ: Q = (s, dir) =>
    Profile.embeddingAudit(Tables.embeddings(s, dir))

  /** q210: join-key skew report over lineitem.l_orderkey — exact
    * frequency distribution summary + the salting factor a 100 TB
    * join would apply; everything after the key count runs on the
    * frequency-of-frequency table.
    */
  private val skewReportQ: Q = (s, dir) =>
    Profile.keySkewReport(Tables.lineitem(s, dir), "l_orderkey")

  /** q213: PSI of the event value distribution, click vs view — the
    * drift monitor's stability index (Laplace-smoothed, 10 bins over
    * [0, 500)).
    */
  private val psiQ: Q = (s, dir) =>
    StatTests.psi(Tables.events(s, dir), "value", "event_type",
      "click", "view", lo = 0.0, hi = 500.0)

  /** q214: exact two-sample KS statistic, click vs view values —
    * integer-exact max CDF gap, one division.
    */
  private val ksQ: Q = (s, dir) =>
    StatTests.ksTest(Tables.events(s, dir), "value", "event_type",
      "click", "view")

  /** q215: chi-square independence of documents lang × source —
    * per-cell nanos quantized at birth over exact counts.
    */
  private val chi2Q: Q = (s, dir) =>
    StatTests.chiSquare(Tables.documents(s, dir), "lang", "source")

  /** q217: categorical PSI of the language mix between two provenance
    * slices — the source-mix drift monitor.
    */
  private val catPsiQ: Q = (s, dir) =>
    StatTests.psiCategorical(Tables.documents(s, dir), "lang", "source",
      "src0", "src1")

  /** q219: adjusted Rand index between the language and provenance
    * partitionings of the corpus — the clustering-agreement audit
    * (chance-corrected; pairs with q215's significance view).
    */
  private val ariQ: Q = (s, dir) =>
    StatTests.adjustedRandIndex(Tables.documents(s, dir), "lang", "source")

  /** q220: mutual information / NMI of documents lang × source — the
    * association-strength companion to q215's chi-square.
    */
  private val miQ: Q = (s, dir) =>
    StatTests.mutualInformation(Tables.documents(s, dir), "lang", "source")

  /** q221: Spearman rank correlation between character length and
    * whitespace token count — the monotone-agreement check between
    * two quality signals (average-rank ties, exact integer sums).
    */
  private val spearmanQ: Q = (s, dir) =>
    StatTests.spearman(
      Tables.documents(s, dir)
        .select(col("n_chars"),
          size(TextAnalysis.wsTokens(col("text"))).as("n_tok")),
      "n_chars", "n_tok")

  /** q222: per-source Gini concentration of character mass across
    * documents — the dataset-balance number a mixture review reads
    * next to q210's key-skew report.
    */
  private val giniQ: Q = (s, dir) =>
    Profile.giniConcentration(Tables.documents(s, dir), "source", "n_chars")

  /** q328: split BALANCE audit — is the q325 temporal cut
    * demographically fair? χ² of independence between the split
    * assignment and each governance dimension (lang, source): a
    * time-ordered cut can silently skew the mixture (a source that
    * arrived late lands entirely in test), which per-pair leakage
    * audits never see. One distributed-rank split + two chi-square
    * tests over the same joined frame; dof and the nano-quantized χ²
    * per feature, the q215 discipline.
    */
  private val splitBalanceQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val sp = Sampling.temporalSplit(docs, "doc_id", "doc_id")
    val joined = docs.select("doc_id", "lang", "source")
      .join(sp, Seq("doc_id"))
      .localCheckpoint() // feeds both feature tests
    def one(c: String) = StatTests.chiSquare(joined, "split", c)
      .withColumn("feature", lit(c))
    one("lang").unionByName(one("source"))
      .select(col("feature"), col("n_items"), col("n_rows_cat"),
        col("n_cols_cat"), col("dof"), col("chi2"))
      .orderBy("feature")
  }

  /** q333: split BALANCE audit over the CLUSTER split — q328's χ²
    * independence test composed over q142's leakage-safe assignment
    * (the split × governance cell the temporal audit doesn't cover:
    * cluster-hash splits are leakage-proof by construction but can
    * still skew the lang/source mixture when near-dup clusters
    * correlate with provenance). Pairs come off the shared PairStore,
    * so the whole audit is store-read + CC + two chi-square chains.
    */
  private val clusterBalanceQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val pairs = DedupQueries.storedPairs(s, dir)
      .filter(col("signal") === "ngram").select("doc_a", "doc_b")
    val sp = Sampling.clusterAwareSplit(docs, "doc_id", pairs,
      "doc_a", "doc_b", hashes = Md5Family).select("doc_id", "split")
    val joined = docs.select("doc_id", "lang", "source")
      .join(sp, Seq("doc_id"))
      .localCheckpoint() // feeds both feature tests
    def one(c: String) = StatTests.chiSquare(joined, "split", c)
      .withColumn("feature", lit(c))
    one("lang").unionByName(one("source"))
      .select(col("feature"), col("n_items"), col("n_rows_cat"),
        col("n_cols_cat"), col("dof"), col("chi2"))
      .orderBy("feature")
  }

  /** q225: rendezvous (highest-random-weight) sharding of the corpus,
    * 8 shards vs 9 — the stable re-sharding rule: a moved doc can
    * only have moved TO the new shard (PropertySpec asserts it).
    */
  private val rendezvousQ: Q = (s, dir) =>
    Sampling.rendezvousShards(
      Tables.documents(s, dir).select("doc_id"), "doc_id", numShards = 8,
      hashes = Md5Family)

  /** q227: pre-join cardinality/skew advisor for orders ⋈ lineitem on
    * the order key — exact join-size estimate from the two count
    * tables, hottest key, and the salting factor, without running the
    * join.
    */
  private val joinSizeQ: Q = (s, dir) =>
    SkewJoin.joinSizeEstimate(Tables.orders(s, dir), Tables.lineitem(s, dir),
      "o_orderkey", "l_orderkey")

  /** q228: curriculum interleave — 10 length-difficulty bins,
    * hash-shuffled within bin, round-robined globally by pure
    * arithmetic (no global sort window).
    */
  private val curriculumQ: Q = (s, dir) =>
    Sampling.curriculumInterleave(
      Tables.documents(s, dir)
        .withColumn("bin", least(expr("n_chars div 256"), lit(9L)) + lit(1L)),
      "doc_id", "bin", nBins = 10, hashes = Md5Family)

  /** q231: uniform-target mixture by water-filling at an 80% budget —
    * the four smaller languages saturate (kept whole) and their
    * unused share refills en's quota; exact long rounds, md5
    * membership.
    */
  private val waterFillQ: Q = (s, dir) =>
    Sampling.waterFillMix(Tables.documents(s, dir), "doc_id", "lang",
      targetPpm = 800000L, hashes = Md5Family)

  /** q233: per-language 5% trimmed mean of document length — the
    * robust location estimate; drop counts exact, ONE division.
    */
  private val trimmedMeanQ: Q = (s, dir) =>
    Profile.trimmedMean(Tables.documents(s, dir), "lang", "n_chars",
      "doc_id", trimPct = 5)

  /** q236: deterministic two-coin Poisson-bootstrap CI for the mean
    * document length — per-replica means exact nanos, percentile band
    * over 200 replicas.
    */
  private val bootstrapQ: Q = (s, dir) =>
    Sampling.bootstrapCiMean(Tables.documents(s, dir), "doc_id",
      "n_chars", b = 200, alphaPct = 5, hashes = Md5Family)

  /** q237: padding-waste report at batch size 16 — length-sorted
    * batching vs the hashed baseline; the gap is what a bucketing
    * stage buys the trainer.
    */
  private val paddingQ: Q = (s, dir) =>
    Packing.paddingReport(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).as("n_tok")),
      "doc_id", "n_tok", batchSize = 16, hashes = Md5Family)

  /** q238: order-invariant table fingerprint of the documents table —
    * the copy/compaction integrity check (duplicates fold to
    * (row_hash, count) first so xor cannot cancel them).
    */
  private val fingerprintQ: Q = (s, dir) =>
    Profile.tableFingerprint(Tables.documents(s, dir),
      Seq("doc_id", "lang", "source", "n_chars", "text"))

  /** q246: Neyman allocation of a 100-doc audit budget across
    * language strata — n_h ∝ N_h·s_h with exact largest-remainder
    * rounding (Σ alloc = budget exactly).
    */
  private val neymanQ: Q = (s, dir) =>
    Sampling.neymanAllocation(Tables.documents(s, dir), "lang", "n_chars",
      budget = 100L)

  /** q257: Benford first-digit audit of order totals — the
    * organic-magnitude law check a financial/telemetry onboarding
    * runs; digits by exact integer-string extraction, expectations by
    * ln of fixed rationals.
    */
  private val benfordQ: Q = (s, dir) =>
    Profile.benford(Tables.orders(s, dir), "o_totalprice")

  /** q259: split-conformal outlier band on order totals per market
    * segment — distribution-free ≥90% coverage from exact order
    * statistics over an md5 calibration split; the reported eval
    * coverage audits the guarantee.
    */
  private val conformalQ: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    Sampling.conformalOutlierReport(
      o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
      "o_orderkey", "c_mktsegment", "o_totalprice", alphaPct = 10)
  }

  /** q260: WOE / information-value screen of order totals against
    * order completion — fixed-width bins (never ntile), exact counts,
    * ln of exact rationals; per-bin IV contributions only (a global
    * float sum would be order-dependent).
    */
  private val woeIvQ: Q = (s, dir) =>
    Classifier.woeIv(
      Tables.orders(s, dir)
        .withColumn("label", col("o_orderstatus") === "F"),
      "o_totalprice", "label", binWidth = 75000.0, maxBin = 7)

  /** q291: Fellegi–Sunter probabilistic record linkage — a
    * closed-form dirty "CRM" second source links back to customers
    * through nationkey blocking; each agreement pattern (name,
    * segment, balance±10¢) reports its pair count, TRUE-match count
    * (fixture ground truth), and ppm-quantized FS score
    * (frequency-estimated u, declared m). The oracle replays source
    * dirt, blocking, u-estimation, and the log2 weights; the
    * n_true column certifies that high-score patterns are where the
    * real matches live.
    */
  private val linkageQ: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    Linkage.fellegiSunterPatterns(cust, Linkage.crmSnapshot(cust))
  }

  /** q296: Bradley–Terry preference-strength fitting — per-user
    * event-type "contests" (higher exact-integer value total wins)
    * aggregate to a win matrix; 8 unrolled MM rounds with ppm/nano
    * quantization recover latent strengths. The oracle replays the
    * contests AND the full iteration chain, so the hash certifies the
    * recurrence, not just the final join.
    */
  private val bradleyTerryQ: Q = (s, dir) => {
    val pu = Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(sum(round(col("value") * 1e6).cast("long")).as("v"))
      .localCheckpoint() // self-joined below
    val matches = pu.as("x").join(pu.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .select(
        when(col("x.v") > col("y.v"), col("x.event_type"))
          .otherwise(col("y.event_type")).as("a"),
        when(col("x.v") > col("y.v"), col("y.event_type"))
          .otherwise(col("x.event_type")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("wins"))
    Experiment.bradleyTerry(matches, rounds = 8)
  }

  /** q297: Benjamini–Hochberg FDR over per-source proportion tests —
    * which of the 20 sources' short-doc rates really moved vs the
    * pooled rate. Exact-integer BH comparison (p_ppm·m ≤ rank·50000),
    * A-S normal tail mirrored in the oracle.
    */
  private val fdrSlicesQ: Q = (s, dir) =>
    StatTests.proportionFdr(Tables.documents(s, dir), "source",
      col("n_chars") < 500)

  /** q298: HLL set algebra — returned-parts vs open-lineitem-parts:
    * |A|, |B|, register-MAX |A∪B|, inclusion–exclusion |A∩B| and
    * containment, all from three constant-size register frames (the
    * q47 portable HLL, so the whole algebra replays in SQL).
    */
  private val hllSetOpsQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    Sketches.hllSetOps(
      li.filter(col("l_returnflag") === "R"), col("l_partkey"),
      li.filter(col("l_linestatus") === "O"), col("l_partkey"))
  }

  // q185: bucket counts exact; each bucket's log-ratio quantizes to
  // nanos in the identical float expression; per-doc importance is
  // an exact integer sum; the Gumbel score is one per-doc float
  // expression on exact inputs (md5-derived uniforms, id tie-break).
  // Shared verbatim by q186 (the streamed model must score
  // indistinguishably from the one-shot sampler).
  private[queries] lazy val dsirOracle: String =
      s"""WITH d AS (SELECT doc_id,
        |    CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS tgt,
        |    string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, tgt, ${md5l("tok")} % 256 AS bucket
        |  FROM (SELECT doc_id, tgt, unnest(t) AS tok FROM d)),
        |bs AS (SELECT bucket, CAST(SUM(tgt) AS BIGINT) AS tc,
        |    CAST(count(*) AS BIGINT) AS rc FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt,
        |    CAST(SUM(rc) AS BIGINT) AS rt FROM bs),
        |lr AS (SELECT bucket,
        |    CAST(floor((ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
        |      - ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 256 AS DOUBLE)))
        |      * 1000000000e0 + 0.5e0) AS BIGINT) AS lr_nano
        |  FROM bs CROSS JOIN tot),
        |imp AS (SELECT t.doc_id, CAST(SUM(l.lr_nano) AS BIGINT) AS imp_nano
        |  FROM tok t JOIN lr l USING (bucket) GROUP BY 1),
        |sc AS (SELECT doc_id, imp_nano,
        |    CAST(imp_nano AS DOUBLE) / 1000000000e0
        |      - ln(-ln((${md5l("CAST(doc_id AS VARCHAR)")} + 1)
        |        / 1152921504606846976e0)) AS score
        |  FROM imp)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, imp_nano FROM (
        |  SELECT doc_id, imp_nano,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 100 ORDER BY rank""".stripMargin

  /** q231's oracle: the water-filling rounds unrolled — each round's
    * quota is `rem // |unsat|` and newly-fitting groups saturate; a
    * fixed 8-round unroll reaches the same fixed point the operator's
    * early-exit loop does (extra rounds are no-ops).
    */
  private lazy val waterFillOracle: String = {
    // MATERIALIZED is load-bearing: each round references the prior
    // round three times, and DuckDB's default CTE inlining would
    // expand the chain to 3^8 scans of the base table.
    val rounds = (1 to 8).map { i =>
      s"""q$i AS MATERIALIZED (SELECT CASE WHEN
        |    (SELECT count(*) FROM r${i - 1} WHERE NOT sat) > 0
        |  THEN (SELECT rem FROM b${i - 1})
        |    // (SELECT count(*) FROM r${i - 1} WHERE NOT sat) END AS q),
        |r$i AS MATERIALIZED (SELECT g, n,
        |    sat OR (NOT sat AND n <= (SELECT q FROM q$i)) AS sat
        |  FROM r${i - 1}),
        |b$i AS MATERIALIZED (SELECT (SELECT rem FROM b${i - 1}) - coalesce(
        |    (SELECT SUM(n) FROM r${i - 1}
        |     WHERE NOT sat AND n <= (SELECT q FROM q$i)), 0) AS rem)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH c AS MATERIALIZED (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      |r0 AS MATERIALIZED (SELECT g, n, FALSE AS sat FROM c),
      |b0 AS MATERIALIZED (SELECT (800000 * total) // 1000000 AS rem FROM t),
      |$rounds,
      |qf AS (SELECT CASE WHEN
      |    (SELECT count(*) FROM r8 WHERE NOT sat) > 0
      |  THEN (SELECT rem FROM b8)
      |    // (SELECT count(*) FROM r8 WHERE NOT sat) END AS q),
      |rates AS MATERIALIZED (SELECT g, n AS n_before,
      |    CAST(sat AS INTEGER) AS saturated,
      |    CAST(CASE WHEN sat THEN n ELSE (SELECT q FROM qf) END AS BIGINT)
      |      AS quota,
      |    CAST(CASE WHEN sat THEN 1000000
      |      ELSE ((SELECT q FROM qf) * 1000000) // n END AS BIGINT)
      |      AS rate_ppm
      |  FROM r8),
      |k AS (SELECT d.lang AS g, CAST(count(*) AS BIGINT) AS n_kept
      |  FROM documents d JOIN rates ON rates.g = d.lang
      |  WHERE ${md5l("CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
      |  GROUP BY 1)
      |SELECT rates.g AS lang, rates.n_before, rates.saturated,
      |  rates.quota, rates.rate_ppm,
      |  coalesce(k.n_kept, 0) AS n_kept
      |FROM rates LEFT JOIN k USING (g) ORDER BY lang""".stripMargin
  }

  /** q296's oracle: the 8 MM rounds unrolled as CTEs s1..s8, each
    * MATERIALIZED (si/sj feed two join sides per round — the q231
    * exponential-inlining rule); every term nano-quantized before the
    * sum and every strength ppm-requantized per round, mirroring
    * `Experiment.bradleyTerry` expression-for-expression.
    */
  private def bradleyTerryOracle: String = {
    val rounds = (1 to 8).map { k =>
      val p = k - 1
      s"""s$k AS MATERIALIZED (
         |  SELECT w.player,
         |    CAST(round(w.w_total * 1e9 / d.den_nano * 1000000e0)
         |      AS BIGINT) AS s_ppm
         |  FROM w JOIN (
         |    SELECT n.a AS player,
         |      CAST(SUM(CAST(round(n.n_ab * 1000000e0
         |        / (si.s_ppm + sj.s_ppm) * 1e9) AS BIGINT)) AS BIGINT)
         |        AS den_nano
         |    FROM n JOIN s$p si ON si.player = n.a
         |           JOIN s$p sj ON sj.player = n.b
         |    GROUP BY 1) d ON d.player = w.player)""".stripMargin
    }.mkString(",\n")
    s"""WITH pu AS MATERIALIZED (
       |  SELECT user_id, event_type,
       |    CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT
       |    CASE WHEN x.v > y.v THEN x.event_type ELSE y.event_type END AS a,
       |    CASE WHEN x.v > y.v THEN y.event_type ELSE x.event_type END AS b
       |  FROM pu x JOIN pu y ON x.user_id = y.user_id
       |    AND x.event_type < y.event_type),
       |mw AS MATERIALIZED (SELECT a, b, count(*) AS wins FROM m GROUP BY 1, 2),
       |n AS MATERIALIZED (SELECT a, b, CAST(SUM(wins) AS BIGINT) AS n_ab
       |  FROM (SELECT a, b, wins FROM mw
       |        UNION ALL SELECT b AS a, a AS b, wins FROM mw)
       |  GROUP BY 1, 2 HAVING SUM(wins) > 0),
       |w AS MATERIALIZED (SELECT p.player,
       |    CAST(coalesce(ww.w_total, 0) AS BIGINT) AS w_total
       |  FROM (SELECT DISTINCT a AS player FROM n) p
       |  LEFT JOIN (SELECT a AS player, SUM(wins) AS w_total
       |             FROM mw GROUP BY 1) ww ON ww.player = p.player),
       |s0 AS MATERIALIZED (SELECT player,
       |    CAST(1000000 AS BIGINT) AS s_ppm FROM w),
       |$rounds
       |SELECT w.player, w.w_total, s8.s_ppm
       |FROM w JOIN s8 ON s8.player = w.player ORDER BY 1""".stripMargin
  }

  /** q298's oracle: the q47 portable-HLL rendering instantiated for
    * the A / B / register-MAX-union streams, then inclusion–exclusion
    * over the three 6dp estimates in Spark's expression order.
    */
  private def hllSetOpsOracle: String = {
    def regs(name: String, filter: String): String =
      s"""h$name AS (SELECT CAST(concat('0x',
         |    substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM lineitem WHERE $filter AND l_partkey IS NOT NULL),
         |r$name AS MATERIALIZED (SELECT h % 4096 AS bucket,
         |    max(CASE WHEN h // 4096 = 0 THEN 49
         |        ELSE 49 - length(bin(h // 4096)) END) AS rho
         |  FROM h$name GROUP BY 1)""".stripMargin
    def est(name: String, src: String): String =
      s"""z$name AS (SELECT count(*) AS occ,
         |    CAST(coalesce(sum(1::BIGINT << (49 - rho)), 0) AS BIGINT)
         |      + (4096 - count(*)) * (1::BIGINT << 49) AS z_int
         |  FROM $src),
         |e$name AS (SELECT CASE
         |    WHEN (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
         |        * 562949953421312e0 / CAST(z_int AS DOUBLE)
         |        <= 2.5e0 * 4096e0 AND (4096 - occ) > 0
         |    THEN 4096e0 * ln(4096e0 / (4096 - occ))
         |    ELSE (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
         |        * 562949953421312e0 / CAST(z_int AS DOUBLE)
         |    END AS e FROM z$name)""".stripMargin
    s"""WITH ${regs("a", "l_returnflag = 'R'")},
       |${regs("b", "l_linestatus = 'O'")},
       |ru AS (SELECT bucket, max(rho) AS rho FROM (
       |    SELECT bucket, rho FROM ra
       |    UNION ALL SELECT bucket, rho FROM rb) GROUP BY 1),
       |${est("a", "ra")},
       |${est("b", "rb")},
       |${est("u", "ru")}
       |SELECT round(ea.e, 6) AS est_a, round(eb.e, 6) AS est_b,
       |  round(eu.e, 6) AS est_u,
       |  round(round(ea.e, 6) + round(eb.e, 6) - round(eu.e, 6), 6)
       |    AS est_intersection,
       |  round((round(ea.e, 6) + round(eb.e, 6) - round(eu.e, 6))
       |    / round(ea.e, 6), 6) AS containment_a
       |FROM ea, eb, eu""".stripMargin
  }

  /** q327's full sketch replay — shared verbatim by q332 (the
    * store-fed readout must equal the one-shot estimate exactly).
    */
  private lazy val joinSizeSketchOracle: String =
    s"""WITH ka AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
        |kb AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
        |ha AS (SELECT k, r,
        |    ${md5l("concat(k, '_', CAST(r AS VARCHAR))")} % 65536 AS c
        |  FROM ka, generate_series(0, 3) AS gs(r)),
        |sa AS (SELECT r, c, CAST(count(*) AS BIGINT) AS ca FROM ha GROUP BY 1, 2),
        |hb AS (SELECT k, r,
        |    ${md5l("concat(k, '_', CAST(r AS VARCHAR))")} % 65536 AS c
        |  FROM kb, generate_series(0, 3) AS gs(r)),
        |sb AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cb FROM hb GROUP BY 1, 2),
        |ip AS (SELECT r, CAST(SUM(ca * cb) AS BIGINT) AS ip
        |  FROM sa JOIN sb USING (r, c) GROUP BY 1),
        |est AS (SELECT CAST(MIN(coalesce(ip.ip, 0)) AS BIGINT) AS est_join
        |  FROM (SELECT unnest(generate_series(0, 3)) AS r) g
        |  LEFT JOIN ip USING (r)),
        |fa AS (SELECT k, CAST(count(*) AS BIGINT) AS fa FROM ka GROUP BY 1),
        |fb AS (SELECT k, CAST(count(*) AS BIGINT) AS fb FROM kb GROUP BY 1),
        |ex AS (SELECT CAST(coalesce(SUM(fa * fb), 0) AS BIGINT) AS exact_join
        |  FROM fa JOIN fb USING (k)),
        |t AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ka) AS n_a,
        |             (SELECT CAST(count(*) AS BIGINT) FROM kb) AS n_b)
        |SELECT t.n_a, t.n_b, est.est_join, ex.exact_join,
        |  CASE WHEN ex.exact_join > 0 THEN
        |    round(CAST(est.est_join AS DOUBLE)
        |      / CAST(ex.exact_join AS DOUBLE), 6) END AS est_ratio
        |FROM t, est, ex""".stripMargin

  /** The q215 chi2 chain over (split, feature) as oracle CTEs —
    * shared by q328 (temporal split) and q333 (cluster split): the
    * same nano-quantized full-grid discipline, parameterized on the
    * feature column and a CTE suffix.
    */
  private def chi2ChainSql(f: String, sfx: String): String =
    s"""cells$sfx AS (SELECT split AS r, $f AS c,
           |    CAST(count(*) AS BIGINT) AS o FROM j GROUP BY 1, 2),
           |rws$sfx AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt
           |  FROM cells$sfx GROUP BY 1),
           |cls$sfx AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct
           |  FROM cells$sfx GROUP BY 1),
           |t$sfx AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
           |    CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
           |    CAST(COUNT(DISTINCT c) AS BIGINT) AS nc FROM cells$sfx),
           |grid$sfx AS (SELECT rws$sfx.r, cls$sfx.c, rws$sfx.rt,
           |    cls$sfx.ct, coalesce(cells$sfx.o, 0) AS o
           |  FROM rws$sfx CROSS JOIN cls$sfx
           |  LEFT JOIN cells$sfx ON cells$sfx.r = rws$sfx.r
           |    AND cells$sfx.c = cls$sfx.c),
           |s$sfx AS (SELECT n, nr, nc, CAST(floor(
           |    (CAST(o * n - rt * ct AS DOUBLE)
           |      * CAST(o * n - rt * ct AS DOUBLE)
           |      / CAST(n * rt * ct AS DOUBLE))
           |    * 1000000000e0 + 0.5e0) AS BIGINT) AS tn
           |  FROM grid$sfx CROSS JOIN t$sfx),
           |f$sfx AS (SELECT '$f' AS feature, n AS n_items,
           |    nr AS n_rows_cat, nc AS n_cols_cat,
           |    (nr - 1) * (nc - 1) AS dof,
           |    ROUND(CAST(SUM(tn) AS BIGINT) / 1000000000e0, 6) AS chi2
           |  FROM s$sfx GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  /** q213's oracle, shared verbatim by q216's folded store. */
  lazy val psiOracle: String =
    """WITH f AS (SELECT event_type = 'click' AS is_a, value
      |  FROM events WHERE event_type IN ('click', 'view')),
      |b AS (SELECT LEAST(GREATEST(
      |    CAST(floor((value - 0e0) / 50e0) AS BIGINT), 0), 9) AS bin,
      |    is_a FROM f),
      |c AS (SELECT bin,
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
      |s AS (SELECT na, nb, CAST(floor(
      |    (((ca + 1) / CAST(na + 10 AS DOUBLE))
      |      - ((cb + 1) / CAST(nb + 10 AS DOUBLE)))
      |    * ln(((ca + 1) / CAST(na + 10 AS DOUBLE))
      |      / ((cb + 1) / CAST(nb + 10 AS DOUBLE)))
      |    * 1000000000e0 + 0.5e0) AS BIGINT) AS tn
      |  FROM c CROSS JOIN t)
      |SELECT na AS n_a, nb AS n_b,
      |  ROUND(CAST(SUM(tn) AS BIGINT) / 1000000000e0, 6) AS psi
      |FROM s GROUP BY 1, 2""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q296_bradley_terry", bradleyTerryQ, bradleyTerryOracle),
    Query("q298_hll_setops", hllSetOpsQ, hllSetOpsOracle),
    // q297: pooled-rate z per source, A-S 26.2.17 tail (the same fixed
    // Horner chain as StatTests.normalUpperTail), ppm p-values, BH
    // step-up as the exact integer comparison p_ppm·m <= rank·50000.
    Query("q297_fdr_slices", fdrSlicesQ,
      """WITH g AS MATERIALIZED (
        |  SELECT source, count(*) AS n,
        |    CAST(SUM(CASE WHEN n_chars < 500 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n0,
        |    CAST(SUM(hits) AS BIGINT) AS x0, count(*) AS m FROM g),
        |sc AS (SELECT g.source, g.n, g.hits, t.m,
        |    (CAST(g.hits AS DOUBLE) / CAST(g.n AS DOUBLE)
        |      - CAST(t.x0 AS DOUBLE) / CAST(t.n0 AS DOUBLE))
        |    / sqrt(CAST(t.x0 AS DOUBLE) / CAST(t.n0 AS DOUBLE)
        |        * (1e0 - CAST(t.x0 AS DOUBLE) / CAST(t.n0 AS DOUBLE))
        |        / CAST(g.n AS DOUBLE)) AS z
        |  FROM g, t),
        |p AS (SELECT source, n, hits, m, z,
        |    CAST(round(exp(-0.5e0 * abs(z) * abs(z))
        |      * 0.3989422804014327e0
        |      * (((((1.330274429e0 * tt + -1.821255978e0) * tt
        |          + 1.781477937e0) * tt + -0.356563782e0) * tt
        |          + 0.319381530e0) * tt)
        |      * 2e6) AS BIGINT) AS p_ppm
        |  FROM (SELECT *, 1e0 / (1e0 + 0.2316419e0 * abs(z)) AS tt
        |        FROM sc)),
        |r AS MATERIALIZED (SELECT *,
        |    CAST(row_number() OVER (ORDER BY p_ppm, source)
        |      AS INTEGER) AS p_rank FROM p),
        |k AS (SELECT max(CASE WHEN p_ppm * m <= p_rank * 50000
        |    THEN p_rank ELSE 0 END) AS kstar FROM r)
        |SELECT source, n, hits, round(z, 6) AS z, p_ppm, p_rank,
        |  CAST(CASE WHEN p_rank <= kstar THEN 1 ELSE 0 END
        |    AS INTEGER) AS rejected
        |FROM r, k ORDER BY source""".stripMargin),
    // q291: dirt, blocking, u = Σn²/N² (exact ints, one double
    // division — long/long divides as double in BOTH engines), log2
    // weights summed in fixed order, ppm-rounded once; disagree mass
    // written (1e0 - m) so the double matches Scala's 1.0 - m exactly.
    Query("q291_record_linkage", linkageQ,
      """WITH cust AS MATERIALIZED (
        |  SELECT c_custkey, upper(c_name) AS name_n, c_nationkey,
        |    c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |crm AS (SELECT c_custkey AS src_key,
        |    CASE WHEN c_custkey % 13 = 0 THEN concat('X-', c_name)
        |         ELSE c_name END AS crm_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS crm_nationkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'UNKNOWN'
        |         ELSE c_mktsegment END AS crm_segment,
        |    CAST(round(c_acctbal * 100) AS BIGINT)
        |      + CASE WHEN c_custkey % 11 = 0 THEN 50 ELSE 0 END
        |      AS crm_bal_cents
        |  FROM customer WHERE c_custkey % 3 = 0),
        |un AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT)
        |    / (CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT)) AS u_name
        |  FROM (SELECT count(*) AS cnt FROM cust GROUP BY name_n)),
        |us AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT)
        |    / (CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT)) AS u_seg
        |  FROM (SELECT count(*) AS cnt FROM cust GROUP BY c_mktsegment)),
        |ub AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT)
        |    / (CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT)) AS u_bal
        |  FROM (SELECT count(*) AS cnt FROM cust GROUP BY bal_cents)),
        |cand AS (SELECT
        |    CASE WHEN upper(crm_name) = name_n THEN 1 ELSE 0 END AS agree_name,
        |    CASE WHEN crm_segment = c_mktsegment THEN 1 ELSE 0 END AS agree_seg,
        |    CASE WHEN abs(crm_bal_cents - bal_cents) <= 10
        |      THEN 1 ELSE 0 END AS agree_bal,
        |    CASE WHEN src_key = c_custkey THEN 1 ELSE 0 END AS is_true
        |  FROM crm JOIN cust ON crm_nationkey = c_nationkey),
        |pat AS (SELECT agree_name, agree_seg, agree_bal,
        |    count(*) AS n_pairs, CAST(SUM(is_true) AS BIGINT) AS n_true
        |  FROM cand GROUP BY 1, 2, 3)
        |SELECT agree_name, agree_seg, agree_bal, n_pairs, n_true,
        |  CAST(round((
        |    CASE agree_name WHEN 1 THEN log2(0.92e0 / u_name)
        |      ELSE log2((1e0 - 0.92e0) / (1e0 - u_name)) END
        |    + CASE agree_seg WHEN 1 THEN log2(0.85e0 / u_seg)
        |      ELSE log2((1e0 - 0.85e0) / (1e0 - u_seg)) END
        |    + CASE agree_bal WHEN 1 THEN log2(0.95e0 / u_bal)
        |      ELSE log2((1e0 - 0.95e0) / (1e0 - u_bal)) END) * 1e6)
        |    AS BIGINT) AS score_ppm
        |FROM pat, un, us, ub
        |ORDER BY 1, 2, 3""".stripMargin),
    // q257: digit via exact BIGINT-to-string; expected shares through
    // ln of fixed small rationals (the q73/q230 transcendental), dev
    // squared by explicit self-multiplication (never pow — CLAUDE.md).
    Query("q257_benford", benfordQ,
      """WITH obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM orders WHERE o_totalprice >= 1e0 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
        |sp AS (SELECT CAST(d AS INTEGER) AS digit
        |  FROM generate_series(1, 9) t(d)),
        |j AS (SELECT sp.digit,
        |    CAST(coalesce(obs.observed, 0) AS BIGINT) AS observed
        |  FROM sp LEFT JOIN obs ON obs.digit = sp.digit),
        |x AS (SELECT digit, observed, n,
        |    ln((digit + 1e0) / digit) / ln(10e0) AS p
        |  FROM j CROSS JOIN tot)
        |SELECT digit, observed,
        |  ROUND(CAST(observed AS DOUBLE) / n, 6) AS share,
        |  ROUND(p, 6) AS expected_share,
        |  ROUND((CAST(observed AS DOUBLE) - n * p)
        |    * (CAST(observed AS DOUBLE) - n * p) / (n * p), 6)
        |    AS chi2_contrib
        |FROM x ORDER BY digit""".stripMargin),
    // q260: exact counts, ln of the exact rational g·B/(b·G); + 0e0
    // normalizes round()'s -0.0 on woe (iv_contrib is ≥ 0 by sign
    // agreement of its factors).
    Query("q260_woe_iv", woeIvQ,
      """WITH binned AS (SELECT
        |    CAST(least(floor(o_totalprice / 75000e0), 7) AS INTEGER)
        |      AS bin,
        |    CAST(o_orderstatus = 'F' AS INTEGER) AS y FROM orders),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_good,
        |    CAST(count(*) - SUM(y) AS BIGINT) AS n_bad
        |  FROM binned GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_good) AS BIGINT) AS g,
        |    CAST(SUM(n_bad) AS BIGINT) AS b FROM per)
        |SELECT bin, n, n_good, n_bad,
        |  ROUND(CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE), 6)
        |    AS good_share,
        |  ROUND(CAST(n_bad AS DOUBLE) / CAST(b AS DOUBLE), 6)
        |    AS bad_share,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    ROUND(ln(CAST(n_good * b AS DOUBLE)
        |      / CAST(n_bad * g AS DOUBLE)), 6) + 0e0 END AS woe,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    ROUND((CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE)
        |        - CAST(n_bad AS DOUBLE) / CAST(b AS DOUBLE))
        |      * ln(CAST(n_good * b AS DOUBLE)
        |        / CAST(n_bad * g AS DOUBLE)), 6) END AS iv_contrib
        |FROM per CROSS JOIN tot ORDER BY bin""".stripMargin),
    // q259: md5-ppm calibration split; median and q-hat are exact
    // rank-k order statistics (value at rank k is tie-order-free);
    // the coverage compare runs on identical doubles in both engines.
    Query("q259_conformal", conformalQ, {
      val h = md5l("CAST(o_orderkey AS VARCHAR)")
      s"""WITH base AS (SELECT c.c_mktsegment AS "group",
        |    o.o_orderkey AS id, o.o_totalprice AS v,
        |    ($h % 1000000) < 500000 AS cal
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cn AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_cal
        |  FROM base WHERE cal GROUP BY 1),
        |mr AS (SELECT "group", id, v, row_number() OVER (
        |    PARTITION BY "group" ORDER BY v, id) AS rn
        |  FROM base WHERE cal),
        |med AS (SELECT mr."group", mr.v AS med FROM mr
        |  JOIN cn ON cn."group" = mr."group"
        |  WHERE mr.rn = (cn.n_cal + 1) // 2),
        |sc AS (SELECT b."group", b.id, b.cal, abs(b.v - med.med) AS a,
        |    med.med FROM base b JOIN med ON med."group" = b."group"),
        |ar AS (SELECT "group", id, a, row_number() OVER (
        |    PARTITION BY "group" ORDER BY a, id) AS rn
        |  FROM sc WHERE cal),
        |kq AS (SELECT "group", n_cal,
        |    (90 * (n_cal + 1) + 99) // 100 AS kq FROM cn),
        |qh AS (SELECT ar."group", ar.a AS qhat FROM ar
        |  JOIN kq ON kq."group" = ar."group" WHERE ar.rn = kq.kq),
        |ev AS (SELECT sc."group", CAST(count(*) AS BIGINT) AS n_eval,
        |    CAST(SUM(CASE WHEN sc.a <= qh.qhat THEN 1 END) AS BIGINT)
        |      AS n_covered
        |  FROM sc LEFT JOIN qh ON qh."group" = sc."group"
        |  WHERE NOT sc.cal GROUP BY 1)
        |SELECT cn."group", cn.n_cal, ev.n_eval,
        |  ROUND(med.med, 6) AS cal_median, ROUND(qh.qhat, 6) AS qhat,
        |  ev.n_covered,
        |  ROUND(CAST(ev.n_covered AS DOUBLE) / ev.n_eval, 6) AS coverage
        |FROM cn JOIN med ON med."group" = cn."group"
        |  LEFT JOIN qh ON qh."group" = cn."group"
        |  JOIN ev ON ev."group" = cn."group"
        |ORDER BY cn."group"""".stripMargin
    }),
    Query("q231_water_fill", waterFillQ, waterFillOracle),
    // q246: weights nano-quantized at birth; the proportional split
    // and largest-remainder rounding are exact integer arithmetic.
    Query("q246_neyman", neymanQ,
      """WITH st AS (SELECT lang AS "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT *, CASE WHEN n > 1 THEN
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) END AS sd
        |  FROM st),
        |wn AS (SELECT *, coalesce(CAST(floor(CAST(n AS DOUBLE) * sd
        |    * 1000000000e0 + 0.5e0) AS BIGINT), 0) AS weight_nano
        |  FROM w),
        |t AS (SELECT CAST(SUM(weight_nano) AS BIGINT) AS wtot FROM wn),
        |b AS (SELECT *, CASE WHEN wtot > 0
        |      THEN (weight_nano * 100) // wtot ELSE 0 END AS a0,
        |    CASE WHEN wtot > 0
        |      THEN (weight_nano * 100) % wtot ELSE 0 END AS rem
        |  FROM wn CROSS JOIN t),
        |l AS (SELECT 100 - coalesce(SUM(a0), 0) AS lft FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, "group")
        |    AS rr FROM b),
        |f AS (SELECT "group", n, sd, weight_nano,
        |    a0 + CASE WHEN rr <= (SELECT lft FROM l) THEN 1 ELSE 0 END
        |      AS alloc
        |  FROM r)
        |SELECT "group", n AS n_rows, ROUND(sd, 6) AS sd, weight_nano,
        |  CAST(alloc AS BIGINT) AS alloc,
        |  CAST(alloc > n AS INTEGER) AS capped
        |FROM f ORDER BY "group"""".stripMargin),
    // q237: both strategies rank in one total order; batch rollups
    // are exact integers, waste one division.
    Query("q237_padding", paddingQ,
      s"""WITH rws AS (SELECT doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |sh AS (SELECT 'hashed' AS strategy, n, row_number() OVER (
        |    ORDER BY ${md5l("CAST(id AS VARCHAR)")}, id) AS r FROM rws),
        |ss AS (SELECT 'sorted' AS strategy, n, row_number() OVER (
        |    ORDER BY n DESC, id) AS r FROM rws),
        |u AS (SELECT * FROM sh UNION ALL SELECT * FROM ss),
        |b AS (SELECT strategy, (r - 1) // 16 AS bt,
        |    CAST(count(*) AS BIGINT) AS c, CAST(MAX(n) AS BIGINT) AS mx,
        |    CAST(SUM(n) AS BIGINT) AS tok
        |  FROM u GROUP BY 1, 2)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(SUM(mx * c) AS BIGINT) AS token_slots,
        |  CAST(SUM(tok) AS BIGINT) AS real_tokens,
        |  CASE WHEN SUM(mx * c) > 0 THEN
        |    ROUND(CAST(SUM(mx * c) - SUM(tok) AS DOUBLE)
        |      / CAST(SUM(mx * c) AS DOUBLE), 6) END AS waste
        |FROM b GROUP BY 1 ORDER BY strategy""".stripMargin),
    // q238: duplicates fold to (row_hash, count) BEFORE the xor so
    // even-multiplicity copies cannot cancel; chr(31)/chr(1) mirror
    // the Spark unicode-escape separator/sentinel bytes.
    Query("q238_table_fingerprint", fingerprintQ,
      s"""WITH h AS (SELECT ${md5l(
             "concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), chr(1)), " +
             "coalesce(lang, chr(1)), coalesce(source, chr(1)), " +
             "coalesce(CAST(n_chars AS VARCHAR), chr(1)), " +
             "coalesce(text, chr(1)))")} AS h
        |  FROM documents),
        |c AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1),
        |f AS (SELECT ${md5l(
             "concat(CAST(h AS VARCHAR), ':', CAST(c AS VARCHAR))")} AS f, c
        |  FROM c)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct_rows,
        |  CAST(bit_xor(f) AS BIGINT) AS fingerprint
        |FROM f""".stripMargin),
    // q236: multipliers from two md5 bits per (id, replica); replica
    // means exact floored nanos; CI ranks 5 / 196 of 200.
    Query("q236_bootstrap_ci", bootstrapQ,
      s"""WITH rws AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE n_chars IS NOT NULL),
        |reps AS (SELECT rep, CAST(SUM(m * x) AS BIGINT) AS smx,
        |    CAST(SUM(m) AS BIGINT) AS sm FROM (
        |    SELECT id, x, gs.rep,
        |      ${md5l("concat(id, ':', CAST(gs.rep AS VARCHAR), ':1')")} % 2
        |      + ${md5l("concat(id, ':', CAST(gs.rep AS VARCHAR), ':2')")} % 2
        |        AS m
        |    FROM rws CROSS JOIN
        |      (SELECT unnest(generate_series(0, 199)) AS rep) gs)
        |  GROUP BY 1),
        |mn AS (SELECT rep, (smx * 1000000000) // sm AS mean_nano
        |  FROM reps WHERE sm > 0),
        |rk AS (SELECT rep, mean_nano,
        |    row_number() OVER (ORDER BY mean_nano, rep) AS r,
        |    row_number() OVER (ORDER BY mean_nano DESC, rep DESC) AS rd
        |  FROM mn),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(x) AS BIGINT) AS sx FROM rws),
        |ci AS (SELECT CAST(count(*) AS BIGINT) AS b_replicas,
        |    MIN(CASE WHEN r = 5 THEN mean_nano END) AS lo,
        |    MIN(CASE WHEN rd = 5 THEN mean_nano END) AS hi FROM rk)
        |SELECT t.n_rows, ci.b_replicas,
        |  ROUND(CAST(t.sx AS DOUBLE) / t.n_rows, 6) AS mean,
        |  ROUND(lo / 1000000000e0, 6) AS ci_lo,
        |  ROUND(hi / 1000000000e0, 6) AS ci_hi
        |FROM t CROSS JOIN ci""".stripMargin),
    // q233: ⌊n·5/100⌋ dropped each side by the (value, id) order;
    // the kept sum is exact, the mean one division.
    Query("q233_trimmed_mean", trimmedMeanQ,
      """WITH r AS (SELECT lang AS "group", CAST(n_chars AS BIGINT) AS x,
        |    doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS r,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |k AS (SELECT "group", x, CAST(n AS BIGINT) AS n
        |  FROM r WHERE r > n * 5 // 100 AND r <= n - n * 5 // 100)
        |SELECT "group", n, CAST(count(*) AS BIGINT) AS n_trimmed,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / count(*), 6) AS trimmed_mean
        |FROM k GROUP BY 1, 2 ORDER BY "group"""".stripMargin),
    // q227: exact Σ ca·cb join size from the two count tables; top
    // key = the (product, key) struct-max (ties to the larger key).
    Query("q227_join_size", joinSizeQ,
      """WITH lc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |rc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |lt AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_left,
        |    CAST(count(*) AS BIGINT) AS n_keys_left FROM lc),
        |rt AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_right,
        |    CAST(count(*) AS BIGINT) AS n_keys_right FROM rc),
        |j AS (SELECT lc.k, ca * cb AS p FROM lc JOIN rc USING (k)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_matched,
        |    CAST(coalesce(SUM(p), 0) AS BIGINT) AS est_rows FROM j),
        |tp AS (SELECT p, k FROM j ORDER BY p DESC, k DESC LIMIT 1)
        |SELECT lt.n_left, rt.n_right, lt.n_keys_left, rt.n_keys_right,
        |  m.n_keys_matched, m.est_rows,
        |  tp.p AS max_key_rows, tp.k AS top_key,
        |  CASE WHEN m.est_rows > 0 THEN
        |    ROUND(CAST(tp.p AS DOUBLE) * m.n_keys_matched
        |      / CAST(m.est_rows AS DOUBLE), 6) END AS skew_ratio,
        |  CASE WHEN m.est_rows > 0 THEN
        |    (tp.p * m.n_keys_matched + m.est_rows - 1) // m.est_rows
        |  END AS suggested_salt
        |FROM lt CROSS JOIN rt CROSS JOIN m CROSS JOIN tp""".stripMargin),
    // q228: per-bin hash order + the pure-arithmetic round-robin rank.
    Query("q228_curriculum", curriculumQ,
      s"""WITH b AS (SELECT doc_id,
        |    CAST(least(n_chars // 256, 9) + 1 AS BIGINT) AS bin
        |  FROM documents),
        |r AS (SELECT doc_id, bin,
        |    CAST(row_number() OVER (PARTITION BY bin
        |      ORDER BY ${md5l("CAST(doc_id AS VARCHAR)")}, doc_id)
        |      AS BIGINT) AS pos
        |  FROM b)
        |SELECT doc_id, bin, pos, (pos - 1) * 10 + bin AS global_rank
        |FROM r ORDER BY global_rank""".stripMargin),
    // q225: per-(doc, shard) md5 weights; the winner is the (h DESC,
    // s DESC) head — exactly array_max's struct order on (h, s).
    Query("q225_rendezvous", rendezvousQ,
      s"""WITH sh AS (SELECT doc_id, gs.s,
        |    ${md5l("concat(CAST(doc_id AS VARCHAR), ':', CAST(gs.s AS VARCHAR))")} AS h
        |  FROM documents CROSS JOIN
        |    (SELECT unnest(generate_series(0, 8)) AS s) gs),
        |p8 AS (SELECT doc_id, s FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, s DESC) AS r FROM sh WHERE s < 8)
        |  WHERE r = 1),
        |p9 AS (SELECT doc_id, s FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, s DESC) AS r FROM sh)
        |  WHERE r = 1)
        |SELECT p8.doc_id, CAST(p8.s AS INTEGER) AS shard,
        |  CAST(p9.s AS INTEGER) AS shard_next,
        |  CAST(p8.s <> p9.s AS INTEGER) AS moved
        |FROM p8 JOIN p9 USING (doc_id) ORDER BY doc_id""".stripMargin),
    // q219: every pair-count component an exact integer sum (DuckDB
    // `//` == Spark `div` on non-negatives); components combine in
    // one identical float expression.
    Query("q219_adjusted_rand", ariQ,
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
        |s AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS s,
        |    CAST(SUM(n) AS BIGINT) AS n_items FROM cells),
        |ra AS (SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS pa
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS ai FROM cells GROUP BY a)),
        |rb AS (SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS pb
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS bj FROM cells GROUP BY b))
        |SELECT n_items, s AS pairs_both, pa AS pairs_a, pb AS pairs_b,
        |  CASE WHEN CAST(n_items * (n_items - 1) // 2 AS DOUBLE)
        |      * CAST(pa + pb AS DOUBLE)
        |      - 2e0 * CAST(pa AS DOUBLE) * CAST(pb AS DOUBLE) <> 0e0
        |    THEN ROUND((2e0 * (CAST(n_items * (n_items - 1) // 2 AS DOUBLE)
        |        * CAST(s AS DOUBLE)
        |        - CAST(pa AS DOUBLE) * CAST(pb AS DOUBLE)))
        |      / (CAST(n_items * (n_items - 1) // 2 AS DOUBLE)
        |        * CAST(pa + pb AS DOUBLE)
        |        - 2e0 * CAST(pa AS DOUBLE) * CAST(pb AS DOUBLE)), 6)
        |  END AS ari
        |FROM s CROSS JOIN ra CROSS JOIN rb""".stripMargin),
    // q220: observed-cell MI terms and marginal-entropy terms each one
    // float expression over exact counts, floored to nanos at birth;
    // empty cells contribute exactly 0.
    Query("q220_mutual_info", miQ,
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2),
        |rws AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |cls AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS na,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM cells),
        |mi AS (SELECT CAST(SUM(CAST(floor(
        |    (o / CAST(n AS DOUBLE))
        |      * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
        |      * 1000000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS mi_nano
        |  FROM cells JOIN rws USING (a) JOIN cls USING (b) CROSS JOIN t),
        |ha AS (SELECT CAST(SUM(CAST(floor(
        |    -(rt / CAST(n AS DOUBLE)) * ln(rt / CAST(n AS DOUBLE))
        |      * 1000000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS ha_nano
        |  FROM rws CROSS JOIN t),
        |hb AS (SELECT CAST(SUM(CAST(floor(
        |    -(ct / CAST(n AS DOUBLE)) * ln(ct / CAST(n AS DOUBLE))
        |      * 1000000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS hb_nano
        |  FROM cls CROSS JOIN t)
        |SELECT t.n AS n_items, t.na AS n_a, t.nb AS n_b,
        |  ROUND(mi_nano / 1000000000e0, 6) AS mi,
        |  ROUND(ha_nano / 1000000000e0, 6) AS h_a,
        |  ROUND(hb_nano / 1000000000e0, 6) AS h_b,
        |  CASE WHEN ha_nano > 0 AND hb_nano > 0
        |    THEN ROUND(mi_nano / sqrt(CAST(ha_nano AS DOUBLE)
        |      * CAST(hb_nano AS DOUBLE)), 6) END AS nmi
        |FROM t CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb""".stripMargin),
    // q221: doubled average ranks (2·min_rank + tie_count − 1) keep
    // ties integer; the Pearson fold over them is exact-integer sums
    // combined in one identical float expression.
    Query("q221_spearman", spearmanQ,
      """WITH b AS (SELECT n_chars AS x,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT
        |    CAST(2 * rank() OVER (ORDER BY x)
        |      + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2x,
        |    CAST(2 * rank() OVER (ORDER BY y)
        |      + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS r2y
        |  FROM b),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
        |    CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
        |    CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
        |    CAST(SUM(r2y * r2y) AS BIGINT) AS syy FROM r)
        |SELECT n AS n_items,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0e0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0e0
        |    THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM a""".stripMargin),
    // q222: Σ i·x_i is tie-order invariant (equal values swap equal
    // products), so the unqualified per-group ORDER BY x window is
    // deterministic; both sums exact longs, G one float expression.
    Query("q222_gini", giniQ,
      """WITH v AS (SELECT source AS "group", CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT "group", x, row_number()
        |    OVER (PARTITION BY "group" ORDER BY x) AS i FROM v),
        |a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS total,
        |    CAST(SUM(i * x) AS BIGINT) AS s1 FROM r GROUP BY 1)
        |SELECT "group", n, total,
        |  CASE WHEN total > 0 THEN
        |    ROUND((2e0 * CAST(s1 AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) END AS gini
        |FROM a ORDER BY "group"""".stripMargin),
    // q213: the smoothed per-bin term is one float expression over
    // exact counts, floored to nanos at birth; sum exact.
    Query("q213_psi", psiQ, psiOracle),
    // q217: numeric PSI's discipline with the union of observed
    // categories as bins; smoothing denominator n + ncat.
    Query("q217_cat_psi", catPsiQ,
      """WITH f AS (SELECT lang, source FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |c AS (SELECT lang AS category,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM f GROUP BY 1),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS ncat FROM c),
        |s AS (SELECT na, nb, ncat, CAST(floor(
        |    (((ca + 1) / CAST(na + ncat AS DOUBLE))
        |      - ((cb + 1) / CAST(nb + ncat AS DOUBLE)))
        |    * ln(((ca + 1) / CAST(na + ncat AS DOUBLE))
        |      / ((cb + 1) / CAST(nb + ncat AS DOUBLE)))
        |    * 1000000000e0 + 0.5e0) AS BIGINT) AS tn
        |  FROM c CROSS JOIN t)
        |SELECT na AS n_a, nb AS n_b, ncat AS n_categories,
        |  ROUND(CAST(SUM(tn) AS BIGINT) / 1000000000e0, 6) AS psi
        |FROM s GROUP BY 1, 2, 3""".stripMargin),
    // q214: max |cum_a*nb - cum_b*na| in exact integers over distinct
    // stored values (no arithmetic on the doubles), one division.
    Query("q214_ks_test", ksQ,
      """WITH f AS (SELECT value, event_type FROM events
        |  WHERE event_type IN ('click', 'view')),
        |c AS (SELECT value AS v,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM f GROUP BY 1),
        |m AS (SELECT ca, cb,
        |    CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_b FROM c),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c)
        |SELECT t.na AS n_a, t.nb AS n_b,
        |  ROUND(CAST(MAX(abs(m.cum_a * t.nb - m.cum_b * t.na)) AS BIGINT)
        |    / CAST(t.na * t.nb AS DOUBLE), 6) AS d_stat
        |FROM m CROSS JOIN t GROUP BY 1, 2""".stripMargin),
    // q215: chi2 cell terms (O*N - r*c)^2 / (N*r*c) floored to nanos
    // at birth over the FULL rows x cols grid (absent cells count).
    // q333: q142's recursive-CC cluster split (md5-of-cluster bands)
    // + the same chi2 chain per governance feature — the Spark side
    // reads the pair store, whose pairs are the one-shot mining
    // exactly, so the oracle mines inline.
    Query("q333_cluster_balance", clusterBalanceQ,
      s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3
        |  THEN [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t)-2)]
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM toks),
        |g AS (SELECT DISTINCT doc_id, unnest(grams) AS g FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |cpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |           FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT doc_a, doc_b FROM cpairs
        |       JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |       WHERE ROUND(CAST(common AS DOUBLE)/(sa.n + sb.n - common), 6) >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
        |          UNION SELECT doc_b, doc_a FROM jp
        |          UNION SELECT doc_a, doc_a FROM jp UNION SELECT doc_b, doc_b FROM jp),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
        |sp AS (SELECT d.doc_id,
        |    CASE WHEN ${md5l("CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 < 80 THEN 'train'
        |         WHEN ${md5l("CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents d LEFT JOIN cl USING (doc_id)),
        |j AS (SELECT d.lang, d.source, sp.split
        |  FROM documents d JOIN sp USING (doc_id)),
        |${chi2ChainSql("lang", "l")},
        |${chi2ChainSql("source", "s")}
        |SELECT * FROM fl UNION ALL SELECT * FROM fs
        |ORDER BY feature""".stripMargin,
      needs = Set(SharedStore.pairStore)),
    // q328: the q325 rank split + the q215 chi2 chain once per
    // governance feature, UNION ALL'd (absent grid cells contribute
    // rc/N, nano-quantized terms — the q215 discipline verbatim).
    Query("q328_split_balance", splitBalanceQ, {
      def chain(f: String, sfx: String) = chi2ChainSql(f, sfx)
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sp AS (SELECT doc_id,
        |    CASE WHEN r * 100 <= 80 * n THEN 'train'
        |         WHEN r * 100 <= 90 * n THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
        |        FROM documents) CROSS JOIN nn),
        |j AS (SELECT d.lang, d.source, sp.split
        |  FROM documents d JOIN sp USING (doc_id)),
        |${chain("lang", "l")},
        |${chain("source", "s")}
        |SELECT * FROM fl UNION ALL SELECT * FROM fs
        |ORDER BY feature""".stripMargin
    }),
    Query("q215_chi2", chi2Q,
      """WITH cells AS (SELECT lang AS r, source AS c,
        |    CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2),
        |rws AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |cls AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT c) AS BIGINT) AS nc FROM cells),
        |grid AS (SELECT rws.r, cls.c, rws.rt, cls.ct,
        |    coalesce(cells.o, 0) AS o
        |  FROM rws CROSS JOIN cls
        |  LEFT JOIN cells ON cells.r = rws.r AND cells.c = cls.c),
        |s AS (SELECT n, nr, nc, CAST(floor(
        |    (CAST(o * n - rt * ct AS DOUBLE) * CAST(o * n - rt * ct AS DOUBLE)
        |      / CAST(n * rt * ct AS DOUBLE))
        |    * 1000000000e0 + 0.5e0) AS BIGINT) AS tn
        |  FROM grid CROSS JOIN t)
        |SELECT n AS n_items, nr AS n_rows_cat, nc AS n_cols_cat,
        |  (nr - 1) * (nc - 1) AS dof,
        |  ROUND(CAST(SUM(tn) AS BIGINT) / 1000000000e0, 6) AS chi2
        |FROM s GROUP BY 1, 2, 3, 4""".stripMargin),
    // q209: per-element pico quantization before the sum, one float
    // sqrt per row on the exact integer, one division per label.
    Query("q209_embedding_audit", embAuditQ,
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |p0 AS (SELECT label, len(e) AS dim, e,
        |    len(list_filter(e, x -> isnan(x) OR isinf(x))) > 0 AS bad
        |  FROM v),
        |p AS (SELECT label, dim, bad,
        |    CASE WHEN bad THEN 0
        |      ELSE CAST(coalesce(list_sum(list_transform(e,
        |        x -> CAST(round(x * x * 1000000000000e0) AS BIGINT))), 0)
        |        AS BIGINT) END AS pico
        |  FROM p0),
        |nr AS (SELECT label, dim, pico, bad,
        |    CAST(round(sqrt(pico / 1000000000000e0) * 1000000e0) AS BIGINT)
        |      AS nm
        |  FROM p)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(dim) AS INTEGER) AS min_dim,
        |  CAST(max(dim) AS INTEGER) AS max_dim,
        |  CAST(SUM(CASE WHEN NOT bad AND pico = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_zero,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  ROUND(CAST(SUM(nm) AS BIGINT) / (count(*) * 1000000e0), 6)
        |    AS mean_norm
        |FROM nr GROUP BY 1 ORDER BY 1""".stripMargin),
    // q210: quantiles by position over the frequency-of-frequency
    // cumulative counts; salting factor one ceil-division of ints.
    Query("q210_key_skew", skewReportQ,
      """WITH kf AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS f
        |  FROM lineitem GROUP BY 1),
        |fof AS (SELECT f, CAST(count(*) AS BIGINT) AS nk FROM kf GROUP BY 1),
        |c AS (SELECT f, nk, CAST(SUM(nk) OVER (ORDER BY f
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumk FROM fof),
        |t AS (SELECT CAST(SUM(f * nk) AS BIGINT) AS n_rows,
        |    CAST(SUM(nk) AS BIGINT) AS n_keys,
        |    CAST(MAX(f) AS BIGINT) AS max_freq FROM fof)
        |SELECT t.n_rows, t.n_keys, t.max_freq,
        |  CAST(MIN(CASE WHEN c.cumk >=
        |    CAST(ceil(0.50e0 * t.n_keys) AS BIGINT) THEN c.f END)
        |    AS BIGINT) AS p50_freq,
        |  CAST(MIN(CASE WHEN c.cumk >=
        |    CAST(ceil(0.99e0 * t.n_keys) AS BIGINT) THEN c.f END)
        |    AS BIGINT) AS p99_freq,
        |  ROUND(t.max_freq * t.n_keys / CAST(t.n_rows AS DOUBLE), 6)
        |    AS skew_ratio,
        |  (t.max_freq * t.n_keys + t.n_rows - 1) // t.n_rows
        |    AS suggested_salt
        |FROM c CROSS JOIN t
        |GROUP BY t.n_rows, t.n_keys, t.max_freq""".stripMargin),
    Query("q185_dsir_sample", dsirQ, dsirOracle),
    // q195: exact counts per provenance slice; both engines hash the
    // identical md5 hex for the within-source duplicate mass.
    Query("q195_data_card", dataCardQ,
      """WITH b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    ROUND(CAST(SUM(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
        |  FROM documents GROUP BY 1),
        |d AS (SELECT source, CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT source, md5(text) AS h, count(*) AS c
        |        FROM documents GROUP BY 1, 2)
        |  WHERE c > 1 GROUP BY 1)
        |SELECT b.source, b.n_docs, b.n_tokens, b.n_chars_total, b.n_langs,
        |  coalesce(d.n_dup_docs, 0) AS n_dup_docs, b.mean_chars
        |FROM b LEFT JOIN d USING (source) ORDER BY source""".stripMargin),
    // q193: pure exact-integer class-size histogram.
    Query("q193_k_anonymity", kAnonQ,
      """WITH g AS (SELECT lang, source, least(n_chars // 64, 9) AS lb,
        |    count(*) AS k FROM documents GROUP BY 1, 2, 3)
        |SELECT k AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  CAST(k < 5 AS INTEGER) AS below_k
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    // q190: counts exact; density ratio quantizes to nanos in one
    // identical float expression; normalization divides quantized
    // integers; accept = md5(id) % 1e6 < acc_ppm — pure id function.
    Query("q190_hist_match", histMatchQ,
      s"""WITH d AS (SELECT doc_id, source,
        |    least(n_chars // 64, 9) AS bucket FROM documents),
        |rb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw
        |  FROM d WHERE source <> 'src0' GROUP BY 1),
        |tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_ref
        |  FROM d WHERE source = 'src0' GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(n_raw) FROM rb) AS rt,
        |               (SELECT SUM(n_ref) FROM tb) AS tt),
        |ra AS (SELECT rb.bucket, coalesce(tb.n_ref, 0) AS n_ref, rb.n_raw,
        |    CAST(floor((coalesce(tb.n_ref, 0) / CAST(tt AS DOUBLE))
        |      / (rb.n_raw / CAST(rt AS DOUBLE))
        |      * 1000000000e0 + 0.5e0) AS BIGINT) AS ratio_nano
        |  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot),
        |mx AS (SELECT ratio_nano AS max_nano FROM ra
        |  ORDER BY ratio_nano DESC, bucket LIMIT 1),
        |acc AS (SELECT bucket, n_ref, n_raw,
        |    CASE WHEN max_nano = 0 THEN 0
        |      ELSE CAST(floor(CAST(ratio_nano AS DOUBLE) * 1000000e0
        |        / max_nano) AS BIGINT) END AS acc_ppm
        |  FROM ra CROSS JOIN mx),
        |k AS (SELECT d.bucket, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM d JOIN acc USING (bucket)
        |  WHERE source <> 'src0'
        |    AND ${md5l("CAST(doc_id AS VARCHAR)")} % 1000000 < acc_ppm
        |  GROUP BY 1)
        |SELECT acc.bucket, acc.n_ref, acc.n_raw, acc.acc_ppm,
        |  coalesce(k.n_kept, 0) AS n_kept
        |FROM acc LEFT JOIN k USING (bucket) ORDER BY bucket""".stripMargin),
    // q165: the shared columnProfileOracle (q172's merged store must
    // read out identically, so the SQL lives in QueryHelpers).
    Query("q165_column_profile", columnProfileQ, columnProfileOracle),
    // q154: interpolated medians at 0.5 are bit-identical across both
    // engines' quantile conventions; the ntile tie-break on
    // (score, id) pins bin membership; 1.4826e0 per the float-constant
    // rule.
    Query("q154_robust_calibration", robustCalibrationQ,
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5e0) AS med
        |  FROM documents GROUP BY 1),
        |dev AS (SELECT d.doc_id, d.lang, d.n_chars, m.med,
        |    abs(d.n_chars - m.med) AS adev
        |  FROM documents d JOIN med m USING (lang)),
        |mad AS (SELECT lang, quantile_cont(adev, 0.5e0) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT doc_id, lang, n_chars,
        |  round(CASE WHEN mad > 0
        |    THEN (n_chars - med)/(1.4826e0 * mad) END, 6) AS robust_z,
        |  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |    AS INTEGER) AS bin
        |FROM dev JOIN mad USING (lang)
        |ORDER BY doc_id""".stripMargin),
    // q150: same two windows over the group partitioning; z guarded to
    // NULL when the sample stddev is 0/undefined; percent_rank is the
    // ANSI (rank-1)/(n-1) in both engines.
    Query("q150_score_calibration", scoreCalibrationQ,
      """SELECT doc_id, lang, n_chars,
        |  round(CASE WHEN stddev_samp(n_chars) OVER wg > 0
        |    THEN (n_chars - avg(n_chars) OVER wg)
        |         / stddev_samp(n_chars) OVER wg END, 6) AS z,
        |  round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6)
        |    AS pct_rank
        |FROM documents
        |WINDOW wg AS (PARTITION BY lang)
        |ORDER BY doc_id""".stripMargin),
    // q135: the oracle is the PLAIN join — the bucketed layout must
    // change the plan, never the answer.
    Query("q135_bucketed_join", bucketedJoinQ,
      """SELECT c_mktsegment, count(*) AS orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // q134: same E-S keys from the same md5-derived uniforms; the
    // float key exists only inside the ORDER BY (continuous → no
    // cross-engine ties), the output is integers.
    Query("q314_isotonic", isotonicQ, isotonicOracle),
    Query("q315_auc_by_dow", aucQ, aucOracle),
    Query("q316_calibration_store", calibrationStoreQ, isotonicOracle),
    Query("q317_gains_table", gainsQ, gainsOracle),
    Query("q321_sinkhorn_mix", sinkhornQ, sinkhornOracle),
    Query("q322_wasserstein_drift", wassersteinQ, wassersteinOracle),
    Query("q323_calibration_error", calibrationErrorQ, calibrationErrorOracle),
    Query("q134_weighted_sample", weightedSampleQ,
      s"""WITH keyed AS (SELECT source, doc_id, n_chars,
        |  ln((${md5l("CAST(doc_id AS VARCHAR)")} + 1) / 1152921504606846976e0)
        |    / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars > 0)
        |SELECT source, rank, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY k DESC, doc_id) AS INTEGER) AS rank
        |  FROM keyed)
        |WHERE rank <= 3 ORDER BY source, rank""".stripMargin),
    Query("q121_chunk_pack", chunkPackQ,
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |        CASE WHEN len(toks) <= 64 THEN 1
        |             ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
        |      FROM t),
        |ch AS (SELECT concat(CAST(doc_id AS VARCHAR), ':', CAST(gs.i AS VARCHAR)) AS chunk_key,
        |         array_to_string(toks[gs.i * 48 + 1 : gs.i * 48 + 64], ' ') AS chunk_text
        |       FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) gs),
        |t2 AS (SELECT chunk_key,
        |         CAST(len(regexp_split_to_array(chunk_text, '\\s+')) AS BIGINT) AS n_tokens,
        |         ${md5l("chunk_key")} AS h FROM ch),
        |c2 AS (SELECT chunk_key, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY h, chunk_key
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t2)
        |SELECT chunk_key, n_tokens,
        |  CAST((cum - n_tokens) // 2000 AS INTEGER) AS shard_id
        |FROM c2 ORDER BY chunk_key""".stripMargin),
    Query("q119_winsorize", winsorizeQ,
      """WITH s AS (SELECT min(value) AS lo, max(value) AS hi,
        |                  count(value) AS n FROM events),
        |b AS (SELECT CASE WHEN hi = lo THEN 0
        |        ELSE CAST(LEAST(999, floor((value - lo) / (hi - lo) * 1000))
        |             AS INTEGER) END AS bin
        |      FROM events, s),
        |h AS (SELECT bin, count(*) AS bcnt FROM b GROUP BY bin),
        |c AS (SELECT bin, sum(bcnt) OVER (ORDER BY bin) AS cum FROM h),
        |t AS (SELECT p, CAST(ceil(p * n) AS BIGINT) AS target
        |      FROM s, (VALUES (0.05e0), (0.95e0)) pp(p)),
        |q AS (SELECT p, min(bin) AS bin FROM t JOIN c ON cum >= target GROUP BY p),
        |qv AS (SELECT p, ROUND(lo + bin * (hi - lo) / 1000e0, 6) AS v FROM q, s),
        |th AS (SELECT min(CASE WHEN p = 0.05e0 THEN v END) AS ql,
        |              min(CASE WHEN p = 0.95e0 THEN v END) AS qh FROM qv)
        |SELECT event_id, value,
        |  ROUND(LEAST(GREATEST(value, ql), qh), 6) AS value_w
        |FROM events, th ORDER BY event_id""".stripMargin),
    Query("q103_mix_report", mixReport,
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000e0) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(w) AS BIGINT) AS sumw
        |       FROM w),
        |r AS (SELECT lang,
        |    LEAST(1000000, CAST(floor(0.5e0 * tot * w / sumw / n * 1000000e0) AS BIGINT))
        |      AS ppm
        |  FROM w, t),
        |kept AS (SELECT d.lang, count(*) AS n_after
        |  FROM documents d JOIN r USING (lang)
        |  WHERE ${md5l("CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.ppm
        |  GROUP BY d.lang),
        |j AS (SELECT c.lang, CAST(c.n AS BIGINT) AS n_before,
        |        CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after
        |      FROM c LEFT JOIN kept k USING (lang)),
        |tt AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb,
        |         CAST(sum(n_after) AS BIGINT) AS ta FROM j)
        |SELECT lang, n_before, n_after,
        |  ROUND(n_before / tb, 6) AS frac_before,
        |  ROUND(n_after / ta, 6) AS frac_after
        |FROM j, tt ORDER BY lang""".stripMargin),
    Query("q101_grouped_quantiles", groupedQuantilesQ,
      """WITH b AS (SELECT lang,
        |    CAST(LEAST(499, GREATEST(0,
        |      floor((CAST(n_chars AS DOUBLE) - 0e0) / 5000e0 * 500)))
        |      AS INTEGER) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |h AS (SELECT lang, bin, count(*) AS bcnt FROM b GROUP BY 1, 2),
        |c AS (SELECT lang, bin, sum(bcnt) OVER (PARTITION BY lang ORDER BY bin)
        |        AS cum FROM h),
        |n AS (SELECT lang, CAST(sum(bcnt) AS BIGINT) AS n FROM h GROUP BY lang),
        |t AS (SELECT lang, p.percentile, ceil(p.percentile * n) AS target
        |      FROM n, (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 0.9e0, 0.99e0])
        |                 AS percentile) p),
        |r AS (SELECT t.lang, t.percentile, min(c.bin) AS bin
        |      FROM t JOIN c ON t.lang = c.lang AND c.cum >= t.target
        |      GROUP BY 1, 2)
        |SELECT lang, percentile, bin,
        |  ROUND(0e0 + bin * 5000e0 / 500e0, 6) AS value_est
        |FROM r ORDER BY lang, percentile""".stripMargin),
    Query("q100_mixture_pipeline", mixturePipeline,
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000e0) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(w) AS BIGINT) AS sumw
        |       FROM w),
        |r AS (SELECT lang,
        |    LEAST(1000000, CAST(floor(0.5e0 * tot * w / sumw / n * 1000000e0) AS BIGINT))
        |      AS ppm
        |  FROM w, t),
        |kept AS (SELECT d.doc_id, d.lang
        |  FROM documents d JOIN r USING (lang)
        |  WHERE ${md5l("CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.ppm),
        |h AS (SELECT doc_id, lang,
        |    ${md5l("concat(CAST(doc_id AS VARCHAR), ':1')")} AS h FROM kept)
        |SELECT doc_id, lang, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INTEGER)
        |    AS pos
        |FROM h ORDER BY shard, pos""".stripMargin),
    Query("q96_zorder_stats", zorderStatsQ,
      s"""WITH z AS (SELECT CAST(${zTermsSql("l_partkey", "l_suppkey")} AS BIGINT) >> 14
        |    AS file, l_partkey AS x, l_suppkey AS y FROM lineitem),
        |s AS (SELECT file, count(*) AS n_rows,
        |    min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
        |  FROM z GROUP BY file)
        |SELECT file, n_rows, x_min, x_max, y_min, y_max,
        |  (x_min <= 300 AND x_max >= 100) AS read_x,
        |  (y_min <= 20 AND y_max >= 10) AS read_y
        |FROM s ORDER BY file""".stripMargin),
    Query("q97_epoch_shuffle", epochShuffleQ,
      s"""WITH h AS (SELECT doc_id,
        |    ${md5l("concat(CAST(doc_id AS VARCHAR), ':1')")} AS h FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INTEGER)
        |    AS pos
        |FROM h ORDER BY shard, pos""".stripMargin),
    Query("q95_temperature_sample", temperatureQ,
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000e0) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(w) AS BIGINT) AS sumw
        |       FROM w),
        |r AS (SELECT lang,
        |    LEAST(1000000, CAST(floor(0.5e0 * tot * w / sumw / n * 1000000e0) AS BIGINT))
        |      AS ppm
        |  FROM w, t)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN r USING (lang)
        |WHERE ${md5l("CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.ppm
        |ORDER BY d.doc_id""".stripMargin),
    Query("q88_histogram_quantiles", histQuantiles,
      """WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
        |                  count(*) AS n FROM lineitem),
        |b AS (SELECT CASE WHEN hi = lo THEN 0
        |        ELSE CAST(LEAST(999, floor((l_extendedprice - lo) / (hi - lo) * 1000))
        |             AS INTEGER) END AS bin
        |      FROM lineitem, s),
        |h AS (SELECT bin, count(*) AS bcnt FROM b GROUP BY bin),
        |c AS (SELECT bin, sum(bcnt) OVER (ORDER BY bin
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |q AS (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 0.9e0, 0.99e0]) AS percentile),
        |t AS (SELECT percentile, ceil(percentile * n) AS target, lo, hi FROM q, s),
        |r AS (SELECT percentile, lo, hi, min(bin) AS bin
        |      FROM t JOIN c ON c.cum >= t.target GROUP BY percentile, lo, hi)
        |SELECT percentile, bin,
        |  ROUND(lo + bin * (hi - lo) / 1000.0e0, 6) AS value_est
        |FROM r ORDER BY percentile""".stripMargin),
    Query("q89_count_min", countMin,
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |hx AS (SELECT token, r,
        |    ${md5l("concat(token, '_', CAST(r AS VARCHAR))")} % 1024 AS c
        |  FROM tok, generate_series(0, 3) AS gs(r)),
        |cm AS (SELECT r, c, count(*) AS cnt FROM hx GROUP BY r, c),
        |est AS (SELECT token, min(cnt) AS est_count
        |        FROM (SELECT DISTINCT token, r, c FROM hx) d JOIN cm USING (r, c)
        |        GROUP BY token),
        |ex AS (SELECT token, count(*) AS exact_count FROM tok GROUP BY token)
        |SELECT token, est_count, exact_count
        |FROM est JOIN ex USING (token)
        |ORDER BY est_count DESC, token LIMIT 20""".stripMargin),
    // q332: the store-fed readout must equal the one-shot q327 exactly
    // (count-min is linear: per-batch sketches sum to the corpus
    // sketch), so it shares the oracle verbatim.
    Query("q332_join_size_store", joinSizeStoreQ, joinSizeSketchOracle),
    // q327: full sketch replay — same salted md5 cell hashes as q89,
    // per-row inner products, min over the depth grid (absent rows
    // count 0), exact Σ fa·fb beside it.
    Query("q327_join_size_sketch", joinSizeSketchQ, joinSizeSketchOracle),
    Query("q83_chunk", chunkQ,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |        CASE WHEN len(toks) <= 64 THEN 1
        |             ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
        |      FROM t)
        |SELECT doc_id, CAST(gs.i AS INTEGER) AS chunk_id,
        |  CAST(LEAST(64, n - gs.i * 48) AS INTEGER) AS n_chunk_tokens,
        |  array_to_string(toks[gs.i * 48 + 1 : gs.i * 48 + 64], ' ') AS chunk_text
        |FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) gs
        |ORDER BY doc_id, chunk_id""".stripMargin),
    Query("q85_zorder", zorderQ,
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(${zTermsSql("l_partkey", "l_suppkey")} AS BIGINT) AS z
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q63_hash_split", hashSplit,
      s"""WITH b AS (SELECT doc_id,
        |    ${md5l("CAST(doc_id AS VARCHAR)")} % 100 AS bucket FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),
    // q72: global-window rendering of the distributed prefix sum —
    // identical running totals, shards cut where a doc's START offset
    // crosses a budget boundary.
    Query("q72_shard_pack", shardPack,
      s"""WITH t AS (SELECT doc_id,
        |         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
        |         ${md5l("CAST(doc_id AS VARCHAR)")} AS h
        |       FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 10000 AS INTEGER) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("q68_linear_count_distinct", linearCount,
      s"""WITH b AS (SELECT DISTINCT ${md5l("CAST(user_id AS VARCHAR)")} % 4096 AS b
        |           FROM events WHERE user_id IS NOT NULL)
        |SELECT count(*) AS occupied_buckets,
        |  ROUND(-4096 * ln((4096 - count(*)) / 4096.0), 6) AS estimated_distinct
        |FROM b""".stripMargin),
    Query("q69_salted_join", saltedJoin,
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    Query("q70_stratified_sample", stratified,
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE ${md5l("CAST(doc_id AS VARCHAR)")} % 100 <
        |  CASE WHEN lang = 'en' THEN 30 ELSE 80 END
        |ORDER BY doc_id""".stripMargin),
    Query("q82_cap_groups_exact", capGroupsExactQ,
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY ${md5l("CAST(doc_id AS VARCHAR)")}, doc_id) <= 100
        |ORDER BY doc_id""".stripMargin),
    Query("q128_cap_groups_tokens", capTokensQ,
      s"""WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    ${md5l("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 5000 ORDER BY doc_id""".stripMargin),
    Query("q81_cap_groups", capGroupsQ,
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |k AS (SELECT lang, LEAST(1000000, 100000000 // n) AS ppm FROM c)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN k USING (lang)
        |WHERE ${md5l("CAST(d.doc_id AS VARCHAR)")} % 1000000 < k.ppm
        |ORDER BY d.doc_id""".stripMargin),
    Query("q79_skew_profile", skewProfile,
      """WITH c AS (SELECT user_id, count(*) AS n_rows FROM events
        |           WHERE user_id IS NOT NULL GROUP BY user_id),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        |r AS (SELECT user_id, n_rows, total,
        |        CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS INTEGER) AS rank
        |      FROM c CROSS JOIN t)
        |SELECT user_id, rank, n_rows,
        |  ROUND(CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin),
    Query("q77_normalize", normalizeQ,
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INTEGER) AS n_chars_norm,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q43_pivot", pivotQ,
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q44_rank_windows", rankWindows,
      """SELECT user_id, event_id, value,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
        |ORDER BY user_id, rn""".stripMargin),
    Query("q42_percentiles", percentiles,
      """SELECT event_type, count(*) AS n,
        |  ROUND(quantile_cont(value, 0.5), 6) AS med,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  val queries: Map[String, Q] = Query.builds(all)

  val oracleSql: Map[String, String] = Query.oracles(all)
}
