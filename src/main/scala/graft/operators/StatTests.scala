package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sample distribution tests — the drift monitors a production
  * data pipeline runs between corpus slices, snapshots, or time
  * windows: PSI (the banking-world stability index), the exact
  * Kolmogorov–Smirnov statistic, and the chi-square independence test
  * for categorical columns.
  *
  * Determinism discipline (CLAUDE.md): every per-bin/per-cell float
  * term is computed by ONE float expression over exact integer counts
  * and quantized to integer nanos AT BIRTH, so the final sums are
  * exact integer sums — partition-order and engine invariant.
  */
object StatTests {

  /** Population Stability Index between two slices of `valueCol`
    * (rows where `groupCol` = a vs = b), over `bins` equal-width bins
    * on [lo, hi) with the top edge folded into the last bin and
    * out-of-range values clamped. Laplace-smoothed (+1 per bin), so
    * empty bins are defined and the index is finite; the usual read:
    * < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted.
    *
    * Shape: one map-side bin projection + one `bins`-row aggregate per
    * slice; the PSI fold is over `bins` rows.
    *
    * Output: one row (n_a, n_b, psi).
    */
  def psi(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String, lo: Double, hi: Double,
      bins: Int = 10): DataFrame =
    psiFromCounts(psiBinCounts(df, valueCol, groupCol, a, b, lo, hi, bins),
      bins)

  /** The mergeable half of [[psi]]: per-bin exact (ca, cb) counts —
    * rows fold across any disjoint corpus split (the streaming-store
    * shape; `graft.streaming.StreamingPower.psi` persists them
    * per micro-batch).
    */
  def psiBinCounts(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, s"bad bins/range: $bins, [$lo, $hi)")
    df.filter(col(groupCol) === a || col(groupCol) === b)
      .select((col(groupCol) === a).as("_is_a"),
        least(greatest(
          floor((col(valueCol) - lit(lo)) / lit((hi - lo) / bins))
            .cast("long"), lit(0L)), lit((bins - 1).toLong)).as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("_is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("_is_a"), 1L).otherwise(0L)).as("cb"))
  }

  /** The report half of [[psi]]: fold bin-count rows (so pre-split
    * inputs merge exactly), then the smoothed nano-quantized index.
    */
  def psiFromCounts(binCounts: DataFrame, bins: Int): DataFrame = {
    val counts = binCounts.groupBy(col("bin"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // every observed bin contributes; unobserved bins contribute the
    // identical smoothed mass on both sides -> zero term, so iterating
    // observed bins only is exact
    counts.crossJoin(broadcast(tot))
      .withColumn("_term_nano", floor(
        (((col("ca") + 1).cast("double") / (col("na") + lit(bins)))
          - ((col("cb") + 1).cast("double") / (col("nb") + lit(bins))))
          * log(((col("ca") + 1).cast("double") / (col("na") + lit(bins)))
            / ((col("cb") + 1).cast("double") / (col("nb") + lit(bins))))
          * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("na"), col("nb"))
      .agg(sum(col("_term_nano")).as("_sn"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("_sn").cast("double") / lit(1e9), 6).as("psi"))
  }

  /** 1-D Wasserstein-1 (earth-mover's) drift between two slices of
    * `valueCol` — the metric-aware companion to [[psi]]/[[ksTest]]:
    * where PSI and KS see only per-bin/max discrepancy, W₁ weighs HOW
    * FAR mass moved (the closed form on ℝ:
    * ∫|CDF_a − CDF_b|), so a one-bin nudge and a cross-range shift
    * that PSI scores alike separate cleanly.
    *
    * Binned closed form, exact to the last bit: over the FULL bin
    * grid (empty bins matter — the CDF gap persists across them),
    * W₁ = binWidth · Σ_k |CumA_k·n_b − CumB_k·n_a| / (n_a·n_b) — the
    * cross-multiplied integers avoid double CDFs entirely; there is
    * ONE final division. Exact while n_a·n_b·bins < 2⁶³ (~5·10⁸ rows
    * per slice at 32 bins); beyond that pre-aggregate counts down.
    * Reuses [[psiBinCounts]], so the same mergeable bin-count rows a
    * PSI store persists feed this readout too.
    *
    * Output: one row (n_a, n_b, w1) in value units.
    */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String, lo: Double, hi: Double,
      bins: Int = 32): DataFrame =
    wasserstein1FromBins(
      psiBinCounts(df, valueCol, groupCol, a, b, lo, hi, bins),
      lo, hi, bins)

  /** The readout half of [[wasserstein1]] over already-aggregated
    * (bin, ca, cb) rows — the seam a PSI-style store's mergeable bin
    * counts feed (`StreamingPower.psi`, q324): fold rows
    * (exact sums, so pre-split micro-batch counts merge losslessly),
    * re-grid over the full bin range, cumulate, and take the
    * cross-multiplied integer sum. Streamed ≡ one-shot by
    * construction because folding commutes with every step.
    */
  def wasserstein1FromBins(binCounts: DataFrame, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    val spark = binCounts.sparkSession
    // the folded bin table feeds both the totals and the cumulative
    // path — checkpoint or compute twice
    val counts = binCounts.groupBy(col("bin"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .localCheckpoint()
    val grid = spark.range(bins).select(col("id").as("bin"))
    val full = grid.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = full.agg(sum("ca").as("na"), sum("cb").as("nb"))
    full
      .withColumn("_cuma", sum("ca").over(w))
      .withColumn("_cumb", sum("cb").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("_d",
        abs(col("_cuma") * col("nb") - col("_cumb") * col("na")))
      .groupBy("na", "nb").agg(sum("_d").as("_sd"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("_sd").cast("double") * lit((hi - lo) / bins)
          / (col("na") * col("nb")).cast("double"), 6).as("w1"))
  }

  /** Categorical PSI between two slices of a discrete column (the
    * language-mix / source-mix drift monitor): categories are the
    * union observed in either slice, smoothing is Laplace +1 over
    * that category count, and each category's term is one float
    * expression over exact counts floored to nanos at birth — the
    * numeric [[psi]]'s discipline with categories as bins.
    *
    * Output: one row (n_a, n_b, n_categories, psi).
    */
  def psiCategorical(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val counts = df
      .filter(col(groupCol) === a || col(groupCol) === b)
      .groupBy(col(valueCol).as("category"))
      .agg(sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("cb"))
      .localCheckpoint()
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("ncat"))
    counts.crossJoin(broadcast(tot))
      .withColumn("_term_nano", floor(
        (((col("ca") + 1).cast("double") / (col("na") + col("ncat")))
          - ((col("cb") + 1).cast("double") / (col("nb") + col("ncat"))))
          * log(((col("ca") + 1).cast("double") / (col("na") + col("ncat")))
            / ((col("cb") + 1).cast("double") / (col("nb") + col("ncat"))))
          * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("na"), col("nb"), col("ncat"))
      .agg(sum(col("_term_nano")).as("_sn"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("ncat").as("n_categories"),
        round(col("_sn").cast("double") / lit(1e9), 6).as("psi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the same
    * two slices: D = max over observed values of
    * |cum_a/n_a − cum_b/n_b|, evaluated as max |cum_a·n_b − cum_b·n_a|
    * in exact integers with ONE division at the end. Grouping is by
    * the stored value (no arithmetic on the doubles), so cross-engine
    * equality is bit-exact.
    *
    * Scale note: the exact statistic needs a global CDF — a running
    * sum over DISTINCT values (single-partition window). Bounded by
    * value cardinality; for unbounded domains at extreme scale,
    * pre-quantize `valueCol` or use `Sketches.fixedHistogram` and
    * accept grid resolution.
    *
    * Output: one row (n_a, n_b, d_stat).
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val counts = df
      .filter(col(groupCol) === a || col(groupCol) === b)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .withColumn("_num", abs(col("cum_a") * col("nb")
        - col("cum_b") * col("na")))
      .groupBy(col("na"), col("nb"))
      .agg(max(col("_num")).as("_d_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("_d_num").cast("double") / (col("na") * col("nb")), 6)
          .as("d_stat"))
  }

  /** Adjusted Rand Index between two partitionings of the same rows
    * (two label columns) — the clustering-agreement audit run when a
    * new clustering/bucketing is compared against an existing one
    * (or against provenance labels). From the contingency table:
    * ARI = 2·(C·S − A·B) / (C·(A+B) − 2·A·B), where S = Σ_cells
    * C(n_ij,2), A = Σ_rows C(a_i,2), B = Σ_cols C(b_j,2), and
    * C = C(n,2) — each component an EXACT integer sum (pair counts),
    * combined in ONE float expression at the end, so the result is
    * partition-order and engine invariant. NULL when the denominator
    * is 0 (both partitionings trivial). 1 = identical partitions,
    * ~0 = chance-level agreement.
    *
    * Scale shape: one (a, b) cell aggregate (map-side combined), then
    * row/col rollups of the cell frame — nothing beyond |A|·|B| rows
    * after the first aggregate. The pair-count components are exact
    * longs up to n ≈ 4·10⁹ rows; the cross-component products are
    * evaluated in doubles (53-bit mantissa) deliberately — an exact
    * long product would overflow ANSI at n ≳ 10⁵.
    *
    * Output: one row (n_items, pairs_both, pairs_a, pairs_b, ari).
    */
  def adjustedRandIndex(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    // Spark's `/` on longs is double division — pair counts use `div`
    // (n·(n−1) is even, so the integer division is exact)
    val s = cells.agg(sum(expr("n * (n - 1) div 2")).as("s"),
      sum(col("n")).as("n_items"))
    val ra = cells.groupBy(col("a")).agg(sum(col("n")).as("ai"))
      .agg(sum(expr("ai * (ai - 1) div 2")).as("pa"))
    val rb = cells.groupBy(col("b")).agg(sum(col("n")).as("bj"))
      .agg(sum(expr("bj * (bj - 1) div 2")).as("pb"))
    s.crossJoin(broadcast(ra)).crossJoin(broadcast(rb))
      .withColumn("_c2", expr("n_items * (n_items - 1) div 2")
        .cast("double"))
      .select(col("n_items"), col("s").as("pairs_both"),
        col("pa").as("pairs_a"), col("pb").as("pairs_b"),
        when(col("_c2") * (col("pa") + col("pb")).cast("double")
          - lit(2.0) * col("pa").cast("double") * col("pb").cast("double")
          =!= 0.0,
          round((lit(2.0) * (col("_c2") * col("s").cast("double")
            - col("pa").cast("double") * col("pb").cast("double")))
            / (col("_c2") * (col("pa") + col("pb")).cast("double")
              - lit(2.0) * col("pa").cast("double")
                * col("pb").cast("double")), 6)).as("ari"))
  }

  /** Mutual information (nats) and normalized mutual information
    * between two categorical columns — the association strength
    * behind [[chiSquare]]'s significance: how much knowing one label
    * says about the other (feature/provenance leakage audits, split
    * design). MI = Σ_cells (n_ij/N)·ln(N·n_ij/(r_i·c_j)) over OBSERVED
    * cells (empty cells contribute exactly 0, so iterating observed
    * cells is exact); H(a), H(b) the marginal entropies. Every
    * per-cell / per-category term is ONE float expression over exact
    * integer counts floored to nanos at birth, so all three sums are
    * exact; NMI = MI/√(H_a·H_b) is one final float expression, NULL
    * when either marginal is deterministic (zero entropy).
    *
    * Output: one row (n_items, n_a, n_b, mi, h_a, h_b, nmi).
    */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o")).localCheckpoint()
    val rows = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
      .localCheckpoint()
    val cols_ = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
      .localCheckpoint()
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("na"), countDistinct(col("b")).as("nb"))
    def entNano(marg: DataFrame, cnt: String) = marg
      .crossJoin(broadcast(tot.select(col("n").as("_n"))))
      .withColumn("_t", floor(-(col(cnt).cast("double") / col("_n"))
        * log(col(cnt).cast("double") / col("_n"))
        * lit(1e9) + lit(0.5)).cast("long"))
      .agg(sum(col("_t")).as("_h"))
    val miNano = cells.join(rows, Seq("a")).join(cols_, Seq("b"))
      .crossJoin(broadcast(tot.select(col("n").as("_n"))))
      .withColumn("_t", floor((col("o").cast("double") / col("_n"))
        * log(col("o").cast("double") * col("_n").cast("double")
          / (col("rt").cast("double") * col("ct").cast("double")))
        * lit(1e9) + lit(0.5)).cast("long"))
      .agg(sum(col("_t")).as("_mi"))
    tot.crossJoin(broadcast(miNano))
      .crossJoin(broadcast(entNano(rows, "rt").withColumnRenamed("_h", "_ha")))
      .crossJoin(broadcast(entNano(cols_, "ct").withColumnRenamed("_h", "_hb")))
      .select(col("n").as("n_items"), col("na").as("n_a"),
        col("nb").as("n_b"),
        round(col("_mi").cast("double") / lit(1e9), 6).as("mi"),
        round(col("_ha").cast("double") / lit(1e9), 6).as("h_a"),
        round(col("_hb").cast("double") / lit(1e9), 6).as("h_b"),
        when(col("_ha") > 0L && col("_hb") > 0L,
          round(col("_mi") / sqrt(col("_ha").cast("double")
            * col("_hb").cast("double")), 6)).as("nmi"))
  }

  /** Spearman rank correlation between two numeric columns, with
    * average-rank tie handling — the monotone-association check run
    * between quality signals (does signal A order the corpus the way
    * signal B does?). Works on doubled average ranks so ties stay
    * integer: for a value group with min-rank m and size c, the
    * doubled average rank is 2m + c − 1. ρ is Pearson over the
    * doubled ranks: every aggregate (n, Σxy, Σx², …) is an exact
    * integer sum, combined in ONE float expression — engine and
    * partition-order invariant. NULL when either column is constant.
    *
    * Scale shape: two global rank windows (single-partition over the
    * rows, the documented exact-order cost — same caveat as
    * [[ksTest]]; pre-aggregate or bucket first at extreme scale) and
    * one scalar aggregate. Exact-long aggregates bound n ≲ 10⁶ under
    * ANSI (Σ of rank products grows as 4n³); beyond that, quantize
    * the inputs into buckets first.
    *
    * Output: one row (n_items, rho).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val rx = Window.orderBy(col("x"))
    val ry = Window.orderBy(col("y"))
    val ranked = base
      .withColumn("r2x", lit(2L) * rank().over(rx)
        + count(lit(1)).over(Window.partitionBy(col("x"))) - lit(1L))
      .withColumn("r2y", lit(2L) * rank().over(ry)
        + count(lit(1)).over(Window.partitionBy(col("y"))) - lit(1L))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
        sum(col("r2x") * col("r2y")).as("sxy"),
        sum(col("r2x") * col("r2x")).as("sxx"),
        sum(col("r2y") * col("r2y")).as("syy"))
      .select(col("n").as("n_items"),
        when((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")) > 0.0
          && (col("n").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")) > 0.0,
          round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))), 6))
          .as("rho"))
  }

  /** Chi-square test of independence between two categorical columns:
    * χ² = Σ_cells (O·N − r·c)² / (N·r·c) — each cell term ONE float
    * expression over exact integer counts (observed O, row total r,
    * column total c, grand total N), floored to nanos at birth.
    * Output: one row (n_items, n_rows_cat, n_cols_cat, dof, chi2).
    */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("o")).localCheckpoint()
    val rows = cells.groupBy(col("r")).agg(sum(col("o")).as("rt"))
    val cols = cells.groupBy(col("c")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("r")).as("nr"), countDistinct(col("c")).as("nc"))
    // absent cells (O = 0) still contribute (rc)²/(N·rc) = rc/N — the
    // full grid comes from rows × cols, with observed counts joined in
    val grid = rows.crossJoin(broadcast(cols))
      .join(cells, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    grid.crossJoin(broadcast(tot))
      .withColumn("_term_nano", floor(
        ((col("o") * col("n") - col("rt") * col("ct")).cast("double")
          * (col("o") * col("n") - col("rt") * col("ct")).cast("double")
          / (col("n") * col("rt") * col("ct")).cast("double"))
          * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("_term_nano")).as("_sn"))
      .select(col("n").as("n_items"), col("nr").as("n_rows_cat"),
        col("nc").as("n_cols_cat"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round(col("_sn").cast("double") / lit(1e9), 6).as("chi2"))
  }

  /** Upper-tail standard normal 1−Φ(x), x ≥ 0, via Abramowitz–Stegun
    * 26.2.17 (|ε| < 7.5e-8): φ(x)·Horner(t), t = 1/(1+0.2316419x).
    * The Horner chain is a FIXED multiplication sequence mirrored
    * verbatim in the oracle (the q235 pow discipline) — exp/sqrt last-
    * ulp drift is absorbed by the caller's ppm rounding.
    */
  private[graft] def normalUpperTail(x: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val horner = ((((lit(1.330274429) * t + lit(-1.821255978)) * t
      + lit(1.781477937)) * t + lit(-0.356563782)) * t
      + lit(0.319381530)) * t
    exp(lit(-0.5) * x * x) * lit(0.3989422804014327) * horner
  }

  /** Per-group ROC-AUC via the Mann–Whitney U statistic — the
    * standard "does this score separate the classes" eval for quality
    * classifiers (AUC = P(score⁺ > score⁻) + ½P(=)), with the exact
    * tie-corrected normal z and a two-sided ppm p-value.
    *
    * Exact-integer discipline: scores collapse to per-(group, value)
    * positive/negative counts (ties handled EXACTLY, not by rank
    * jitter); a prefix sum over the value order gives each distinct
    * value's contribution pos·(2·neg_below + neg_at) — all longs — so
    * 2U is an exact integer and AUC is ONE long/long division.
    * The tie-corrected variance σ² = (n⁺n⁻/12)·((n+1) − Σ(t³−t)/
    * (n(n−1))) is a fixed double chain over exact longs, mirrored
    * verbatim in the oracle; p ppm-quantizes the A-S tail at birth
    * (the q297 discipline). Groups with an empty class are dropped
    * (no AUC exists).
    *
    * ANSI bound: the per-(group, value) tie term t³−t is computed in
    * exact longs, so a single tied cell may hold at most ~2.09M rows
    * (2^63^(1/3) ≈ 2 097 152) or the sum throws ARITHMETIC_OVERFLOW —
    * the analogue of wasserstein1's documented n_a·n_b·bins < 2^63
    * limit. Scores at that tie density should be pre-bucketed (which
    * also bounds the distinct-value table).
    *
    * Scale: one hash aggregate to (group, value) granularity, one
    * window partitioned by group over distinct values, one per-group
    * fold — nothing wider than the distinct-score table after the
    * first aggregate.
    */
  def mannWhitneyAuc(df: DataFrame, groupCol: String, valueCol: String,
      hit: org.apache.spark.sql.Column): DataFrame = {
    val byValue = df
      .select(col(groupCol).as("g"), col(valueCol).as("v"),
        hit.cast("int").as("_h"))
      .groupBy("g", "v")
      .agg(sum("_h").as("pos"),
        (count(lit(1)) - sum("_h")).as("neg"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contrib = byValue
      .withColumn("_negBelow", sum("neg").over(w) - col("neg"))
      .withColumn("_t", col("pos") + col("neg"))
      .withColumn("_u2", col("pos") * (lit(2L) * col("_negBelow") + col("neg")))
      .withColumn("_ties", col("_t") * col("_t") * col("_t") - col("_t"))
    val g = contrib.groupBy("g").agg(
      sum("pos").as("n_pos"), sum("neg").as("n_neg"),
      sum("_u2").as("_u2"), sum("_ties").as("_s"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
    val n = col("n_pos") + col("n_neg")
    val prod = (col("n_pos") * col("n_neg")).cast("double")
    val sigma = sqrt(prod / lit(12.0)
      * ((n + lit(1L)).cast("double")
        - col("_s").cast("double") / (n * (n - lit(1L))).cast("double")))
    val z = (col("_u2") - col("n_pos") * col("n_neg")).cast("double") /
      (lit(2.0) * sigma)
    g.select(col("g").as(groupCol), col("n_pos"), col("n_neg"),
        round(col("_u2").cast("double") / (lit(2.0) * prod), 6).as("auc"),
        round(z, 6).as("z"),
        round(normalUpperTail(abs(z)) * lit(2e6)).cast("long").as("p_ppm"))
      .orderBy(groupCol)
  }

  /** Cumulative gains / lift table — the targeting-eval companion to
    * [[mannWhitneyAuc]]: rank rows by score (desc, id tie-break),
    * split into `buckets` equal-count bands, and report per-band hit
    * capture and lift. "Read the top decile" is the production use of
    * a quality score; this table is what certifies it.
    *
    * The global rank is a DISTRIBUTED PREFIX SUM (the Packing
    * layout): range-partition by (score desc, id), per-partition
    * row_number in parallel, and only the per-partition totals (one
    * row per partition) pass through a single-partition window to
    * become offsets — no corpus-scale global window. The checkpoint
    * freezes the sampled range boundaries (the repartitionByRange
    * invariant: two consumers must see one layout). Bands come from
    * the exact integer ((rank−1)·buckets) div N, so band membership
    * is reproducible in any engine; all rates are single divisions of
    * exact longs, round(_, 6).
    */
  def gainsTable(df: DataFrame, idCol: String, scoreCol: String,
      hit: org.apache.spark.sql.Column, buckets: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).as("_id"), col(scoreCol).as("_s"),
        hit.cast("int").as("_h"))
      .repartitionByRange(parts, col("_s").desc, col("_id"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // one layout for ranks AND offsets
    val local = base.withColumn("_rn", row_number().over(
      Window.partitionBy("_pid").orderBy(col("_s").desc, col("_id"))))
    val perPart = base.groupBy("_pid")
      .agg(count(lit(1)).as("_n"), sum("_h").as("_p"))
    val offsets = perPart
      .withColumn("_off", coalesce(sum("_n").over(Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint() // feeds the broadcast join AND the totals
    val totals = offsets.agg(sum("_n").as("_N"), sum("_p").as("_P"))
    val banded = local
      .join(broadcast(offsets.select("_pid", "_off")), Seq("_pid"))
      .crossJoin(broadcast(totals))
      .withColumn("band",
        expr(s"((_off + _rn - 1) * $buckets) div _N").cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("_h").as("pos"),
        max("_N").as("_N"), max("_P").as("_P"))
    val wc = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .withColumn("cum_pos", sum("pos").over(wc))
      .select(col("band"), col("n"), col("pos"),
        round(col("pos").cast("double") / col("n").cast("double")
          / (col("_P").cast("double") / col("_N").cast("double")), 6)
          .as("lift"),
        round(col("cum_pos").cast("double") / col("_P").cast("double"), 6)
          .as("capture"))
      .orderBy("band")
  }

  /** Multiple-testing control (Benjamini–Hochberg 1995, FDR α=0.05)
    * over per-group proportion tests — the guardrail for "which of my
    * m slices moved?" readouts (per-source quality drift, per-segment
    * metric shifts): each group's hit-rate gets a two-sided one-sample
    * z against the pooled rate, p-values rank ascending, and the BH
    * step-up rejects ranks ≤ k* = max{i : p_(i) ≤ i·α/m}.
    *
    * Determinism: counts are exact integers; z is one fixed float
    * expression over them (6dp-rounded for the report); p is the A-S
    * chain ppm-quantized at birth; the BH comparison is EXACT INTEGER
    * — p_ppm·m ≤ rank·50000 (α·1e6 = 50000) — so no cross-engine
    * threshold flutter, and rank ties break on the group key.
    *
    * Scale shape: one grouped count aggregate (map-side combined), a
    * 1-row pooled frame broadcast back, a window over m rows (m =
    * slice count, bounded), nothing corpus-sized past the first agg.
    *
    * Output per group: n, hits, z (6dp), p_ppm, p_rank, rejected.
    */
  def proportionFdr(df: DataFrame, groupCol: String,
      hit: org.apache.spark.sql.Column): DataFrame = {
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(hit.cast("long")).as("hits"))
      .localCheckpoint() // feeds the pooled agg AND the scored join
    val pooled = broadcast(g.agg(sum(col("n")).as("n0"),
      sum(col("hits")).as("x0"), count(lit(1)).as("m")).localCheckpoint())
    val scored = g.crossJoin(pooled)
      .withColumn("_p0", col("x0").cast("double") / col("n0").cast("double"))
      .withColumn("_z",
        (col("hits").cast("double") / col("n").cast("double") - col("_p0"))
          / sqrt(col("_p0") * (lit(1.0) - col("_p0"))
            / col("n").cast("double")))
      .withColumn("p_ppm",
        round(normalUpperTail(abs(col("_z"))) * lit(2e6)).cast("long"))
    val w = Window.orderBy(col("p_ppm"), col(groupCol))
    val ranked = scored
      .withColumn("p_rank", row_number().over(w))
      .withColumn("_pass",
        when(col("p_ppm") * col("m") <= col("p_rank") * lit(50000L),
          col("p_rank")).otherwise(lit(0)))
      .localCheckpoint()
    val kstar = broadcast(ranked.agg(max(col("_pass")).as("kstar")))
    ranked.crossJoin(kstar)
      .select(col(groupCol), col("n"), col("hits"),
        round(col("_z"), 6).as("z"), col("p_ppm"), col("p_rank"),
        (col("p_rank") <= col("kstar")).cast("int").as("rejected"))
      .orderBy(groupCol)
  }
}
