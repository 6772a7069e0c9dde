package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-level data profiling — the per-column summary every dataset
  * onboarding run produces before a byte of it enters a training mix
  * (deequ's `ColumnProfiler`, Great Expectations' profile step):
  * row/null/distinct counts, lexicographic min/max, and the modal
  * value with its frequency, one output row per profiled column.
  *
  * Scale shape: ONE scan of the input explodes each row into
  * (column, value) pairs — a map-side projection, no join — and ONE
  * hash aggregate on (column, value) with map-side partials collapses
  * the corpus to its per-column value histogram. Everything after
  * (per-column rollup, modal-value window) runs on that collapsed
  * frame, whose size is the sum of per-column cardinalities — never
  * the row count. At 100 TB the single wide shuffle is the histogram
  * build; nothing downstream re-touches the input.
  *
  * Values are profiled through a CAST to string so one long-format
  * schema fits every column type; min/max are therefore LEXICOGRAPHIC
  * over that rendering (documented in the output column names).
  * Callers profile float columns at their own risk — float-to-string
  * rendering is engine-specific, so the registered query sticks to
  * string/integer/timestamp-free columns per the repo's cross-engine
  * rules.
  *
  * Modal-value tie-break is deterministic: highest count, then the
  * lexicographically LARGEST value. A column that is entirely NULL
  * profiles with NULL top_value/top_count (no non-null candidate).
  */
object Profile {
  /** The (column, value, cnt) histogram `columnProfile` is computed
    * from — exposed because it is the profile's MERGEABLE form: two
    * histograms over disjoint row sets fold by summing cnt per
    * (column, value), which is what the streaming profile store
    * persists per batch (`StreamingPower.profile`).
    */
  def valueHistogram(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column_name"), col(c).cast("string").as("value"))): _*))
      .as("_p"))
      .select(col("_p.*"))
      .groupBy("column_name", "value")
      .agg(count(lit(1)).as("cnt"))
  }

  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileFromCounts(valueHistogram(df, cols))

  /** The profile readout over a (column, value, cnt) histogram —
    * batch and merged-store paths share it, so streamed == batch by
    * construction once the histograms fold equal.
    */
  def profileFromCounts(counts: DataFrame): DataFrame = {
    val rollup = counts.groupBy("column_name").agg(
      sum("cnt").as("n_rows"),
      coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L)).as("n_null"),
      // counts frame has one row per distinct value; counting its
      // non-null rows IS the distinct-value count — no second
      // count-distinct shuffle.
      count(col("value")).as("n_distinct"),
      min("value").as("min_value"),
      max("value").as("max_value"))
    val w = Window.partitionBy("column_name")
      .orderBy(col("cnt").desc, col("value").desc)
    val top = counts.filter(col("value").isNotNull)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("column_name"), col("value").as("top_value"),
        col("cnt").as("top_count"))
    rollup.join(top, Seq("column_name"), "left")
      .orderBy("column_name")
  }

  /** k-anonymity profile over a quasi-identifier combination — the
    * privacy-governance check a dataset release runs: every row whose
    * QID equivalence class is smaller than `kMin` is re-identifiable
    * at that granularity. Reported as the group-size histogram
    * (exact integers: for each class size k, how many classes and how
    * many rows sit in them, flagged below the threshold) — the shape
    * that tells you both the risk mass and which generalization level
    * would clear it.
    *
    * Scale shape: one hash aggregate on the QID tuple (map-side
    * combined), then a second over class-size cardinality (≤ distinct
    * sizes, tiny). Nothing row-scale shuffles twice.
    */
  def kAnonymity(df: DataFrame, qidCols: Seq[String],
      kMin: Int = 5): DataFrame = {
    require(qidCols.nonEmpty)
    df.groupBy(qidCols.map(col): _*).agg(count(lit(1)).as("_k"))
      .groupBy(col("_k").as("group_size"))
      .agg(count(lit(1)).as("n_groups"), sum(col("_k")).as("n_rows"))
      .withColumn("below_k", (col("group_size") < kMin).cast("int"))
      .orderBy("group_size")
  }

  /** Cross-source duplication matrix — which provenance slices copy
    * each other: for every unordered source pair (a ≤ b), how many
    * duplicated SEGMENT pairs (fixed `segLen`-token windows, the
    * `Dedup.segmentDedup` unit) span them, within-source pairs on the
    * diagonal. Segment granularity is what surfaces real provenance
    * overlap — whole-doc digests only fire on byte-identical copies.
    * The matrix aggregates hashed segments and per-source counts,
    * never bodies; pair arithmetic is exact (n·(n−1) div 2 within,
    * n_a·n_b across).
    *
    * Output: (src_a, src_b, n_digests, n_pairs) for pairs with ≥ 1
    * duplicated segment pair, ordered by (src_a, src_b).
    */
  def crossSourceDuplication(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, segLen: Int = 8): DataFrame = {
    // materialize the token array before the lambda touches it (HOF
    // bodies re-evaluate outer subexpressions per element)
    val withToks = docs.select(col(srcCol).as("src"),
      split(col(textCol), " ").as("_toks"))
    val segArr = transform(
      sequence(lit(1), greatest(size(col("_toks")), lit(1)), lit(segLen)),
      s => concat_ws(" ", slice(col("_toks"), s, lit(segLen))))
    val g = withToks
      .select(col("src"), explode(segArr).as("segment"))
      .select(col("src"), xxhash64(col("segment")).as("digest"))
      .groupBy("digest", "src").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val a = g.select(col("digest"), col("src").as("src_a"), col("n").as("na"))
    val b = g.select(col("digest"), col("src").as("src_b"), col("n").as("nb"))
    a.join(b, Seq("digest"))
      .filter(col("src_a") <= col("src_b"))
      .withColumn("pairs",
        when(col("src_a") === col("src_b"),
          expr("na * (na - 1) div 2"))
          .otherwise(col("na") * col("nb")))
      .filter(col("pairs") > 0L)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_digests"), sum(col("pairs")).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Embedding-table data-quality audit per label: exact vector
    * counts, dimension bounds, zero-vector and non-finite counts, and
    * the mean L2 norm. Per-vector norms quantize at birth — each
    * element contributes round(x²·1e12) to an exact integer sum, so
    * the fold is partition- and engine-order invariant; norm_micro =
    * round(sqrt(pico/1e12)·1e6) is one float expression per row, and
    * the per-label mean is one division. Non-finite vectors count in
    * n_bad, contribute 0 to the norm mean, and are excluded from
    * n_zero. Pure map-side projection + one label aggregate.
    *
    * Output: (label, n_vecs, min_dim, max_dim, n_zero, n_bad,
    * mean_norm), ordered by label.
    */
  def embeddingAudit(embeddings: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame = {
    val v = transform(col(embCol), x => x.cast("double"))
    val bad = exists(v, x => isnan(x) || x === Double.PositiveInfinity
      || x === Double.NegativeInfinity)
    // the bad-guard must wrap the fold: under ANSI, casting a NaN/Inf
    // square to long throws — CaseWhen only evaluates the taken branch
    val pico = when(bad, lit(0L)).otherwise(aggregate(
      transform(v, x => round(x * x * lit(1e12)).cast("long")),
      lit(0L), (acc, x) => acc + x))
    embeddings.select(col(labelCol).as("label"),
        size(col(embCol)).as("_dim"), pico.as("_pico"), bad.as("_bad"))
      .withColumn("_norm_micro",
        round(sqrt(col("_pico") / lit(1e12)) * lit(1e6)).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("_dim")).as("min_dim"), max(col("_dim")).as("max_dim"),
        sum(when(!col("_bad") && col("_pico") === 0L, 1L).otherwise(0L))
          .as("n_zero"),
        sum(when(col("_bad"), 1L).otherwise(0L)).as("n_bad"),
        sum(col("_norm_micro")).as("_sn"))
      .select(col("label"), col("n_vecs"), col("min_dim"), col("max_dim"),
        col("n_zero"), col("n_bad"),
        round(col("_sn") / (col("n_vecs") * lit(1e6)), 6).as("mean_norm"))
      .orderBy("label")
  }

  /** Join-key skew report — the pre-flight a 100 TB join runs before
    * choosing a salting factor: exact key-frequency distribution
    * summary (max, exact median and p99 by position over the sorted
    * distinct-key frequencies) plus the skew ratio max/avg and the
    * integer salting factor ⌈max·n_keys/n_rows⌉ that would level the
    * hottest key to the average. Shape: one key-count aggregate, then
    * everything runs on the frequency-OF-frequency table — bounded by
    * the number of distinct frequency VALUES (≤ max_freq, typically
    * tiny), so the quantile window never sees key cardinality.
    *
    * Output: one row (n_rows, n_keys, max_freq, p50_freq, p99_freq,
    * skew_ratio, suggested_salt).
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // frequency-of-frequency: the skew summary never touches per-key
    // rows again — everything below is bounded by the number of
    // DISTINCT frequency values
    val fof = df.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("nk"))
      .localCheckpoint()
    val w = Window.orderBy(col("f"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = fof.withColumn("cumk", sum(col("nk")).over(w))
    val tot = fof.agg(sum(col("f") * col("nk")).as("n_rows"),
      sum(col("nk")).as("n_keys"), max(col("f")).as("max_freq"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n_rows"), col("n_keys"), col("max_freq"))
      .agg(
        min(when(col("cumk") >= expr("CAST(ceil(0.50e0 * n_keys) AS BIGINT)"),
          col("f"))).as("p50_freq"),
        min(when(col("cumk") >= expr("CAST(ceil(0.99e0 * n_keys) AS BIGINT)"),
          col("f"))).as("p99_freq"))
      .select(col("n_rows"), col("n_keys"), col("max_freq"),
        col("p50_freq"), col("p99_freq"),
        round(col("max_freq") * col("n_keys") / col("n_rows").cast("double"), 6)
          .as("skew_ratio"),
        expr("(max_freq * n_keys + n_rows - 1) div n_rows")
          .as("suggested_salt"))
  }

  /** Per-group Gini coefficient of an integer value column — the
    * dataset-balance report (how concentrated is token/byte mass
    * across a slice's documents?) a mixture review reads next to the
    * [[keySkewReport]]: 0 = perfectly even, →1 = one row holds
    * everything. Over each group's ascending values x_(1..n):
    * G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) — Σ i·x_i is invariant
    * under tie order (equal values swap identical products), so the
    * per-group window needs no tie-break; both sums are exact longs
    * and G is ONE float expression on them. NULL when Σx = 0.
    *
    * Scale shape: one per-group sort window (partitioned by the group
    * — never global) + one group aggregate. Σ i·x_i ≤ n²·max(x):
    * exact-long headroom to ~10⁹ value-mass per group.
    *
    * Output: (group, n, total, gini), ordered by group.
    */
  /** Order-invariant table fingerprint — the dataset-versioning
    * integrity check a 100 TB pipeline runs after a copy/compaction/
    * migration: row hash = md5-long of the NULL-sentineled column
    * renderings; duplicates fold into (row_hash, multiplicity) FIRST
    * so the final bit_xor cannot cancel even-multiplicity duplicates
    * (the naive xor-of-rows trap); the fingerprint is the xor of
    * md5(row_hash:count) over distinct rows — identical for any
    * partitioning, row order, or engine, different for any changed
    * cell, dropped row, or altered duplicate count.
    *
    * Float columns are excluded by CONTRACT (cross-engine string
    * rendering of doubles is not stable — the columnProfile rule).
    *
    * Output: one row (n_rows, n_distinct_rows, fingerprint).
    */
  def tableFingerprint(df: DataFrame, cols: Seq[String],
      hashes: graft.functions.HashFamily = graft.functions.Md5Family)
      : DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    // unit separator between columns, SOH as the NULL sentinel --
    // single-byte identical in both engines' UTF-8 (unicode escapes
    // per the no-literal-control-bytes rule)
    val sep = "\u001f"
    val rendered = cols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0001")))
    df.select(hashes.hash(concat_ws(sep, rendered: _*)).as("_h"))
      .groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .select(hashes.hash(concat(col("_h").cast("string"), lit(":"),
        col("_c").cast("string"))).as("_f"), col("_c"))
      .agg(sum(col("_c")).as("n_rows"),
        count(lit(1)).as("n_distinct_rows"),
        expr("bit_xor(_f)").as("fingerprint"))
  }

  /** Per-group trimmed mean of an integer value column — the robust
    * location estimate for monitoring dashboards (outlier meters,
    * runaway docs): drop the lowest and highest ⌊n·trimPct/100⌋ rows
    * by the total (value, id) order, average the rest. Drop counts
    * and the kept-sum are exact integers; the mean is ONE division
    * (trimPct < 50 guarantees ≥1 survivor per group).
    *
    * Scale shape: one per-group rank window (partitioned, never
    * global) + one aggregate. Output: (group, n, n_trimmed,
    * trimmed_mean), ordered by group.
    */
  /** Benford first-digit audit — does a positive amount column follow
    * the log-law digit distribution (P(d) = log₁₀(1+1/d)) that
    * organically-grown magnitudes obey? Gross deviation flags
    * synthetic, truncated, or unit-mangled data at onboarding.
    *
    * Determinism: the digit is the first character of the BIGINT
    * floor's decimal rendering (integer-to-string is exact in any
    * engine — no float log in the extraction path); expected shares
    * use ln of exact small rationals, the repo's established
    * transcendental (q73/q87/q230). Rows with value < 1 are excluded
    * (no leading digit). All 9 digits always emit (zero-observed rows
    * included) so the shape is fixed.
    *
    * Scale shape: one map-side projection + one 9-key hash aggregate;
    * the digit spine is a 9-row literal frame. Output: (digit,
    * observed, share 6dp, expected_share 6dp, chi2_contrib 6dp),
    * ordered by digit.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.filter(col(valueCol) >= 1.0)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    val spine = (1 to 9).toDF("digit")
    val tot = obs.agg(sum(col("observed")).as("n"))
    spine.join(obs, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"))
      .crossJoin(broadcast(tot))
      .withColumn("p", log((col("digit") + lit(1)).cast("double")
        / col("digit").cast("double")) / log(lit(10.0)))
      .withColumn("dev",
        col("observed").cast("double") - col("n").cast("double") * col("p"))
      .select(col("digit"), col("observed"),
        round(col("observed").cast("double") / col("n"), 6).as("share"),
        round(col("p"), 6).as("expected_share"),
        round(col("dev") * col("dev")
          / (col("n").cast("double") * col("p")), 6).as("chi2_contrib"))
      .orderBy("digit")
  }

  /** Selection-rate parity audit — does a keep/drop decision (a
    * quality filter, a sampling gate) select one cohort at a
    * disproportionately lower rate than the best-treated cohort? Per
    * group: the selection rate, the disparate-impact ratio
    * rate/rate_ref against the highest-rate group, and the four-
    * fifths-rule flag (di < 0.8 — the classic adverse-impact
    * screen, here pointed at corpus governance: "my Gopher filter
    * keeps 60% of English but 20% of Chinese" is a mixture bug).
    *
    * Determinism: counts exact; the reference group is the
    * (rate DESC, group) argmax where each rate is ONE division of
    * exact longs (identical doubles in both engines); di and the 80%
    * flag are evaluated on cross-multiplied exact integers — the flag
    * never touches a float. NULL di/flag when the reference selects
    * nothing.
    *
    * Scale shape: one group-sized aggregate, a 1-row broadcast of the
    * reference, a groups-sized window. Output: (group, n, n_selected,
    * rate 6dp, di_ratio 6dp, flag_disparate), ordered by group.
    */
  def selectionParity(df: DataFrame, groupCol: String,
      flagCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(col(flagCol).cast("long")).as("n_selected"))
    val w = Window.orderBy(
      (col("n_selected").cast("double") / col("n")).desc, col("group"))
    val ref = per.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("n").as("_n_ref"), col("n_selected").as("_s_ref"))
    per.crossJoin(broadcast(ref))
      .select(col("group"), col("n"), col("n_selected"),
        round(col("n_selected").cast("double") / col("n"), 6).as("rate"),
        when(col("_s_ref") > 0L,
          round((col("n_selected") * col("_n_ref")).cast("double")
            / (col("n") * col("_s_ref")).cast("double"), 6))
          .as("di_ratio"),
        when(col("_s_ref") > 0L,
          (col("n_selected") * col("_n_ref") * lit(10L)
            < col("n") * col("_s_ref") * lit(8L)).cast("int"))
          .as("flag_disparate"))
      .orderBy("group")
  }

  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, trimPct: Int = 5): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, s"bad trimPct $trimPct")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group"))
      .orderBy(col("x"), col(idCol))
    df.select(col(groupCol).as("group"), col(valueCol).cast("long").as("x"),
        col(idCol))
      .filter(col("x").isNotNull)
      .withColumn("_r", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("group"))))
      .withColumn("_cut", expr(s"_n * $trimPct div 100"))
      .filter(col("_r") > col("_cut") && col("_r") <= col("_n") - col("_cut"))
      .groupBy(col("group"))
      .agg(max(col("_n")).as("n"), count(lit(1)).as("n_trimmed"),
        sum(col("x")).as("_s"))
      .select(col("group"), col("n"), col("n_trimmed"),
        when(col("n_trimmed") > 0L,
          round(col("_s").cast("double") / col("n_trimmed"), 6))
          .as("trimmed_mean"))
      .orderBy("group")
  }

  def giniConcentration(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(groupCol).as("group"), col(valueCol).cast("long").as("x"))
      .filter(col("x").isNotNull)
      .withColumn("_i", row_number().over(
        Window.partitionBy(col("group")).orderBy(col("x"))))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum(col("_i") * col("x")).as("_s1"))
      .select(col("group"), col("n"), col("total"),
        when(col("total") > 0L,
          round((lit(2.0) * col("_s1").cast("double")
            - (col("n") + 1).cast("double") * col("total").cast("double"))
            / (col("n").cast("double") * col("total").cast("double")), 6))
          .as("gini"))
      .orderBy("group")
  }
}
