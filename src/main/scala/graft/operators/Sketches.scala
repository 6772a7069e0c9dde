package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HashFamily, Md5Family}

/** Deterministic, engine-portable cardinality sketching.
  *
  * Spark's `approx_count_distinct` (HyperLogLog++) is fast but its
  * estimate is engine-specific — no cross-engine oracle can check it
  * (q47 is rows-only for exactly that reason). Linear counting over
  * md5-derived buckets is the portable alternative: both engines
  * compute the SAME buckets and the SAME closed-form estimate
  * `-k·ln((k−occupied)/k)`, so the result is hash-comparable, while
  * still shuffling at most `k` distinct bucket ids (map-side partial
  * distinct) instead of the raw values. Accurate while occupancy stays
  * below ~⅔; size `k` ≳ the expected cardinality.
  */
object Sketches {
  /** Deterministic HyperLogLog cardinality estimate — the portable
    * sibling of `approx_count_distinct` (whose HLL++ register layout is
    * engine-private and therefore un-oracle-able; that built-in remains
    * the prod default when no cross-engine check is needed).
    *
    * Layout on the 60-bit [[Md5Family]] hash: low `p` bits select the
    * register, the remaining `60-p` bits feed the rank
    * `rho = leading-zeros + 1`, computed EXACTLY via the bit length of
    * the remainder (`length(bin(w))`) — no floating log2, whose
    * last-ulp behavior differs across libm implementations. The
    * register sum `Z = Σ 2^-rho` is likewise accumulated as an exact
    * integer `Σ 2^(maxRho - rho)` (≤ m·2^maxRho < 2^63): float-summing
    * 2^-rho would make the estimate depend on addition order, which an
    * engine-parallel aggregation cannot pin down. Standard small-range
    * linear-counting correction below 2.5·m.
    *
    * Scale shape: one hash projection, then a ≤2^p-register shuffle
    * with map-side partial max — the sketch, not the data, crosses the
    * wire.
    */
  def hllDistinct(df: DataFrame, c: Column, p: Int = 12,
      hashes: HashFamily = Md5Family): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, c, p, hashes), p)

  /** The (bucket, rho) register frame [[hllDistinct]] reads out — its
    * MERGEABLE form: HLL union is per-register MAX, so two register
    * frames over disjoint (or overlapping!) row sets fold by
    * `max(rho)` per bucket, which is what the streaming store
    * persists per batch (`StreamingPower.hll`).
    */
  def hllRegisters(df: DataFrame, c: Column, p: Int = 12,
      hashes: HashFamily = Md5Family): DataFrame = {
    val m = 1 << p
    val wBits = 60 - p        // Md5Family range is [0, 2^60)
    val maxRho = wBits + 1
    df.filter(c.isNotNull)
      .select(hashes.hash(c.cast("string")).as("h"))
      .select(pmod(col("h"), lit(m.toLong)).as("bucket"),
        shiftright(col("h"), p).as("w"))
      .groupBy("bucket")
      .agg(max(when(col("w") === 0, lit(maxRho))
        .otherwise(lit(maxRho) - length(bin(col("w"))))).as("rho"))
  }

  /** The estimate readout over a register frame — batch and
    * merged-store paths share it, so streamed == batch by
    * construction once the folded registers are equal.
    */
  def hllEstimateFromRegisters(regs: DataFrame, p: Int = 12): DataFrame = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble) * lit(m.toDouble)
    val pow2MaxRho = lit(1L << maxRho)
    regs
      .agg(count(lit(1)).as("occupied_buckets"),
        // SQL form: the DSL shiftleft only takes a literal shift count
        coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRho - rho)")),
          lit(0L)).as("z_num"))
      .select(col("occupied_buckets"),
        (col("z_num") + (lit(m.toLong) - col("occupied_buckets")) * pow2MaxRho)
          .as("z_int"),
        (lit(m.toLong) - col("occupied_buckets")).as("v_empty"))
      .select(col("occupied_buckets"),
        round(
          when((alphaM2 * pow2MaxRho.cast("double") / col("z_int").cast("double"))
              <= lit(2.5) * lit(m.toDouble) && col("v_empty") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty")))
          .otherwise(alphaM2 * pow2MaxRho.cast("double") / col("z_int").cast("double")),
          6).as("hll_estimate"))
  }

  /** HLL set algebra — the reason the register frame is the persisted
    * artifact: |A∪B| is the per-register MAX merge (exact over the
    * sketches, no rescan), and |A∩B| / containment follow by
    * inclusion–exclusion over the three estimates. At 100 TB the two
    * sides are register frames from different days/sources/stores —
    * 4096 rows each — so the whole set report costs three constant-
    * size aggregates, never a join of the underlying sets.
    *
    * Estimates are 6dp-rounded at birth (the shared readout), and the
    * inclusion–exclusion arithmetic runs over those rounded values in
    * fixed order — cross-engine stable. Intersection can come out
    * slightly negative on near-disjoint sets (HLL noise); it is
    * reported as-is, not clamped.
    */
  def hllSetOps(a: DataFrame, ca: Column, b: DataFrame, cb: Column,
      p: Int = 12, hashes: HashFamily = Md5Family): DataFrame = {
    val ra = hllRegisters(a, ca, p, hashes).localCheckpoint() // est + union
    val rb = hllRegisters(b, cb, p, hashes).localCheckpoint()
    val ru = ra.unionAll(rb).groupBy("bucket").agg(max(col("rho")).as("rho"))
    def est(regs: DataFrame, as: String): DataFrame =
      broadcast(hllEstimateFromRegisters(regs, p)
        .select(col("hll_estimate").as(as)))
    est(ra, "est_a").crossJoin(est(rb, "est_b")).crossJoin(est(ru, "est_u"))
      .select(col("est_a"), col("est_b"), col("est_u"),
        round(col("est_a") + col("est_b") - col("est_u"), 6)
          .as("est_intersection"),
        round((col("est_a") + col("est_b") - col("est_u")) / col("est_a"), 6)
          .as("containment_a"))
  }

  def linearCountDistinct(df: DataFrame, c: Column, k: Int = 4096,
      hashes: HashFamily = Md5Family): DataFrame =
    // NULLs are excluded EXPLICITLY: Spark's countDistinct skips the
    // NULL bucket that md5(NULL) produces, but a SQL oracle's
    // DISTINCT+count(*) counts it — filter on both sides so the parity
    // doesn't hinge on engine NULL-aggregation defaults.
    df.filter(c.isNotNull)
      .select(pmod(hashes.hash(c.cast("string")), lit(k.toLong)).as("b"))
      .agg(countDistinct(col("b")).as("occupied_buckets"))
      .select(col("occupied_buckets"),
        round(lit(-k.toDouble) *
          log((lit(k.toDouble) - col("occupied_buckets")) / lit(k.toDouble)), 6)
          .as("estimated_distinct"))

  /** Mergeable fixed-bin histogram quantiles — the sketch alternative
    * to the exact percentiles (q42): exact `percentile` needs all
    * values of a group in one place (a sort-based aggregate), while a
    * fixed-bin histogram is one hash aggregate whose state is ≤ `bins`
    * counters — mergeable across partitions/days, constant memory, and
    * the quantile is then read off the cumulative histogram. Error is
    * bounded by the bin width (range/bins).
    *
    * Everything is deterministic arithmetic (no library quantile
    * sketch), so the SAME formula runs in a SQL oracle. Min/max/count
    * fold in as a broadcast 1-row aggregate — in-plan, no eager job.
    * The cumulative window is global but runs over ≤ `bins` rows.
    * Output: (percentile, bin, value_est = bin's lower edge).
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, bins: Int = 1000,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.agg(min(v).as("_lo"), max(v).as("_hi"), count(v).as("_n"))
    val binned = df.select(v.as("_v")).crossJoin(broadcast(stats))
      .select(
        when(col("_hi") === col("_lo"), lit(0L))
          .otherwise(least(lit((bins - 1).toLong),
            floor((col("_v") - col("_lo")) / (col("_hi") - col("_lo")) * bins)))
          .cast("int").as("bin"))
    val hist = binned.groupBy("bin").agg(count(lit(1)).as("bcnt"))
    val cum = hist.withColumn("cum",
      sum(col("bcnt")).over(org.apache.spark.sql.expressions.Window.orderBy("bin")))
    val targets = stats.select(
      explode(array(qs.map(lit): _*)).as("percentile"),
      col("_n"), col("_lo"), col("_hi"))
      .withColumn("target", ceil(col("percentile") * col("_n")))
    targets.join(cum, col("cum") >= col("target"))
      .groupBy("percentile", "_lo", "_hi")
      .agg(min(col("bin")).as("bin"))
      .select(col("percentile"), col("bin"),
        round(col("_lo") + col("bin") * (col("_hi") - col("_lo")) / lit(bins.toDouble), 6)
          .as("value_est"))
      .orderBy("percentile")
  }

  /** Winsorization: clamp a value column to its [pLo, pHi] percentile
    * band, with the band edges estimated from the SAME mergeable
    * fixed-bin histogram `histogramQuantiles` uses — so the thresholds
    * are deterministic, cross-engine reproducible, and computable in
    * one extra pass however large the table. The two-edge table is a
    * broadcast (2 rows); clamping itself is map-side.
    */
  def winsorize(df: DataFrame, idCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95, bins: Int = 1000): DataFrame = {
    val edges = histogramQuantiles(df, valueCol, bins, Seq(pLo, pHi))
      .groupBy()
      .agg(
        min(when(col("percentile") === pLo, col("value_est"))).as("_ql"),
        min(when(col("percentile") === pHi, col("value_est"))).as("_qh"))
    df.crossJoin(broadcast(edges))
      .select(col(idCol), col(valueCol),
        round(least(greatest(col(valueCol).cast("double"), col("_ql")), col("_qh")), 6)
          .as(s"${valueCol}_w"))
  }

  /** Fixed-edge histogram — the MERGEABLE form of `histogramQuantiles`:
    * bin edges are declared up front instead of derived from the
    * data's min/max, so two histograms over different data slices
    * (micro-batches, days, partitions) merge by plain bin-count
    * addition — the property the streaming store needs. Out-of-range
    * values clamp into the edge bins (they stay counted; their value
    * estimate saturates at the declared range). Output: (bin, bcnt).
    */
  def fixedHistogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int = 1000): DataFrame = {
    require(hi > lo, "hi must exceed lo")
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull)
      .select(least(lit((bins - 1).toLong), greatest(lit(0L),
        floor((v - lit(lo)) / lit(hi - lo) * bins))).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("bcnt"))
  }

  /** Quantile readout off a fixed-edge (bin, bcnt) histogram — the
    * same cumulative walk as `histogramQuantiles`, over ≤ `bins` rows.
    * Output: (percentile, bin, value_est = bin lower edge).
    */
  def quantilesFromHistogram(hist: DataFrame, lo: Double, hi: Double,
      bins: Int, qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    val cum = hist.withColumn("cum",
      sum(col("bcnt")).over(org.apache.spark.sql.expressions.Window.orderBy("bin")))
    val targets = hist.agg(sum(col("bcnt")).as("_n"))
      .select(explode(array(qs.map(lit): _*)).as("percentile"), col("_n"))
      .withColumn("target", ceil(col("percentile") * col("_n")))
    targets.join(cum, col("cum") >= col("target"))
      .groupBy("percentile").agg(min(col("bin")).as("bin"))
      .select(col("percentile"), col("bin"),
        round(lit(lo) + col("bin") * lit(hi - lo) / lit(bins.toDouble), 6)
          .as("value_est"))
      .orderBy("percentile")
  }

  /** Per-GROUP fixed-edge histogram quantiles — the grouped form of
    * `fixedHistogram` + `quantilesFromHistogram` in one pass: state is
    * ≤ groups×bins counters (one hash aggregate with map-side
    * partials), the cumulative walk is a window over ≤ bins rows per
    * group, and the same declared edges make per-slice histograms
    * mergeable. The exact per-group percentile would instead sort
    * every group's values; at 100 TB the histogram is the difference
    * between a counter table and a corpus-wide sort.
    * Output: (group, percentile, bin, value_est).
    */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, lo: Double, hi: Double, bins: Int = 1000,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    require(hi > lo, "hi must exceed lo")
    val v = col(valueCol).cast("double")
    val hist = df.filter(v.isNotNull)
      .select(col(groupCol),
        least(lit((bins - 1).toLong), greatest(lit(0L),
          floor((v - lit(lo)) / lit(hi - lo) * bins))).cast("int").as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("bcnt"))
      .localCheckpoint(false) // feeds both the cum window and the totals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("bin")
    val cum = hist.withColumn("cum", sum(col("bcnt")).over(w))
    // target is computed in a SEPARATE projection: a select that both
    // generates `percentile` and reads it would resolve the lateral
    // alias and die (see CLAUDE.md generator-alias invariant)
    val targets = hist.groupBy(col(groupCol)).agg(sum(col("bcnt")).as("_n"))
      .select(col(groupCol), explode(array(qs.map(lit): _*)).as("percentile"),
        col("_n"))
      .withColumn("target", ceil(col("percentile") * col("_n")))
    targets.join(cum, Seq(groupCol))
      .filter(col("cum") >= col("target"))
      .groupBy(col(groupCol), col("percentile")).agg(min(col("bin")).as("bin"))
      .select(col(groupCol), col("percentile"), col("bin"),
        round(lit(lo) + col("bin") * lit(hi - lo) / lit(bins.toDouble), 6)
          .as("value_est"))
      .orderBy(groupCol, "percentile")
  }

  /** Mergeable bottom-k quantile sketch — grouped quantiles with NO
    * pre-declared bin edges (the gap `fixedHistogram` leaves: its
    * mergeability costs a declared [lo, hi] up front). Each row's id
    * hashes to a uniform 60-bit key and the sketch is the k rows with
    * the SMALLEST hashes per group — a KMV-style bottom-k uniform
    * sample with an adaptive rate. This is the deterministic,
    * closed-form-membership sibling of KLL's randomized compaction:
    * membership ("is this row in the sketch?") is a pure function of
    * the data, so the exact sketch replays bit-identically in a SQL
    * oracle, where KLL's coin flips cannot.
    *
    * Properties:
    *  - size ≤ k per group however large n grows;
    *  - MERGEABLE: bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))
    *    — an exact algebraic identity, so per-slice/per-batch sketches
    *    fold losslessly ([[mergeQuantileSamples]]);
    *  - RE-DELIVERY-PROOF: the same row re-appended hashes to the same
    *    key, and merge dedups on (group, h) before trimming;
    *  - error bound: the sample is uniform without replacement, so the
    *    q-quantile estimate's rank error exceeds z·n·√(q(1−q)/k) with
    *    probability ≤ 2(1−Φ(z)) (z = 3 ⇒ ≈0.3%); k = 1024 keeps the
    *    q=0.5 rank error under ~4.7% of n at 3σ. The spec asserts the
    *    z = 3 bound against exact percentiles on testdata.
    *
    * Scale shape: one shuffle of (group, h, v) triples — 24 B/row,
    * values never carry payloads — with a SALTED first stage: per
    * (group, h mod 32) bottom-k in parallel, then per-group bottom-k
    * over ≤ 32·k survivors, so no single task sorts a whole hot group.
    * Ties on h (≈2⁻⁶⁰ per id pair) break on v, mirrored in the oracle.
    * Output: (group, h, v), ≤ k rows per group.
    */
  def quantileSample(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int,
      hashes: graft.functions.HashFamily = graft.functions.Md5Family)
      : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val hashed = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("group"),
        hashes.hash(col(idCol).cast("string")).as("h"),
        col(valueCol).cast("double").as("v"))
    val salts = 32L
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"), col("_salt")).orderBy(col("h"), col("v"))
    val stage1 = hashed.withColumn("_salt", pmod(col("h"), lit(salts)))
      .withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= k).drop("_rn", "_salt")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("h"), col("v"))
    stage1.withColumn("_rn", row_number().over(w2))
      .filter(col("_rn") <= k).drop("_rn")
  }

  /** Fold any union of per-slice bottom-k samples back to one sketch:
    * dedup re-delivered rows by (group, h) — min(v) keeps a collision
    * deterministic — then keep the k smallest hashes per group. Exact
    * merge: equals the one-shot sketch of the union.
    */
  def mergeQuantileSamples(samples: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("h"), col("v"))
    samples.groupBy(col("group"), col("h")).agg(min(col("v")).as("v"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k).drop("_rn")
  }

  /** Quantile readout off a (group, h, v) sample: rank the ≤ k sample
    * values per group (ties break on h, mirrored in the oracle) and
    * pick rank ⌈q·m⌉. Output: (group, percentile, value_est 6dp,
    * sample_n).
    */
  def quantilesFromSample(sample: DataFrame,
      qs: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99)): DataFrame = {
    val ranked = sample.withColumn("_vr",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("group")).orderBy(col("v"), col("h"))))
    val targets = sample.groupBy("group").agg(count(lit(1)).as("sample_n"))
      .select(col("group"), col("sample_n"),
        explode(array(qs.map(lit): _*)).as("percentile"))
      .withColumn("_target",
        greatest(ceil(col("percentile") * col("sample_n")), lit(1L)))
    targets.join(ranked, Seq("group"))
      .filter(col("_vr") === col("_target"))
      .select(col("group"), col("percentile"),
        round(col("v"), 6).as("value_est"), col("sample_n"))
      .orderBy("group", "percentile")
  }

  /** One-pass grouped quantiles without declared edges —
    * [[quantileSample]] + [[quantilesFromSample]] composed.
    */
  def sampledGroupQuantiles(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int,
      qs: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99)): DataFrame =
    quantilesFromSample(quantileSample(df, groupCol, idCol, valueCol, k), qs)

  /** Count-min sketch heavy hitters: `depth` salted hash rows of
    * `width` counters; a token's estimate is the MIN over its `depth`
    * counters — always ≥ the true count, within εN with probability
    * 1−δ for width = e/ε, depth = ln(1/δ). The sketch is `depth×width`
    * counters regardless of vocabulary size — the point at 100 TB,
    * where the exact vocabulary aggregate is itself huge. Both the
    * sketch build and the readout are hash aggregates on the tiny
    * (r, c) key space; the sketch table broadcasts to the readout join.
    * Output: top `k` tokens by estimated count (token tie-break), with
    * the exact count alongside (the overestimate witness; the exact
    * aggregate exists here only for verification).
    */
  /** (token, r, c) counter coordinates for every token occurrence. */
  private def cmKeys(tokens: DataFrame, tokenCol: String, depth: Int,
      width: Int, hashes: HashFamily): DataFrame =
    tokens.select(col(tokenCol).as("token"))
      .select(col("token"),
        posexplode(array((0 until depth).map(r =>
          hashes.hashWithSalt(col("token"), lit(r)) % width): _*)).as(Seq("r", "c")))

  /** The raw sketch table (r, c, cnt) — at most depth×width rows. Two
    * sketches with the same (depth, width, hashes) MERGE by summing
    * counts per (r, c); that mergeability is what makes the sketch a
    * streaming/partitioned-aggregation primitive (see
    * `StreamingPower.countMin`).
    */
  def countMinSketch(tokens: DataFrame, tokenCol: String, depth: Int = 4,
      width: Int = 1024, hashes: HashFamily = Md5Family): DataFrame =
    cmKeys(tokens, tokenCol, depth, width, hashes)
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))

  /** Point estimate per distinct token against a (possibly merged)
    * sketch table: min over the token's depth counters. Always ≥ the
    * true count.
    */
  def countMinEstimates(tokens: DataFrame, tokenCol: String, sketch: DataFrame,
      depth: Int = 4, width: Int = 1024,
      hashes: HashFamily = Md5Family): DataFrame =
    cmKeys(tokens, tokenCol, depth, width, hashes)
      .dropDuplicates("token", "r")
      .join(broadcast(sketch), Seq("r", "c"))
      .groupBy("token").agg(min(col("cnt")).as("est_count"))

  /** JOIN-SIZE ESTIMATION from count-min sketches (the classic
    * AMS-family application; Cormode & Muthukrishnan 2005 §4.2): the
    * equi-join cardinality |A ⋈ B on key| = Σ_k f_A(k)·f_B(k) is the
    * inner product of the two key-frequency vectors, and the
    * per-row inner product of two CM sketches built with the SAME
    * (depth, width, hash family) overestimates it by exactly the
    * collision mass — so min over the depth rows is an upper bound
    * that concentrates within ε·N_A·N_B/width. The 100 TB use: the
    * two sketches are constant-size (depth×width) MERGEABLE tables
    * (the `StreamingPower.countMin` store shape), so a pipeline can predict
    * whether a join is broadcastable / how many shuffle partitions it
    * needs WITHOUT running the join or scanning either side again.
    *
    * This certification form computes the exact inner product
    * alongside (two key-granular hash aggregates + one key-sized
    * join — never the materialized join) the way `countMinTopK`
    * carries its exact counts: the overestimate is a hash-verified
    * number, not a faith claim. est_join ≥ exact_join always.
    *
    * Determinism: counters and products are exact longs (order-free
    * sums); ANSI bound: the true inner product is ≤ n_a·n_b, so the
    * estimate stays under 2⁶³ while n_a·n_b < 2⁶³ (~3·10⁹ rows per
    * side) — beyond that, pre-aggregate or widen the sketch. Output:
    * one row (n_a, n_b, est_join, exact_join, est_ratio 6dp).
    */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, depth: Int = 4, width: Int = 1024,
      hashes: HashFamily = Md5Family): DataFrame = {
    val ka = a.select(col(aKey).cast("string").as("k"))
    val kb = b.select(col(bKey).cast("string").as("k"))
    val base = joinSizeFromSketches(
      countMinSketch(ka, "k", depth, width, hashes),
      countMinSketch(kb, "k", depth, width, hashes), depth)
    // exact Σ f_A·f_B: key-granular aggregates + a key-sized join —
    // the verification side; production reads the sketches only.
    // Grouped/joined on the NATIVE key (the string cast exists only
    // for the sketch side's hash contract): a long shuffles 8 fixed
    // bytes where its decimal string shuffles up to 20 — same groups,
    // same matches, same exact_join.
    val exact = a.select(col(aKey).as("jk")).groupBy("jk")
      .agg(count(lit(1)).as("fa"))
      .join(b.select(col(bKey).as("jk")).groupBy("jk")
        .agg(count(lit(1)).as("fb")), Seq("jk"))
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_join"))
    base.crossJoin(broadcast(exact))
      .select(col("n_a"), col("n_b"), col("est_join"), col("exact_join"),
        when(col("exact_join") > 0L,
          round(col("est_join").cast("double")
            / col("exact_join").cast("double"), 6)).as("est_ratio"))
  }

  /** The ESTIMATE half of [[joinSizeEstimate]] from two ALREADY-BUILT
    * count-min sketch tables sharing (depth, width, hash family) —
    * what a store-fed planner reads. Count-min rows are mergeable
    * (sum per (r, c)), so the inputs can come straight off two
    * persisted monitor stores (`StreamingPower.keySketchRows`) with
    * NO scan of either joined input: the whole readout touches
    * 2×depth×width rows. One row (n_a, n_b, est_join).
    */
  def joinSizeFromSketches(sketchA: DataFrame, sketchB: DataFrame,
      depth: Int = 4): DataFrame = {
    val spark = sketchA.sparkSession
    // the sketch tables are ≤ depth×width rows — checkpoint so the
    // inner product AND the totals read one materialization
    val sa = sketchA.localCheckpoint()
    val sb = sketchB.localCheckpoint()
    // per-row inner products over the (r, c) cell space (both sides
    // tiny, the join is cell-keyed); rows with NO overlapping cells
    // contribute 0 via the grid left join
    val ip = sa.select(col("r"), col("c"), col("cnt").as("ca"))
      .join(sb.select(col("r"), col("c"), col("cnt").as("cb")),
        Seq("r", "c"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
    val est = spark.range(depth).select(col("id").as("r"))
      .join(ip, Seq("r"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("est_join"))
    // totals come off the sketches (any one row sums to N) — no
    // scan of either input
    // sum over an EMPTY side's zero sketch rows is NULL — coalesce pins
    // the empty-input case to 0, matching the oracle's count(*) and the
    // documented one-row (n_a, n_b, ...) contract
    val tot = sa.filter(col("r") === 0)
      .agg(coalesce(sum("cnt"), lit(0L)).as("n_a"))
      .crossJoin(broadcast(sb.filter(col("r") === 0)
        .agg(coalesce(sum("cnt"), lit(0L)).as("n_b"))))
    tot.crossJoin(broadcast(est))
  }

  /** EXACT heavy hitters (all items with count · k > N) in two scans
    * and zero vocabulary-scale shuffles — the frequent-items
    * complement of the count-min estimates above.
    *
    * Scan 1 runs Misra–Gries with k counters per partition and emits
    * each partition's surviving candidates. Pigeonhole guarantee: an
    * item with global count > N/k must exceed n_p/k in at least one
    * partition, and per-partition MG retains every such item — so the
    * union of candidates is a SUPERSET of the true heavy hitters
    * (≤ k·partitions ids, a bounded artifact, broadcast-safe). Scan 2
    * left-joins the broadcast candidate set and folds everything else
    * into one _OTHER_ row, so the exact-count shuffle carries
    * |candidates|+1 groups per partition instead of the vocabulary —
    * N comes from the same pass (sum over the groups), no third scan.
    * False candidates are dropped by the exact threshold; the output
    * is bit-identical to a full groupBy-count filter.
    */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, "heavy hitters need k >= 2")
    val spark = items.sparkSession
    import spark.implicits._
    val toks = items.select(col(itemCol).cast("string").as("item"))
    val cands = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        if (counters.contains(x)) counters(x) += 1L
        else if (counters.size < k - 1) counters(x) = 1L
        else {
          // decrement-all step; drop zeroed counters
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { key =>
            val c = counters(key) - 1L
            if (c == 0L) dead += key else counters(key) = c
          }
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("item").distinct().localCheckpoint()
    // non-candidates fold into the NULL-item group (keyed by the flag,
    // not a sentinel string, so no real token can collide with it)
    val counts = toks
      .join(broadcast(cands.withColumn("_cand", lit(1))), Seq("item"), "left")
      .groupBy(col("_cand").isNotNull.as("is_cand"),
        when(col("_cand").isNotNull, col("item")).as("item"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds both the total and the filtered output
    val total = counts.agg(sum("cnt")).collect()(0).getLong(0)
    counts
      .filter(col("is_cand"))
      .filter(col("cnt") * k > total)
      .withColumn("share", round(col("cnt").cast("double") / total, 6))
      .select("item", "cnt", "share")
      .orderBy("item")
  }

  def countMinTopK(tokens: DataFrame, tokenCol: String, depth: Int = 4,
      width: Int = 1024, k: Int = 20,
      hashes: HashFamily = Md5Family): DataFrame = {
    val tok = tokens.select(col(tokenCol).as("token"))
    // localCheckpoint: the hashed stream feeds both the sketch build
    // and the readout — without it the token hashing runs twice
    val hashed = cmKeys(tok, "token", depth, width, hashes).localCheckpoint()
    val cm = hashed.groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val est = hashed.dropDuplicates("token", "r")
      .join(broadcast(cm), Seq("r", "c"))
      .groupBy("token").agg(min(col("cnt")).as("est_count"))
    val exact = tok.groupBy("token").agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("token"))
      .orderBy(col("est_count").desc, col("token"))
      .limit(k)
  }
}
