package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFamily, Md5Family, XxHash64Family}

/** Deterministic hash-bucket sampling and dataset splitting — the
  * reproducible way to carve train/val/test (or take an N% sample) at
  * any scale: no `rand()` (whose value depends on partitioning and
  * retry), no global sort, no state. A document's bucket is a pure
  * function of its id, so its split NEVER changes as the corpus grows
  * or is re-partitioned — the property training pipelines rely on to
  * keep eval sets stable across snapshots.
  *
  * Pure map-side projection/filter: zero shuffles, filter pushes to
  * the scan.
  */
object Sampling {
  /** Stable bucket in [0, buckets) from the string rendering of a key
    * column.
    */
  def hashBucket(c: Column, buckets: Int,
      hashes: HashFamily = XxHash64Family): Column =
    pmod(hashes.hash(c.cast("string")), lit(buckets.toLong))

  /** Attach `bucket` (0-99) and `split` ∈ {train, val, test} columns. */
  def split(docs: DataFrame, idCol: String, trainPct: Int = 80,
      valPct: Int = 10, hashes: HashFamily = XxHash64Family): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    docs.withColumn("bucket", hashBucket(col(idCol), 100, hashes))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Leakage-safe train/val/test split: near-duplicate CLUSTERS are
    * the unit of assignment, so no pair of near-dups ever straddles a
    * split boundary (the q91 leakage number is zero by construction —
    * the fix to the naive per-doc split it measures). `pairs` is any
    * near-dup edge set (MinHash-LSH, n-gram Jaccard, SemDeDup, CDC);
    * docs in no pair form singleton clusters keyed by their own id,
    * so for them this degrades to exactly `split`.
    *
    * Scale: one CC over the pair set (O(log n) star rounds via
    * `Dedup.connectedComponentsAuto`), one equi-join of the bounded
    * label table onto the corpus, then a map-side hash of the cluster
    * id. Assignment is a pure function of the cluster id — stable as
    * the corpus grows, same guarantee as `split`.
    */
  def clusterAwareSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, trainPct: Int = 80, valPct: Int = 10,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    val labels = Dedup.connectedComponentsAuto(pairs, aCol, bCol)
      .select(col("doc_id").as("_cc_id"), col("cluster_id"))
    docs.join(labels, docs(idCol) === col("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .drop("_cc_id")
      .withColumn("bucket", hashBucket(col("cluster_id"), 100, hashes))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** TEMPORAL (rank-ordered) train/val/test split: assign by position
    * in `orderCol` order — the train-on-the-past / test-on-the-future
    * protocol (order = crawl time, ingestion id, event time), the one
    * split dimension hash ([[split]]) and cluster
    * ([[clusterAwareSplit]]) assignment don't cover. Bands are exact
    * integer compares rank·100 ≤ pct·N, so membership is reproducible
    * in any engine.
    *
    * The global rank is the DISTRIBUTED PREFIX SUM (the gainsTable /
    * Packing layout): range-partition by (orderCol, id), per-partition
    * row_number in parallel, per-partition totals through a
    * |partitions|-row window into offsets — no corpus-scale global
    * window; the checkpoint freezes the sampled range boundaries (the
    * repartitionByRange invariant). Unlike the hash split, a temporal
    * split is NOT stable under corpus growth — appending future data
    * shifts band edges by design (the past/future boundary moves);
    * use it to AUDIT a time cut, not to key persistent assignment.
    *
    * Output: (idCol, split ∈ train|val|test).
    */
  def temporalSplit(df: DataFrame, idCol: String, orderCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "bad split percentages")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).as("_id"), col(orderCol).as("_o"))
      .repartitionByRange(parts, col("_o"), col("_id"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // one layout for ranks AND offsets
    val local = base.withColumn("_rn", row_number().over(
      Window.partitionBy("_pid").orderBy(col("_o"), col("_id"))))
    val offsets = base.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum("_n").over(Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint() // feeds the broadcast join AND the total
    val total = offsets.agg(sum("_n").as("_N"))
    local.join(broadcast(offsets.select("_pid", "_off")), Seq("_pid"))
      .crossJoin(broadcast(total))
      .withColumn("_r", col("_off") + col("_rn"))
      .select(col("_id").as(idCol),
        when(col("_r") * 100 <= lit(trainPct.toLong) * col("_N"), lit("train"))
          .when(col("_r") * 100 <= lit((trainPct + valPct).toLong) * col("_N"),
            lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Keep a deterministic ~pct% sample. */
  def sample(docs: DataFrame, idCol: String, pct: Int,
      hashes: HashFamily = XxHash64Family): DataFrame =
    docs.filter(hashBucket(col(idCol), 100, hashes) < pct)

  /** Stratified deterministic sampling: a different keep-percentage per
    * group value (the corpus-REBALANCING op — downsample the dominant
    * language/source, keep the rest). Same stability guarantee as
    * `split`: membership is a pure function of the id, so the sample
    * for a group never churns as other groups grow. Map-side filter,
    * no shuffle, pushdown-friendly.
    */
  def stratifiedSample(docs: DataFrame, idCol: String, groupCol: String,
      pctByGroup: Map[String, Int], defaultPct: Int,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val pct = pctByGroup.foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), 100, hashes) < pct)
  }

  /** Mixture balancing with COMPUTED rates: downsample every group to
    * ~`cap` rows, keeping smaller groups whole — the "no source may
    * dominate the mixture" pass, with the rate derived from the
    * observed group counts instead of hand-tuned percentages
    * (`stratifiedSample` is the fixed-rate form).
    *
    * Keep-decision: hash(id) % 1e6 < floor(cap·1e6 / group_count) —
    * all-integer thresholds, so the sample is deterministic,
    * engine-portable, and stable per id as OTHER groups grow. The
    * group-count table is one hash aggregate (a row per group)
    * broadcast back over the corpus; the filter itself is map-side.
    * Expected kept size per capped group is cap ± binomial noise —
    * rate-based, not exact-k (exact-k needs a per-group top-k by hash;
    * rate is the scale-friendly default).
    */
  def capGroups(docs: DataFrame, idCol: String, groupCol: String, cap: Long,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val counts = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_group_n"))
      .withColumn("_keep_ppm",
        least(lit(1000000L), expr(s"${cap * 1000000L}L div _group_n")))
    docs.join(broadcast(counts), Seq(groupCol))
      .filter(pmod(hashes.hash(col(idCol).cast("string")), lit(1000000L))
        < col("_keep_ppm"))
      .drop("_group_n", "_keep_ppm")
  }

  /** Temperature-based mixture rebalancing — the multilingual-corpus
    * sampling rule (XLM-R style): group i is drawn with probability
    * ∝ n_i^α, α ∈ (0, 1], flattening the head without discarding the
    * tail (α=1 is natural proportions, α→0 uniform). Realized as a
    * deterministic per-row acceptance: group quota = T·w_i/Σw with
    * w_i = n_i^α and T = `targetFrac`·N, so the per-row keep rate is
    * quota/n_i, floored to integer ppm and hash-tested — the same
    * stable, engine-portable keep-decision as `capGroups`.
    *
    * Cross-engine float discipline: the order-varying Σw is NOT summed
    * as raw doubles (parallel float addition order is unpinnable);
    * each weight is floored to an integer (·1e6) first, so the sum is
    * exact and the remaining per-group arithmetic is a fixed chain of
    * double ops on identical integers. α=0.5 uses sqrt (bit-exact in
    * IEEE, unlike pow whose libm last-ulp varies across engines).
    *
    * One tiny aggregate + broadcast join + map-side filter, like its
    * siblings.
    */
  def temperatureSample(docs: DataFrame, idCol: String, groupCol: String,
      targetFrac: Double = 0.5,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_w", floor(sqrt(col("_n").cast("double")) * lit(1000000.0)))
    val totals = counts.agg(sum(col("_n")).as("_tot"), sum(col("_w")).as("_sumw"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col(groupCol),
        least(lit(1000000L),
          floor(lit(targetFrac) * col("_tot") * col("_w") / col("_sumw") / col("_n")
            * lit(1000000.0))).as("_ppm"))
    docs.join(broadcast(rates), Seq(groupCol))
      .filter(pmod(hashes.hash(col(idCol).cast("string")), lit(1000000L))
        < col("_ppm"))
      .drop("_ppm")
  }

  /** Deterministic epoch shuffle — the reproducible training-order
    * primitive: every document gets a shard and an in-shard position
    * that are pure functions of (id, epoch), so the order for epoch e
    * is (a) pseudo-random, (b) different every epoch, and (c) exactly
    * reconstructible for resume-from-step or data-order ablations —
    * no `rand()`, no driver-held permutation.
    *
    * Shard = hash(id:epoch) mod numShards (map-side); position =
    * rank of that hash within the shard. One shuffle on the shard key
    * and a per-shard sort — each shard sorts independently, so the
    * cost at 100 TB is a single exchange with numShards-way
    * parallelism, never a global sort. Consumers read shards in id
    * order and rows by position.
    */
  def epochShuffle(docs: DataFrame, idCol: String, epoch: Int,
      numShards: Int, hashes: HashFamily = XxHash64Family): DataFrame = {
    val h = hashes.hash(concat(col(idCol).cast("string"), lit(":" + epoch)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_h"), col(idCol))
    docs.withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(numShards.toLong)))
      .withColumn("pos", row_number().over(w))
      .drop("_h")
  }

  /** EXACT-k group capping: keep exactly min(cap, |group|) rows per
    * group — the k smallest by hash of id, i.e. a deterministic uniform
    * choice. One shuffle on the group key, then a per-group window
    * rank; no global sort, no count pre-pass (contrast `capGroups`,
    * whose rate-based keep is one broadcast cheaper but only
    * approximately k). Membership can change as the group grows (rank
    * is relative), which is the price of exactness — use `capGroups`
    * when per-id stability matters more than the exact count.
    */
  def capGroupsExact(docs: DataFrame, idCol: String, groupCol: String,
      cap: Int, hashes: HashFamily = XxHash64Family): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashes.hash(col(idCol).cast("string")), col(idCol))
    docs.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .drop("_rk")
  }

  /** Token-BUDGET group capping — the UniMax-style mixture trim: each
    * group keeps documents in deterministic hash-priority order until
    * the group's cumulative token count would pass `budgetTokens`.
    * Training mixtures are budgeted in tokens, not documents —
    * `capGroupsExact` bounds row counts, this bounds what the model
    * actually consumes, and a long-document-heavy source stops earlier.
    *
    * Scale shape: one group-key shuffle + a per-group running sum
    * (partitioned window, no global sort), exactly `capGroupsExact`'s
    * cost. The hash order makes the kept set reproducible across runs
    * and engines. Output adds `cum_tokens` (the group's running total
    * through each kept doc).
    */
  def capGroupsByTokens(docs: DataFrame, idCol: String, groupCol: String,
      tokenCol: String, budgetTokens: Long,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashes.hash(col(idCol).cast("string")), col(idCol))
    docs.withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis,
    * "Weighted random sampling with a reservoir", IPL 2006): each row
    * draws key = u^(1/w) with u uniform in (0, 1] and the top-k keys
    * are the sample — inclusion probability proportional to weight,
    * no replacement, one pass. Here u is DETERMINISTIC
    * (hash(id)/2^60, Md5Family by default so DuckDB reproduces it
    * bit-for-bit), which makes the "random" sample stable across
    * runs, retries, and engines — the property a training mixture
    * actually needs. Ranking uses ln(u)/w (monotone in u^(1/w),
    * no pow underflow); keys are continuous so cross-engine ties
    * are impossible, and the OUTPUT carries only rank + row columns,
    * never the float key.
    *
    * `groupCol` nonempty = top-k PER GROUP (a per-source quality-
    * weighted mixture draw): one group-key shuffle + partitioned
    * window — `capGroupsExact`'s exact cost shape, no global sort.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int, groupCol: String = "",
      hashes: HashFamily = Md5Family): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // (hash + 1) / 2^60: Md5Family yields [0, 2^60), so u ∈ (0, 1]
    val u = (hashes.hash(col(idCol).cast("string")) + lit(1L)).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val key = log(u) / col(weightCol).cast("double") // maximize: closest to 0
    val positive = docs.filter(col(weightCol) > 0)
    if (groupCol.isEmpty) {
      // global top-k: sort-limit plans as TakeOrderedAndProject —
      // per-partition heaps + a k-row driver merge, never the
      // single-partition shuffle a global row_number window costs.
      // The rank window then runs over k rows only.
      val top = positive.orderBy(key.desc, col(idCol)).limit(k)
      top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(key.desc, col(idCol))))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol)).orderBy(key.desc, col(idCol))
      positive.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** DSIR-style importance resampling (Xie et al. 2023): reweight a
    * raw corpus toward a target domain using hashed-unigram bucket
    * statistics — each doc's importance is the log-likelihood ratio of
    * its token buckets under the target vs the raw distribution
    * (add-1 smoothed), and the sample is the Gumbel-top-n by
    * importance (Gumbel-max = sampling without replacement
    * proportional to exp(importance), made deterministic here by
    * md5-derived uniforms).
    *
    * Determinism: bucket counts are exact integers; each bucket's
    * log-ratio quantizes to integer nanos in ONE float expression on
    * those exact counts, so the per-doc importance is an exact integer
    * sum (the q148 rule). The Gumbel score is one float expression per
    * doc on exact inputs (never aggregated), ranked with an id
    * tie-break.
    *
    * Scale shape: one token explode feeding two hash aggregates — the
    * bucket table (≤ `buckets` rows, broadcast back onto the token
    * stream) and the per-doc importance sum (map-side combined, keyed
    * by id). The top-n plans as TakeOrderedAndProject: per-partition
    * heaps + an n-row driver merge, no global sort, no corpus shuffle
    * beyond the per-doc aggregate.
    *
    * Output: (rank 1..n, id, imp_nano), ordered by rank. `targetCol`
    * must be 0/1 — the in-domain indicator the ratio is fit against.
    */
  def importanceResample(docs: DataFrame, idCol: String, textCol: String,
      targetCol: String, n: Int, buckets: Int = 256,
      hashes: HashFamily = Md5Family): DataFrame =
    importanceResampleWith(docs, idCol, textCol,
      dsirBucketStats(docs, idCol, textCol, targetCol, buckets, hashes),
      n, buckets, hashes)

  /** The mergeable half of [[importanceResample]]: per-bucket exact
    * token counts in the target subcorpus (`tc`) and the whole corpus
    * (`rc`). Sums fold across any split of the corpus — the streaming
    * store form (`StreamingPower.dsir`).
    */
  def dsirBucketStats(docs: DataFrame, idCol: String, textCol: String,
      targetCol: String, buckets: Int = 256,
      hashes: HashFamily = Md5Family): DataFrame =
    docs.select(col(targetCol).cast("long").as("_tgt"),
        explode(TextAnalysis.wsTokens(col(textCol))).as("_t"))
      .select(col("_tgt"),
        pmod(hashes.hash(col("_t")), lit(buckets)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("_tgt")).as("tc"), count(lit(1)).as("rc"))

  /** Distribution (histogram) matching by deterministic rejection
    * sampling: thin a raw corpus so a bucketed feature (here any
    * numeric column, e.g. token length) matches a REFERENCE corpus's
    * distribution — the shape-matching complement of
    * [[importanceResample]] (DSIR matches content, this matches a
    * marginal). Standard rejection scaling: per-bucket acceptance
    * `(t_b/T)/(r_b/R)` normalized so the tightest bucket accepts
    * everything; the accept decision is `md5(id) % 1e6 < acc_ppm` —
    * a pure function of the id, so membership never changes across
    * runs, partitionings, or engines.
    *
    * Determinism: bucket counts are exact; the density ratio
    * quantizes to integer nanos in one float expression on exact
    * counts; the normalization is integer-only
    * (`floor(ratio_nano·1e6 / max_ratio_nano)`, bucket tie-break on
    * the argmax). Scale shape: two count aggregates + a ≤buckets-row
    * broadcast back onto the raw side; the corpus never shuffles.
    *
    * Output per occupied raw bucket: (bucket, n_ref, n_raw, acc_ppm,
    * n_kept), ordered by bucket.
    */
  def histogramMatch(raw: DataFrame, ref: DataFrame, idCol: String,
      bucketCol: String, hashes: HashFamily = Md5Family): DataFrame = {
    val rb = raw.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("n_raw"))
    val tb = ref.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("n_ref"))
    val tot = rb.agg(sum(col("n_raw")).as("rt")).crossJoin(
      tb.agg(sum(col("n_ref")).as("tt")))
    val ratios = rb.join(tb, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        col("n_raw"),
        floor((coalesce(col("n_ref"), lit(0L)).cast("double") / col("tt"))
          / (col("n_raw").cast("double") / col("rt"))
          * lit(1e9) + lit(0.5)).cast("long").as("ratio_nano"))
      .localCheckpoint()
    val mx = ratios.orderBy(col("ratio_nano").desc, col("bucket")).limit(1)
      .select(col("ratio_nano").as("max_nano"))
    val acc = ratios.crossJoin(broadcast(mx))
      .select(col("bucket"), col("n_ref"), col("n_raw"),
        when(col("max_nano") === 0L, lit(0L))
          .otherwise(floor(col("ratio_nano").cast("double") * lit(1e6)
            / col("max_nano")).cast("long")).as("acc_ppm"))
      .localCheckpoint()
    val kept = raw
      .select(col(bucketCol).as("bucket"),
        pmod(hashes.hash(col(idCol).cast("string")), lit(1000000L))
          .as("_u_ppm"))
      .join(broadcast(acc.select(col("bucket"), col("acc_ppm"))),
        Seq("bucket"))
      .filter(col("_u_ppm") < col("acc_ppm"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_kept"))
    acc.join(kept, Seq("bucket"), "left")
      .select(col("bucket"), col("n_ref"), col("n_raw"), col("acc_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("bucket")
  }

  /** The scoring half of [[importanceResample]], given a (possibly
    * folded) bucket-stats table.
    */
  def importanceResampleWith(docs: DataFrame, idCol: String,
      textCol: String, stats: DataFrame, n: Int, buckets: Int = 256,
      hashes: HashFamily = Md5Family): DataFrame = {
    require(n > 0 && buckets > 0)
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.wsTokens(col(textCol))).as("_t"))
      .select(col(idCol),
        pmod(hashes.hash(col("_t")), lit(buckets)).cast("long").as("bucket"))
    val tot = stats.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val lr = stats.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor((log((col("tc") + lit(1L)).cast("double")
            / (col("tt") + lit(buckets.toLong)).cast("double"))
          - log((col("rc") + lit(1L)).cast("double")
            / (col("rt") + lit(buckets.toLong)).cast("double")))
          * lit(1e9) + lit(0.5)).cast("long").as("lr_nano"))
      // materialize the <=buckets-row model before broadcasting: the
      // scoring pass must not re-run the stats aggregate's corpus scan
      // under a BroadcastExchange (the q102 rule)
      .localCheckpoint()
    val imp = tok.join(broadcast(lr), Seq("bucket"))
      .groupBy(col(idCol)).agg(sum(col("lr_nano")).as("imp_nano"))
    val u = (hashes.hash(col(idCol).cast("string")) + lit(1L)).cast("double") /
      lit(1152921504606846976.0) // 2^60, u ∈ (0, 1]
    val score = col("imp_nano").cast("double") / lit(1e9) - log(-log(u))
    val top = imp.orderBy(score.desc, col(idCol)).limit(n)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(score.desc, col(idCol))))
      .select(col("rank"), col(idCol), col("imp_nano"))
      .orderBy("rank")
  }

  /** Deterministic negative sampling for contrastive training: each
    * anchor draws `k` pseudo-random partners by hashing (anchor, i)
    * into the DENSE id space [0, N) — the contract is contiguous ids,
    * the layout `epochShuffle`/`zipWithIndex`-style reindexing
    * produces. A draw that hits the anchor itself steps to the next id
    * (mod N), so no anchor pairs with itself.
    *
    * Scale shape: N is folded into the plan (broadcast 1-row count —
    * no eager driver count), the k-fan-out is map-side, and partner
    * attributes attach via ONE equi-join on the sampled id. Hash-
    * deterministic: the same corpus gives the same negatives on every
    * run and engine (Md5Family), so training is reproducible.
    */
  def negativeSamples(ids: DataFrame, idCol: String, k: Int = 4,
      hashes: HashFamily = Md5Family): DataFrame = {
    val n = ids.agg(count(lit(1)).as("_n"))
    val drawn = ids.select(col(idCol))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("_n"),
        posexplode(transform(sequence(lit(0), lit(k - 1)), i =>
          pmod(hashes.hash(concat(col(idCol).cast("string"), lit(":"),
            i.cast("string"), lit(":neg"))), col("_n"))))
          .as(Seq("sample_idx", "_draw")))
      .select(col(idCol).as("anchor_id"), col("sample_idx"),
        when(col("_draw") === col(idCol), pmod(col("_draw") + 1, col("_n")))
          .otherwise(col("_draw")).as("neg_id"))
    drawn.join(ids.select(col(idCol).as("neg_id")), Seq("neg_id"))
      .select(col("anchor_id"), col("sample_idx"), col("neg_id"))
  }

  /** Per-group score calibration: z-score against the group's own
    * mean/sample-stddev plus the percentile rank within the group —
    * the bias-removal step before a GLOBAL quality threshold: raw
    * scores aren't comparable across languages/sources (different
    * length and style distributions), calibrated ones are.
    *
    * Two windows over ONE partitioning (group) — a single shuffle,
    * no stats join. z is NULL when the group's stddev is 0 or
    * undefined (constant or singleton group): no finite z exists.
    * Both outputs round(_, 6).
    */
  /** Robust per-group calibration: z against the group's MEDIAN and
    * MAD (×1.4826, the normal-consistency constant) — outlier-proof
    * where `scoreCalibration`'s mean/stddev is not: one corrupt
    * mega-document shifts a mean but barely moves a median — plus a
    * deterministic equal-frequency bin (`ntile` ordered by
    * (score, id): the id tie-break is what makes bin membership
    * reproducible across engines and partitionings; curriculum
    * schedules read off the bins).
    *
    * Two group-level exact percentile aggregates (tiny results,
    * broadcast back), one window. `robust_z` NULL when MAD = 0.
    */
  def robustCalibration(docs: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, bins: Int = 10): DataFrame = {
    val med = docs.groupBy(groupCol)
      .agg(expr(s"percentile($scoreCol, 0.5)").as("_med"))
    val dev = docs.select(col(idCol), col(groupCol), col(scoreCol))
      .join(broadcast(med), Seq(groupCol))
      .withColumn("_adev", abs(col(scoreCol) - col("_med")))
    val mad = dev.groupBy(groupCol)
      .agg(expr("percentile(_adev, 0.5)").as("_mad"))
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol), col(idCol))
    dev.join(broadcast(mad), Seq(groupCol))
      .withColumn("robust_z", round(
        when(col("_mad") > 0,
          (col(scoreCol) - col("_med")) / (lit(1.4826) * col("_mad"))), 6))
      .withColumn("bin", ntile(bins).over(w))
      .select(col(idCol), col(groupCol), col(scoreCol), col("robust_z"), col("bin"))
      .orderBy(idCol)
  }

  /** Isotonic (monotone nondecreasing) calibration of a binary
    * outcome against a binned score — the PAV solution computed by
    * its minimax closed form
    *
    *   fit(i) = max over j<=i of ( min over k>=i of mean(y[j..k]) )
    *
    * over BOUNDED equal-width bins. This is the classifier-calibration
    * step of a quality-filter pipeline (raw model scores are not
    * probabilities; the monotone projection is the canonical
    * nonparametric fix). Sequential PAV doesn't distribute; the
    * minimax form does: one data pass (hash aggregate into <= `bins`
    * groups), then all pair/triple work happens on the bin table —
    * O(B^2) pair means and O(B^3) minimax comparisons with B bounded
    * by the caller regardless of data volume, so the shape is
    * scale-free. Cross-engine exactness: bin counts travel as exact
    * longs, each pair mean is ONE division of two integers (bit-stable
    * in both engines), and max/min over identical doubles is
    * order-free; only the final readout rounds.
    *
    * Scores below 0 clamp into bin 0 and above bins·binWidth into the
    * top bin; empty bins are simply absent (the fit is over observed
    * bins). Output: (bin, n, pos, raw_rate, iso_rate) ordered by bin,
    * iso_rate monotone nondecreasing.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: Column, hitCol: Column,
      bins: Int, binWidth: Double): DataFrame = {
    require(bins >= 1 && bins <= 512, "isotonic bins must be 1..512")
    // one pass: per-bin totals (the only data-sized stage)
    // clamp on the LONG before any narrowing cast: floor() of an extreme
    // score can exceed Int range and ANSI mode would throw CAST_OVERFLOW
    // instead of clamping into the edge bin (the psiBinCounts pattern)
    isotonicFromBins(df.select(
        least(lit((bins - 1).toLong), greatest(lit(0L),
          floor(scoreCol / lit(binWidth)).cast("long"))).cast("int").as("bin"),
        hitCol.cast("int").as("_hit"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("_hit").as("pos")))
  }

  /** The bin-table half of [[isotonicCalibration]]: the minimax PAV
    * fold over an already-aggregated (bin, n, pos) frame — the seam
    * the STREAMING calibration store reads through (per-bin counts
    * merge across micro-batches by plain summation, then this fold is
    * identical on the merged table: streamed ≡ one-shot by
    * construction).
    */
  def isotonicFromBins(binned0: DataFrame): DataFrame = {
    val binned = binned0.select(col("bin"), col("n"), col("pos"))
      .localCheckpoint() // feeds the prefix frame AND two join roles
    // prefix sums over the tiny bin table (single-partition window is
    // deliberate: <= bins rows)
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = binned
      .select(col("bin"), col("n"), col("pos"),
        sum("n").over(w).as("_cn"), sum("pos").over(w).as("_cp"))
      .localCheckpoint() // two aliases below
    val lo = pref.select(col("bin").as("j"),
      (col("_cn") - col("n")).as("_cn0"), (col("_cp") - col("pos")).as("_cp0"))
    val hi = pref.select(col("bin").as("k"),
      col("_cn").as("_cn1"), col("_cp").as("_cp1"))
    // mean over the contiguous run j..k, as one integer/integer division
    // non-equi joins on the bounded bin table: broadcast explicitly so
    // the planner never falls back to a CartesianProduct (suite-wide ban)
    val pairMean = lo.join(broadcast(hi), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("_cp1") - col("_cp0")).cast("double")
          / (col("_cn1") - col("_cn0")).cast("double")).as("_m"))
    val fit = binned.select(col("bin"))
      .join(broadcast(pairMean), col("j") <= col("bin") && col("k") >= col("bin"))
      .groupBy("bin", "j").agg(min("_m").as("_mmin"))
      .groupBy("bin").agg(max("_mmin").as("_iso"))
    binned.join(fit, Seq("bin"))
      .select(col("bin"), col("n"), col("pos"),
        round(col("pos").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round(col("_iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  /** Calibration-quality readout over a fitted bin table (the
    * [[isotonicFromBins]] output): ECE — the expected calibration
    * error Σ n_b·|raw_b − iso_b| / N, how far the monotone fit had to
    * move the observed rates — plus the Murphy (1973) decomposition
    * with the fit as the forecast: reliability Σ n(iso−raw)²/N,
    * resolution Σ n(raw−p̄)²/N, uncertainty p̄(1−p̄). Every per-bin
    * term is one float expression over the fitted table's (already
    * 6dp-deterministic) rates, nano-quantized at birth; the folds are
    * exact integer sums over ≤ bins rows.
    */
  def calibrationErrorReport(fitted: DataFrame): DataFrame = {
    val tot = fitted.agg(sum("n").as("_nt"), sum("pos").as("_pt"))
    val pbar = col("_pt").cast("double") / col("_nt").cast("double")
    val terms = fitted.crossJoin(broadcast(tot))
      .withColumn("_ece_nano",
        round(col("n") * abs(col("raw_rate") - col("iso_rate")) * lit(1e9))
          .cast("long"))
      .withColumn("_rel_nano",
        round(col("n") * (col("iso_rate") - col("raw_rate"))
          * (col("iso_rate") - col("raw_rate")) * lit(1e9)).cast("long"))
      .withColumn("_res_nano",
        round(col("n") * (col("raw_rate") - pbar)
          * (col("raw_rate") - pbar) * lit(1e9)).cast("long"))
    terms.groupBy("_nt", "_pt").agg(
        count(lit(1)).as("n_bins"),
        sum("_ece_nano").as("_se"), sum("_rel_nano").as("_sl"),
        sum("_res_nano").as("_sr"))
      .select(col("_nt").as("n_total"),
        col("n_bins").cast("integer").as("n_bins"),
        round(col("_se").cast("double") / col("_nt") / lit(1e9), 6)
          .as("ece"),
        round(col("_sl").cast("double") / col("_nt") / lit(1e9), 6)
          .as("reliability"),
        round(col("_sr").cast("double") / col("_nt") / lit(1e9), 6)
          .as("resolution"),
        round(pbar * (lit(1.0) - pbar), 6).as("uncertainty"))
  }

  /** Split-conformal outlier band per group — the
    * distribution-free anomaly gate: a deterministic hash split
    * carves a calibration set, the nonconformity score is the
    * absolute deviation from the calibration median, and the
    * threshold q̂ is the ⌈(1−α)(n+1)⌉-th smallest calibration score —
    * guaranteeing ≥(1−α) coverage on exchangeable eval rows with NO
    * distributional assumption (Vovk's split-conformal recipe). The
    * reported eval coverage audits the guarantee.
    *
    * Determinism: the split is an md5-ppm membership test; median and
    * q̂ are exact order statistics (row_number over (value, id) — the
    * VALUE at rank k is tie-order-free); deviations and the coverage
    * compare are single float expressions over identical doubles in
    * both engines. When ⌈(1−α)(n+1)⌉ > n_cal the finite-sample
    * threshold is +∞ — reported as NULL q̂/covered/coverage rather
    * than a clamped lie.
    *
    * Scale shape: a map-side hash flag, two per-group rank windows
    * over calibration rows only, and broadcast joins of the per-group
    * scalars; eval rows never shuffle beyond their group aggregate.
    *
    * Output: (group, n_cal, n_eval, cal_median 6dp, qhat 6dp,
    * n_covered, coverage 6dp), ordered by group.
    */
  def conformalOutlierReport(df: DataFrame, idCol: String,
      groupCol: String, valueCol: String, alphaPct: Int = 10,
      calPpm: Long = 500000L,
      hashes: HashFamily = Md5Family): DataFrame = {
    require(alphaPct > 0 && alphaPct < 100, s"bad alphaPct: $alphaPct")
    // the report join fans out over every per-group scalar below —
    // checkpoint each tiny frame (and the one corpus-sized scored
    // frame, read by two aggregates) or the base chain re-derives
    // once per consumer (12.7 s → 1.4 s at sf0.1)
    val base = df.select(col(groupCol).as("group"), col(idCol).as("_id"),
      col(valueCol).cast("double").as("_v"),
      (pmod(hashes.hash(col(idCol).cast("string")), lit(1000000L))
        < lit(calPpm)).as("_cal"))
      .localCheckpoint()
    val cal = base.filter(col("_cal"))
    val calN = cal.groupBy("group").agg(count(lit(1)).as("n_cal"))
      .localCheckpoint()
    val wv = Window.partitionBy("group").orderBy(col("_v"), col("_id"))
    val med = cal.withColumn("_rn", row_number().over(wv).cast("long"))
      .join(broadcast(calN), Seq("group"))
      .filter(col("_rn") === expr("(n_cal + 1) div 2"))
      .select(col("group"), col("_v").as("_med"))
      .localCheckpoint()
    val scored = base.join(broadcast(med), Seq("group"))
      .withColumn("_a", abs(col("_v") - col("_med")))
      .localCheckpoint()
    val wa = Window.partitionBy("group").orderBy(col("_a"), col("_id"))
    val kq = calN.withColumn("_kq",
      expr(s"(${100 - alphaPct} * (n_cal + 1) + 99) div 100"))
    val qhat = scored.filter(col("_cal"))
      .withColumn("_rn", row_number().over(wa).cast("long"))
      .join(broadcast(kq), Seq("group"))
      .filter(col("_rn") === col("_kq"))
      .select(col("group"), col("_a").as("_qhat"))
      .localCheckpoint()
    val ev = scored.filter(!col("_cal"))
      .join(broadcast(qhat), Seq("group"), "left")
      .groupBy("group")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("_a") <= col("_qhat"), lit(1L))).as("n_covered"))
    calN.join(med, Seq("group"))
      .join(qhat, Seq("group"), "left")
      .join(ev, Seq("group"))
      .select(col("group"), col("n_cal"), col("n_eval"),
        round(col("_med"), 6).as("cal_median"),
        round(col("_qhat"), 6).as("qhat"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_eval"), 6)
          .as("coverage"))
      .orderBy("group")
  }

  def scoreCalibration(docs: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame = {
    val wg = Window.partitionBy(groupCol)
    val wo = Window.partitionBy(groupCol).orderBy(col(scoreCol))
    val sd = stddev_samp(col(scoreCol)).over(wg)
    docs.select(col(idCol), col(groupCol), col(scoreCol))
      .withColumn("z", round(
        when(sd > 0, (col(scoreCol) - avg(col(scoreCol)).over(wg)) / sd), 6))
      .withColumn("pct_rank", round(percent_rank().over(wo), 6))
      .orderBy(idCol)
  }

  /** Rendezvous (highest-random-weight) shard assignment — the
    * stable re-sharding rule for 100 TB layouts: each key goes to the
    * shard with the largest hash(key, shard), so when the shard count
    * grows from n to n+1 only the keys the NEW shard wins move
    * (expected 1/(n+1) of them) — every other key stays put, unlike
    * mod-n hashing which reshuffles almost everything. Reported per
    * key: the n-shard winner, the (n+1)-shard winner, and the moved
    * flag (1 ⟺ the winner changed, which can only be shard n).
    *
    * Shape: a pure per-row projection — the shard argmax folds over
    * an in-row `transform`ed sequence of (hash, shard) structs
    * (`array_max`'s struct ordering breaks exact hash ties toward the
    * larger shard id); no shuffle, no join, nothing corpus-sized.
    *
    * Output: (idCol, shard, shard_next, moved), ordered by idCol.
    */
  /** Deterministic bootstrap confidence interval for the mean of an
    * integer column — "how sure are we of this dashboard number":
    * B pseudo-replicas give each row a multiplier m = Bern(½)+Bern(½)
    * (mean 1, variance ½ — the two-coin approximation of the Poisson
    * bootstrap, from two independent md5 bits of (id, replica)), each
    * replica's mean is ONE floored division of exact longs (nanos),
    * and the CI is the percentile band over the B replica means.
    * Fully deterministic: same ids → same CI, any partitioning.
    *
    * Scale shape: one map-side explode ×B with map-side-combined
    * per-replica partial sums — B rows cross the wire per partition;
    * the percentile window runs over B rows. Exact-nano means bound
    * Σ m·x ≤ ~9·10⁹ value-mass; beyond that drop to double means.
    *
    * Output: one row (n_rows, b_replicas, mean, ci_lo, ci_hi).
    */
  def bootstrapCiMean(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 200, alphaPct: Int = 5,
      hashes: HashFamily = Md5Family): DataFrame = {
    require(b >= 40 && alphaPct >= 1 && alphaPct < 50, s"bad b/alpha")
    val rows = df.select(col(idCol).cast("string").as("_id"),
        col(valueCol).cast("long").as("_x"))
      .filter(col("_x").isNotNull)
    val reps = rows
      .select(col("_id"), col("_x"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("_m",
        pmod(hashes.hash(concat(col("_id"), lit(":"),
          col("rep").cast("string"), lit(":1"))), lit(2L))
          + pmod(hashes.hash(concat(col("_id"), lit(":"),
            col("rep").cast("string"), lit(":2"))), lit(2L)))
      .groupBy(col("rep"))
      .agg(sum(col("_m") * col("_x")).as("_smx"), sum(col("_m")).as("_sm"))
      .withColumn("_mean_nano",
        when(col("_sm") > 0L, expr("(_smx * 1000000000) div _sm")))
      .filter(col("_mean_nano").isNotNull)
    val wUp = Window.orderBy(col("_mean_nano"), col("rep"))
    val wDown = Window.orderBy(col("_mean_nano").desc, col("rep").desc)
    val ranked = reps
      .withColumn("_r", row_number().over(wUp))
      .withColumn("_rd", row_number().over(wDown))
      .localCheckpoint()
    val loRank = greatest(lit((b.toLong * alphaPct) / 200L), lit(1L))
    val tot = rows.agg(count(lit(1)).as("n_rows"), sum(col("_x")).as("_sx"))
    tot.crossJoin(broadcast(
        ranked.agg(count(lit(1)).as("b_replicas"),
          min(when(col("_r") === loRank, col("_mean_nano"))).as("_lo"),
          min(when(col("_rd") === loRank, col("_mean_nano"))).as("_hi"))))
      .select(col("n_rows"), col("b_replicas"),
        round(col("_sx").cast("double") / col("n_rows"), 6).as("mean"),
        round(col("_lo") / lit(1e9), 6).as("ci_lo"),
        round(col("_hi") / lit(1e9), 6).as("ci_hi"))
  }

  /** Neyman (optimal) allocation of a fixed sampling budget across
    * strata — minimum-variance stratified sampling: n_h ∝ N_h·s_h
    * (big, high-variance strata get the samples). Weights are one
    * float expression over exact sums quantized to NANOS at birth;
    * the proportional split is exact integer arithmetic with
    * largest-remainder rounding (ties to the lexicographically
    * smaller stratum), so Σ alloc = budget exactly. Allocations may
    * exceed a stratum's size (the textbook caveat) — capping and
    * refilling is [[waterFillMix]]'s job; the raw optimum is reported
    * with a capped flag.
    *
    * Single-row strata have undefined s_h → weight 0 (documented).
    * Scale shape: one stratum aggregate + windows over |strata| rows.
    *
    * Output: (group, n_rows, sd, weight_nano, alloc, capped),
    * ordered by group.
    */
  def neymanAllocation(df: DataFrame, groupCol: String, valueCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"bad budget $budget")
    val stats = df.select(col(groupCol).as("group"),
        col(valueCol).cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("_sd", when(col("n") > 1L,
        sqrt((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * (col("n") - 1).cast("double")))))
      .withColumn("weight_nano", coalesce(
        floor(col("n").cast("double") * col("_sd") * lit(1e9) + lit(0.5))
          .cast("long"), lit(0L)))
      .localCheckpoint()
    val tot = stats.agg(sum(col("weight_nano")).as("_w"))
    val base = stats.crossJoin(broadcast(tot))
      .withColumn("_alloc0", when(col("_w") > 0L,
        expr(s"(weight_nano * ${budget}L) div _w")).otherwise(lit(0L)))
      .withColumn("_rem", when(col("_w") > 0L,
        expr(s"(weight_nano * ${budget}L) % _w")).otherwise(lit(0L)))
    val wRem = Window.orderBy(col("_rem").desc, col("group"))
    val leftover = base.agg((lit(budget) -
      coalesce(sum(col("_alloc0")), lit(0L))).as("_left"))
    base.crossJoin(broadcast(leftover))
      .withColumn("_rr", row_number().over(wRem))
      .withColumn("alloc", col("_alloc0")
        + when(col("_rr") <= col("_left"), 1L).otherwise(0L))
      .select(col("group"), col("n").as("n_rows"),
        round(col("_sd"), 6).as("sd"), col("weight_nano"),
        col("alloc"), (col("alloc") > col("n")).cast("int").as("capped"))
      .orderBy("group")
  }

  /** Uniform-target mixture solver by WATER-FILLING — the step that
    * turns "give every language an equal share of a B-row budget"
    * into per-group keep rates when some groups are too small to fill
    * their quota: each round splits the remaining budget evenly over
    * unsaturated groups; groups below the quota saturate (kept whole)
    * and their unused share refills the rest. Converges in ≤|groups|
    * rounds; runs on the collected per-group count table (bounded
    * metadata, the codebook convention — the corpus itself is touched
    * only by the final broadcast-rate membership filter, a pure
    * hash-threshold like [[temperatureSample]]'s).
    *
    * Determinism: the loop is EXACT long arithmetic — quota =
    * remaining div |unsat|, rate_ppm = (quota·1e6) div n_g — so the
    * DuckDB oracle replays the identical rounds; each round's
    * leftover (< |unsat| rows) stays unassigned by design. Membership
    * is md5(id) % 1e6 < rate_ppm, a pure id function.
    *
    * Output: (groupCol, n_before, saturated, quota, rate_ppm,
    * n_kept), ordered by groupCol.
    */
  def waterFillMix(docs: DataFrame, idCol: String, groupCol: String,
      targetPpm: Long = 500000L,
      hashes: HashFamily = Md5Family): DataFrame = {
    require(targetPpm > 0 && targetPpm <= 1000000L, s"bad targetPpm $targetPpm")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(_._1)
    val total = counts.map(_._2).sum
    var remaining = targetPpm * total / 1000000L
    var saturated = Map.empty[String, Long] // g -> kept(=n)
    var quota = 0L
    var done = false
    while (!done) {
      val unsat = counts.filter { case (g, _) => !saturated.contains(g) }
      if (unsat.isEmpty) { quota = 0L; done = true }
      else {
        quota = remaining / unsat.length
        val newly = unsat.filter { case (_, n) => n <= quota }
        if (newly.isEmpty) done = true
        else {
          saturated ++= newly.toMap
          remaining -= newly.map(_._2).sum
        }
      }
    }
    val rates = counts.map { case (g, n) =>
      val sat = saturated.contains(g)
      val q = if (sat) n else quota
      (g, n, if (sat) 1 else 0, q,
        if (sat) 1000000L else (quota * 1000000L) / n)
    }.toSeq.toDF("g", "n_before", "saturated", "quota", "rate_ppm")
    val kept = docs
      .select(col(groupCol).cast("string").as("g"), col(idCol).as("_id"))
      .join(broadcast(rates.select(col("g"), col("rate_ppm"))), Seq("g"))
      .filter(pmod(hashes.hash(col("_id").cast("string")), lit(1000000L))
        < col("rate_ppm"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("g"), "left")
      .select(col("g").as(groupCol), col("n_before"), col("saturated"),
        col("quota"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(groupCol)
  }

  /** Curriculum interleave — the reproducible easy-to-hard training
    * order: rows carry a difficulty bin in [1, nBins] (any map-side
    * binning — length buckets, q154 deciles, q200 perplexity tiers);
    * within each bin rows shuffle by deterministic hash, and the
    * global order round-robins across bins so every training window
    * sees the full difficulty mix while early positions skew easy.
    *
    * global_rank = (pos−1)·nBins + bin is pure arithmetic — bins are
    * interleaved WITHOUT any global sort window; ranks are unique
    * (bin ≤ nBins) though not dense when bins differ in size.
    *
    * Scale shape: one per-bin window (partitioned, never global) and
    * a map-side rank projection.
    *
    * Output: (idCol, bin, pos, global_rank), ordered by global_rank.
    */
  def curriculumInterleave(df: DataFrame, idCol: String, binCol: String,
      nBins: Int, hashes: HashFamily = Md5Family): DataFrame = {
    require(nBins >= 1, s"need nBins >= 1, got $nBins")
    val w = Window.partitionBy(col("bin"))
      .orderBy(hashes.hash(col(idCol).cast("string")), col(idCol))
    df.select(col(idCol), col(binCol).cast("long").as("bin"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("global_rank", (col("pos") - 1L) * nBins + col("bin"))
      .orderBy("global_rank")
  }

  def rendezvousShards(df: DataFrame, idCol: String, numShards: Int,
      hashes: HashFamily = Md5Family): DataFrame = {
    require(numShards >= 1, s"need numShards >= 1, got $numShards")
    def winner(n: Int): Column =
      array_max(transform(sequence(lit(0), lit(n - 1)), s =>
        struct(hashes.hash(concat(col(idCol).cast("string"), lit(":"),
          s.cast("string"))).as("h"), s.as("s")))).getField("s")
    df.select(col(idCol),
        winner(numShards).cast("int").as("shard"),
        winner(numShards + 1).cast("int").as("shard_next"))
      .withColumn("moved", (col("shard") =!= col("shard_next")).cast("int"))
      .orderBy(idCol)
  }
}
