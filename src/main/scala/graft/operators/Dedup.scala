package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HashFamily, XxHash64Family}

/** Deduplication operators for a training-data pipeline, in increasing
  * fuzziness: exact → MinHash/LSH → SimHash → exact n-gram Jaccard.
  *
  * All are expressed with built-in codegen'd functions (split / slice /
  * transform / hash / aggregate); none collect to the driver. The hash
  * family is pluggable (`HashFamily`): xxhash64 by default, md5-derived
  * when cross-engine (DuckDB-oracle) verifiability matters.
  */
object Dedup {
  /** Exact dedup: one surviving row (min id) per key, with the
    * duplicate count — the hash-groupBy form of `dropDuplicates` that
    * also reports cluster sizes. Map-side partial aggregation collapses
    * duplicates before the shuffle, so the shuffle carries one row per
    * distinct key per partition.
    */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  def tokens(text: Column): Column = split(text, " ")

  /** k-word shingles; documents shorter than k tokens contribute one
    * whole-text shingle so they can still collide with exact copies.
    *
    * Implementation note: built as a zip_with chain over k shifted
    * slices, NOT as `transform(sequence(...), i => slice(t, ...))`.
    * A lambda body re-evaluates any non-lambda subexpression PER
    * ELEMENT, so the transform form re-runs the tokenizing split once
    * per shingle — O(tokens²) per document (measured: 25 s for 5 000
    * docs at sf0.1). The slices here are top-level expressions, shared
    * via codegen subexpression elimination, and the zip_with lambdas
    * touch only their lambda variables.
    */
  def shingles(text: Column, k: Int): Column = {
    val t = tokens(text)
    val m = size(t) - (k - 1) // shingle count when size >= k
    val parts = (0 until k).map(i => slice(t, lit(i + 1), m))
    val chained = parts.reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    when(size(t) >= k, chained).otherwise(array(concat_ws(" ", t)))
  }

  /** Permutation minima over already-bound base-hash array columns
    * (double-hashing form). Callers should bind both base-hash arrays
    * through their own projection so the string hashing runs once, not
    * once per permutation.
    *
    * For Md5Family (arithmetic permutations) this compiles to the FUSED
    * codegen expression — one pass over the arrays, all minima in
    * registers — instead of numPerm × (zip_with + array_min); the two
    * forms are spec'd bit-identical.
    */
  def minhashFromHashes(h1: Column, h2: Column, numPerm: Int,
      hashes: HashFamily = XxHash64Family): Column = hashes match {
    case graft.functions.Md5Family =>
      graft.functions.MinhashExpressions.minhashFast(
        org.apache.spark.sql.SparkSession.active)(
        h1, h2, numPerm, graft.functions.Md5Family.Ring)
    case _ =>
      array((0 until numPerm).map { p =>
        array_min(zip_with(h1, h2, (a, b) => hashes.permute(a, b, p)))
      }: _*)
  }

  /** Single-base form for families whose seeded rehash is native. */
  def minhashFromHashes1(h1: Column, numPerm: Int,
      hashes: HashFamily = XxHash64Family): Column =
    array((0 until numPerm).map { p =>
      array_min(transform(h1, h => hashes.rehash(h, p)))
    }: _*)

  /** MinHash-LSH near-duplicate pairs.
    *
    * Banding: `numPerm` minhashes split into `bands` bands of
    * `numPerm/bands` rows; a pair is a candidate iff some band hashes
    * equal. Candidates are then kept when the estimated Jaccard
    * (fraction of agreeing minhashes) ≥ `threshold`.
    *
    * Scale: the band join is an equi-shuffle on (band, bandHash) — the
    * classic LSH inverted index. Candidate volume is tunable via
    * bands/rows (s-curve). A hot bucket (many docs sharing a band hash)
    * is the skew risk; AQE skew-join handles moderate cases, and the
    * bucket-size cap `maxBucket` drops degenerate buckets (boilerplate
    * text) the way production dedup pipelines do.
    */
  /** (doc, sig) minhash signatures, checkpointed (they feed both a band
    * projection and the post-dedup scoring joins). Two-stage projection
    * binds the shingle base hashes to columns so the permutations are
    * cheap (long arithmetic / seeded rehash), not per-permutation
    * string hashes.
    */
  private def minhashSignatures(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numPerm: Int,
      hashes: HashFamily): DataFrame = {
    val sh = shingles(col(textCol), shingleK)
    (if (hashes.needsSecondHash)
      docs.select(col(idCol).as("doc"),
          transform(sh, g => hashes.hash(g)).as("hs1"),
          transform(sh, g => hashes.hash2(g)).as("hs2"))
        .select(col("doc"),
          minhashFromHashes(col("hs1"), col("hs2"), numPerm, hashes).as("sig"))
    else
      docs.select(col(idCol).as("doc"),
          transform(sh, g => hashes.hash(g)).as("hs1"))
        .select(col("doc"),
          minhashFromHashes1(col("hs1"), numPerm, hashes).as("sig")))
      .localCheckpoint()
  }

  /** (doc, hs1[, hs2]) per-doc HASHED shingle arrays, checkpointed —
    * the shared base for audits that need BOTH the minhash signature
    * and the exact shingle sets (calibration/containment/detection):
    * without it each such query tokenizes and md5-hashes every gram a
    * second time just to rebuild the exact sets it already hashed for
    * the signature.
    */
  private def hashedShingleArrays(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, hashes: HashFamily): DataFrame = {
    val sh = shingles(col(textCol), shingleK)
    (if (hashes.needsSecondHash)
      docs.select(col(idCol).as("doc"),
        transform(sh, g => hashes.hash(g)).as("hs1"),
        transform(sh, g => hashes.hash2(g)).as("hs2"))
    else
      docs.select(col(idCol).as("doc"),
        transform(sh, g => hashes.hash(g)).as("hs1")))
      .localCheckpoint()
  }

  /** The exact distinct hashed-shingle rows (_d, _gh) off a
    * [[hashedShingleArrays]] frame — set-identical to hashing the
    * distinct raw grams directly (hash-after-distinct vs
    * distinct-after-hash yield the same distinct hash set).
    */
  private def distinctShingleRows(hg: DataFrame): DataFrame =
    hg.select(col("doc").as("_d"),
        explode(array_distinct(col("hs1"))).as("_gh"))
      .distinct().localCheckpoint()

  /** The LSH candidate-pair chain and the exact distinct-shingle chain
    * off ONE [[hashedShingleArrays]] frame, their checkpoints
    * OVERLAPPED (independent reads of the checkpointed hg — the
    * independent-job rule): every sketch-vs-exact audit
    * (calibration/containment/detection) runs both. `trim` projects
    * the pair frame before its checkpoint (callers that only need the
    * pair ids drop the score column there).
    */
  private def pairsAndShingleRows(hg: DataFrame, numPerm: Int, bands: Int,
      maxBucket: Int, hashes: HashFamily,
      trim: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val pRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val sRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    graft.engine.Par.inParallel(
      () => pRef.set(trim(minhashLshPairsFrom(hg, numPerm, bands,
        threshold = 0.0, maxBucket, hashes)).localCheckpoint()),
      () => sRef.set(distinctShingleRows(hg)))
    (pRef.get, sRef.get)
  }

  /** [[minhashLshPairs]] over a prebuilt [[hashedShingleArrays]] frame
    * — identical pairs/scores; the gram arrays hash once for callers
    * that also need the exact sets.
    */
  private def minhashLshPairsFrom(hg: DataFrame, numPerm: Int, bands: Int,
      threshold: Double, maxBucket: Int, hashes: HashFamily): DataFrame = {
    val sig =
      (if (hashes.needsSecondHash)
        hg.select(col("doc"),
          minhashFromHashes(col("hs1"), col("hs2"), numPerm, hashes).as("sig"))
      else
        hg.select(col("doc"),
          minhashFromHashes1(col("hs1"), numPerm, hashes).as("sig")))
        .localCheckpoint()
    lshPairsFromSignatures(sig, numPerm, bands, threshold, maxBucket, hashes)
  }

  /** Banding + hot-bucket cap + candidate self-join + scoring over a
    * checkpointed signature frame — the shared tail of
    * [[minhashLshPairs]] and [[minhashLshPairsFrom]].
    */
  private def lshPairsFromSignatures(sig: DataFrame, numPerm: Int,
      bands: Int, threshold: Double, maxBucket: Int,
      hashes: HashFamily): DataFrame = {
    val rows = numPerm / bands
    require(bands * rows == numPerm, "bands must divide numPerm")
    val banded = bandKeys(sig, bands, rows, hashes)
    val hotBuckets = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
      .select("band", "band_hash")
    val capped = banded.join(broadcast(hotBuckets), Seq("band", "band_hash"), "left_anti")
    val a = capped.select(col("band"), col("band_hash"), col("doc").as("doc_a"))
    val b = capped.select(col("band"), col("band_hash"), col("doc").as("doc_b"))
    val cand = a.join(b, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    scorePairs(cand, sig, sig, "doc_a", "doc_b", numPerm, threshold)
  }

  /** (doc, band, band_hash) LSH band keys from a signature frame. */
  private def bandKeys(sig: DataFrame, bands: Int, rows: Int,
      hashes: HashFamily): DataFrame =
    sig.select(col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        hashes.hashWithSalt(concat_ws(",", slice(col("sig"), b * lit(rows) + 1, lit(rows))), b)))
        .as(Seq("band", "band_hash")))

  /** Estimated Jaccard of deduped candidate pairs, scored by
    * re-attaching the two signatures (see minhashLshPairs on why the
    * candidate join itself stays narrow).
    */
  private def scorePairs(cand: DataFrame, sigA: DataFrame, sigB: DataFrame,
      aCol: String, bCol: String, numPerm: Int,
      threshold: Double): DataFrame =
    cand
      .join(sigA.select(col("doc").as(aCol), col("sig").as("sig_a")), Seq(aCol))
      .join(sigB.select(col("doc").as(bCol), col("sig").as("sig_b")), Seq(bCol))
      .select(col(aCol), col(bCol),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / numPerm, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy(aCol, bCol)

  /** WEIGHTED MinHash near-dup pairs — Ioffe's Improved Consistent
    * Weighted Sampling (ICDM 2010) over token-FREQUENCY vectors:
    * collision probability equals the weighted Jaccard
    * J_w = Σ min(a_k, b_k) / Σ max(a_k, b_k), so near-dups are judged
    * on how often terms repeat, not just which terms appear — robust
    * where plain (set) MinHash saturates on long docs sharing a
    * vocabulary.
    *
    * Per (token, hash i), ICWS draws r, c ~ Gamma(2,1) and
    * β ~ U(0,1) — all DETERMINISTIC hash-uniforms (Gamma(2,1) =
    * −ln(u₁·u₂), the Efraimidis–Spirakis trick), so the "random"
    * sample replays bit-for-bit in the oracle. The sample for weight
    * w is t = ⌊ln w / r + β⌋, argmin over tokens of
    * ln a = ln c − r·(t − β) − r. The argmin compares the nano-long
    * quantization of ln a packed with a 24-bit KM mix of the token
    * identity into ONE long (raw libm doubles could argmin-flip
    * cross-engine; a ±1-nano disagreement flips a winner only on a
    * ≤1-nano top-2 gap). Parameters are VOCABULARY-sized and
    * doc-independent — computed once, joined to the tf table; the
    * argmin is a codegen'd map-side-partial `min(long)` HashAggregate,
    * never a corpus-wide window, and the packed value IS the
    * signature key (lna is a pure function of (token, i, t)).
    *
    * Candidates come from banded signature keys exactly like
    * [[minhashLshPairs]] (bit_xor band fold — order-free — plus the
    * hot-bucket broadcast-anti cap), and every candidate is verified
    * with the EXACT weighted Jaccard from integer tf sums (Σmin /
    * (Σa + Σb − Σmin)) — the estimate ships beside the exact value,
    * the q307 certification discipline.
    *
    * Output: (doc_a, doc_b, est_jw, jw) with jw ≥ `minJw`, ordered.
    */
  def weightedMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 8, minJw: Double = 0.5,
      maxBucket: Int = 1000,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    val tf = docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("w"))
      .localCheckpoint() // feeds params vocab, sampling, and exact verify
    // ICWS parameters per (token, i): vocabulary-sized, doc-independent.
    // All 5 uniforms per (token, i) derive from TWO base hashes via
    // Kirsch-Mitzenmacher arithmetic (the q21 permute trick): h2 masks
    // to 56 bits so (5i+j)*h2 + h1 stays under 2^63 (ANSI-safe), the
    // & (2^60-1) fold keeps the draw in md5l's range — every op is
    // exact integer arithmetic the oracle replays verbatim.
    def u(j: Int): Column =
      (((col("_h1") + (lit(5L) * col("i") + lit(j.toLong))
        * col("_h2").bitwiseAND(lit(0xFFFFFFFFFFFFFFL)))
        .bitwiseAND(lit((1L << 60) - 1)) + lit(1L))
        / lit(1.152921504606846976e18))
    // base hashes mask to 60 bits at ingestion: Md5Family is already
    // 60-bit (the mask is a no-op — oracle unchanged), xxhash64 is
    // full-range signed and would overflow the KM arithmetic bounds
    val par = tf.select("token").distinct()
      .select(col("token"),
        hashes.hash(col("token"))
          .bitwiseAND(lit((1L << 60) - 1)).as("_h1"),
        hashes.hash2(col("token"))
          .bitwiseAND(lit((1L << 60) - 1)).as("_h2"))
      .select(col("token"), col("_h1"), col("_h2"),
        explode(sequence(lit(0L), lit(numHashes - 1L))).as("i"))
      .select(col("token"), col("i"), col("_h1"), col("_h2"),
        negate(log(u(1) * u(2))).as("_r"),
        negate(log(u(3) * u(4))).as("_c"),
        u(5).as("_beta"))
    // the sample candidate packs into ONE long — (lna_nano + 2^38)
    // << 24 | mix24 — so the per-(doc, i) argmin is a codegen'd
    // HashAggregate min(long) with map-side partials, not a
    // SortAggregate over (long, string) structs (measured 4.2 s ->
    // 0.6 s on the 1.9M-row sample frame at sf0.1). The winner's
    // IDENTITY rides in the value: lna is a pure function of
    // (token, i, t), and mix24 KM-mixes (h1, h2, t), so equal packed
    // values mean the same weighted sample — packed IS the signature
    // key. Bounds: |lna| <= ~131 (r <= -ln 2^-120, |ln c| <= 41,
    // ln w <= ~7) keeps lna_nano under 2^38; (t%2^20 + 7)·(h2 &
    // 2^42-1) + h1 < 2^63 — every op ANSI-safe and replayed verbatim
    // in the oracle.
    val sampled = tf.join(par, Seq("token"))
      .withColumn("t",
        floor(log(col("w").cast("double")) / col("_r") + col("_beta")))
      .withColumn("_lna_nano",
        round((log(col("_c")) - col("_r") * (col("t") - col("_beta"))
          - col("_r")) * lit(1e9)).cast("long"))
      .withColumn("_mix",
        (col("_h1") + (col("t") % lit(1048576L) + lit(7L))
          * col("_h2").bitwiseAND(lit(4398046511103L)))
          .bitwiseAND(lit(16777215L)))
      .withColumn("_packed",
        shiftleft(col("_lna_nano") + lit(274877906944L), 24)
          .bitwiseOR(col("_mix")))
    val sig = sampled.groupBy("doc", "i")
      .agg(min(col("_packed")).as("skey"))
      .localCheckpoint() // feeds banding AND pair scoring
    val banded = sig
      .withColumn("band", expr(s"CAST(i div $rows AS INT)"))
      .groupBy("doc", "band")
      .agg(expr("bit_xor(skey)").as("band_hash")) // order-free fold
    val hot = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
      .select("band", "band_hash")
    // capped feeds BOTH sides of the candidate self-join: without the
    // checkpoint the band fold and the anti-join compute twice (the
    // q290 bands lesson)
    val capped = banded
      .join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
      .localCheckpoint()
    val cand = capped
      .select(col("band"), col("band_hash"), col("doc").as("doc_a"))
      .join(capped.select(col("band"), col("band_hash"),
        col("doc").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
      .localCheckpoint() // feeds the est AND exact joins
    val est = cand
      .join(sig.select(col("doc").as("doc_a"), col("i"),
        col("skey").as("_ka")), Seq("doc_a"))
      .join(sig.select(col("doc").as("doc_b"), col("i"),
        col("skey").as("_kb")), Seq("doc_b", "i"))
      .groupBy("doc_a", "doc_b")
      .agg(round(sum(when(col("_ka") === col("_kb"), 1).otherwise(0))
        .cast("double") / lit(numHashes), 6).as("est_jw"))
    val tot = tf.groupBy("doc").agg(sum("w").as("_tw"))
    val cmin = cand
      .join(tf.select(col("doc").as("doc_a"), col("token"),
        col("w").as("_wa")), Seq("doc_a"))
      .join(tf.select(col("doc").as("doc_b"), col("token"),
        col("w").as("_wb")), Seq("doc_b", "token"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("_wa"), col("_wb"))).as("_cmin"))
    est
      .join(cmin, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("_cmin"))
      .join(tot.select(col("doc").as("doc_a"), col("_tw").as("_ta")), Seq("doc_a"))
      .join(tot.select(col("doc").as("doc_b"), col("_tw").as("_tb")), Seq("doc_b"))
      .withColumn("jw", round(col("_cmin").cast("double")
        / (col("_ta") + col("_tb") - col("_cmin")).cast("double"), 6))
      .filter(col("jw") >= minJw)
      .select("doc_a", "doc_b", "est_jw", "jw")
      .orderBy("doc_a", "doc_b")
  }

  // Design notes for the shared LSH tail (lshPairsFromSignatures):
  // - hot-bucket cap as a broadcast anti-join (same pattern as the
  //   n-gram maxDf cap): the > maxBucket buckets are few by
  //   construction, so dropping their rows is map-side — unlike a
  //   count-over-window cap, which would shuffle the banded rows once
  //   per join side just to count them;
  // - the candidate join carries ONLY (band, band_hash, doc): shuffling
  //   the numPerm-long signature with every candidate row would multiply
  //   the exchange and pair-dedup volume by the signature width. The
  //   signatures are re-attached AFTER dedup from the checkpointed sig
  //   frame, so each surviving pair reads its two signatures once;
  // - candidate pairs dedupe BEFORE scoring: a pair colliding in k
  //   bands would otherwise be scored k times and deduped after.
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerm: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleK, numPerm, hashes)
    lshPairsFromSignatures(sig, numPerm, bands, threshold, maxBucket, hashes)
  }

  /** MinHash estimation-error calibration: for every LSH candidate
    * pair (threshold 0 — everything the bands surface), the sketch's
    * estimated Jaccard next to the EXACT shingle-set Jaccard, so an
    * operator can size numPerm/bands empirically instead of trusting
    * the 1/√numPerm folklore. The near-dup queries themselves stay on
    * the sketch; this is the audit that says how much the sketch lies.
    *
    * Determinism: matches/intersection/union are exact integers;
    * est_ppm is exact (k/numPerm quantizes exactly when numPerm
    * divides 1e6), exact_ppm floors one division of exact ints.
    * Scale shape: the candidate set is LSH-bounded (never all pairs);
    * the pair×shingle fan-out joins hashed shingle ids only — document
    * bodies never shuffle — and each side attaches via one equi-join
    * on the checkpointed distinct-shingle frame.
    *
    * Output per candidate pair: (doc_a, doc_b, n_match, n_inter,
    * n_union, est_ppm, exact_ppm, err_ppm), ordered by (doc_a, doc_b).
    */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerm: Int = 16, bands: Int = 8,
      maxBucket: Int = 1000,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    require(1000000 % numPerm == 0, "numPerm must divide 1e6 for exact est_ppm")
    // one hashed-shingle pass feeds BOTH the signature chain and the
    // exact-set rows (grams previously tokenized + md5-hashed twice)
    val hg = hashedShingleArrays(docs, idCol, textCol, shingleK, hashes)
    val (pairs, sh) = pairsAndShingleRows(hg, numPerm, bands, maxBucket,
      hashes, identity)
    val sizes = sh.groupBy(col("_d")).agg(count(lit(1)).as("_n"))
    val inter = pairs.select("doc_a", "doc_b")
      .join(sh.select(col("_d").as("doc_a"), col("_gh")), Seq("doc_a"))
      .join(sh.select(col("_d").as("doc_b"), col("_gh")),
        Seq("doc_b", "_gh"), "left_semi")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("_d").as("doc_a"), col("_n").as("_na")),
        Seq("doc_a"))
      .join(sizes.select(col("_d").as("doc_b"), col("_n").as("_nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard") * numPerm).cast("long").as("n_match"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("_na") + col("_nb") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        round(col("est_jaccard") * lit(1e6)).cast("long").as("est_ppm"))
      .withColumn("exact_ppm",
        floor(col("n_inter").cast("double") * lit(1e6) / col("n_union"))
          .cast("long"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-superset (containment) detection — the dedup blind spot a
    * Jaccard threshold misses: a short document quoted whole inside a
    * long one has low Jaccard |A∩B|/|A∪B| but containment |A∩B|/|A|
    * near 1. Over the threshold-free LSH candidate pairs (the
    * [[minhashCalibration]] surface), computes the EXACT hashed-
    * shingle containment in both directions and keeps pairs where
    * either side is ≥ `thresholdPpm` contained. Every ratio is one
    * floored division of exact integers.
    *
    * Recall caveat (documented, not hidden): candidates still come
    * from Jaccard-banded LSH, so a containment pair with very low
    * Jaccard may not band-collide — this catches the quote/extract/
    * exact-dup regime; a dedicated prefix index is the exhaustive
    * path. Scale shape: banded equi-join moves ids, the exact overlap
    * joins hashed shingle ids — bodies never shuffle.
    *
    * Output: (doc_a, doc_b, n_a, n_b, n_inter, cont_a_ppm,
    * cont_b_ppm, jaccard_ppm), ordered by (doc_a, doc_b).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerm: Int = 16, bands: Int = 8,
      thresholdPpm: Long = 800000L, maxBucket: Int = 1000,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    // one hashed-shingle pass feeds BOTH the signature chain and the
    // exact-set rows (grams previously tokenized + md5-hashed twice)
    val hg = hashedShingleArrays(docs, idCol, textCol, shingleK, hashes)
    val (pairs, sh) = pairsAndShingleRows(hg, numPerm, bands, maxBucket,
      hashes, _.select("doc_a", "doc_b"))
    val sizes = sh.groupBy(col("_d")).agg(count(lit(1)).as("_n"))
    val inter = pairs
      .join(sh.select(col("_d").as("doc_a"), col("_gh")), Seq("doc_a"))
      .join(sh.select(col("_d").as("doc_b"), col("_gh")),
        Seq("doc_b", "_gh"), "left_semi")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("_d").as("doc_a"), col("_n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("_d").as("doc_b"), col("_n").as("n_b")),
        Seq("doc_b"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("cont_a_ppm", expr("(n_inter * 1000000) div n_a"))
      .withColumn("cont_b_ppm", expr("(n_inter * 1000000) div n_b"))
      .withColumn("jaccard_ppm",
        expr("(n_inter * 1000000) div (n_a + n_b - n_inter)"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= thresholdPpm)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_inter",
        "cont_a_ppm", "cont_b_ppm", "jaccard_ppm")
      .orderBy("doc_a", "doc_b")
  }

  /** LSH banding-design report: for every candidate pair, the exact
    * shingle Jaccard and the probability THIS banding configuration
    * detects a pair of that similarity — P = 1 − (1 − J^rows)^bands —
    * the number an engineer reads before trusting a threshold (pairs
    * sitting at low detect probability are the recall risk; the
    * S-curve's knee should sit at the intended threshold).
    *
    * Determinism: J is one division of exact integers; the power
    * curve is evaluated by REPEATED SQUARING in a fixed association
    * order mirrored exactly in the oracle (a generic `pow` is not
    * cross-engine reproducible), then floored to nanos. Pinned to the
    * rows=2 / bands=8 production banding for that reason.
    *
    * Output: (doc_a, doc_b, n_inter, n_union, exact_ppm, detect_p),
    * ordered by (doc_a, doc_b).
    */
  def lshDetectionReport(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, maxBucket: Int = 1000,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val numPerm = 16
    val bands = 8 // rows = 2: the repeated-squaring chain below
    // one hashed-shingle pass feeds BOTH the signature chain and the
    // exact-set rows (grams previously tokenized + md5-hashed twice)
    val hg = hashedShingleArrays(docs, idCol, textCol, shingleK, hashes)
    val (pairs, sh) = pairsAndShingleRows(hg, numPerm, bands, maxBucket,
      hashes, _.select("doc_a", "doc_b"))
    val sizes = sh.groupBy(col("_d")).agg(count(lit(1)).as("_n"))
    val inter = pairs
      .join(sh.select(col("_d").as("doc_a"), col("_gh")), Seq("doc_a"))
      .join(sh.select(col("_d").as("doc_b"), col("_gh")),
        Seq("doc_b", "_gh"), "left_semi")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val scored = pairs.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("_d").as("doc_a"), col("_n").as("_na")),
        Seq("doc_a"))
      .join(sizes.select(col("_d").as("doc_b"), col("_n").as("_nb")),
        Seq("doc_b"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("_na") + col("_nb") - col("n_inter"))
      .withColumn("_j",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      // x = 1 - J^2; x^8 by squaring: x2 = x*x, x4 = x2*x2, x8 = x4*x4
      .withColumn("_x", lit(1.0) - col("_j") * col("_j"))
      .withColumn("_x2", col("_x") * col("_x"))
      .withColumn("_x4", col("_x2") * col("_x2"))
      .withColumn("_det_nano", floor((lit(1.0) - col("_x4") * col("_x4"))
        * lit(1e9) + lit(0.5)).cast("long"))
    scored.select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_union"),
        expr("(n_inter * 1000000) div n_union").as("exact_ppm"),
        round(col("_det_nano") / lit(1e9), 6).as("detect_p"))
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental (cross-corpus) MinHash-LSH join: near-duplicate pairs
    * BETWEEN a new batch and an existing corpus — the daily-ingest
    * shape: "which incoming documents duplicate something we already
    * have". Signatures are a pure function of the text (no coupling
    * between the sides), so the existing corpus's signatures/band keys
    * are computed once and, in production, persisted as the dedup
    * INDEX — each new batch only hashes itself and equi-joins the
    * index. Same narrow candidate join + post-dedup scoring as the
    * self-join form.
    *
    * Output: (doc_new, doc_old, est_jaccard ≥ threshold).
    */
  def minhashLshJoin(newDocs: DataFrame, existing: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numPerm: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = Int.MaxValue,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val rows = numPerm / bands
    require(bands * rows == numPerm, "bands must divide numPerm")
    val sigNew = minhashSignatures(newDocs, idCol, textCol, shingleK, numPerm, hashes)
    val sigOld = minhashSignatures(existing, idCol, textCol, shingleK, numPerm, hashes)
    var bandNew = bandKeys(sigNew, bands, rows, hashes)
    var bandOld = bandKeys(sigOld, bands, rows, hashes)
    // hot-bucket cap, mirroring minhashLshPairs: the candidate join is
    // quadratic in a degenerate bucket's membership (|new ∩ bucket| ×
    // |old ∩ bucket| — boilerplate/empty docs sharing a band hash), so
    // buckets whose COMBINED membership exceeds maxBucket are dropped
    // from both sides via a broadcast anti-join. Default = uncapped
    // (the q78 exact-oracle form).
    if (maxBucket != Int.MaxValue) {
      val hot = bandNew.select("band", "band_hash")
        .unionAll(bandOld.select("band", "band_hash"))
        .groupBy("band", "band_hash").agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxBucket).select("band", "band_hash")
        .localCheckpoint()
      bandNew = bandNew.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
      bandOld = bandOld.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
    }
    val cand = bandNew
      .select(col("band"), col("band_hash"), col("doc").as("doc_new"))
      .join(bandOld
        .select(col("band"), col("band_hash"), col("doc").as("doc_old")),
        Seq("band", "band_hash"))
      .select("doc_new", "doc_old")
      .dropDuplicates("doc_new", "doc_old")
    scorePairs(cand, sigNew, sigOld, "doc_new", "doc_old", numPerm, threshold)
  }

  /** 64-bit SimHash over the document's token bag (term-frequency
    * weighted). Computed as 64 per-bit weighted sums via a single hash
    * aggregate — no UDF, no driver loop.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
      .withColumn("h", hashes.hash(col("token")))
    val bitSums = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"b$bit")
    }
    val sums = tok.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { bit =>
      when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc"), hash.as("simhash"))
  }

  /** SimHash near-duplicate pairs within `maxHamming` bits.
    *
    * Banded by pigeonhole: split the 64-bit hash into `maxHamming + 1`
    * segments — any pair within the distance agrees exactly on ≥1
    * segment, so the candidate join is an equi-join on (segment id,
    * segment value), never O(n²). Candidates are verified with
    * `bit_count(xor)`.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, hashes: HashFamily = XxHash64Family): DataFrame = {
    val segments = maxHamming + 1
    val segBits = 64 / segments
    val sh = simhash(docs, idCol, textCol, hashes).localCheckpoint()
    val seg = sh.select(col("doc"), col("simhash"),
      posexplode(array((0 until segments).map { s =>
        shiftrightunsigned(col("simhash"), s * segBits)
          .bitwiseAND(lit((1L << segBits) - 1))
      }: _*)).as(Seq("seg", "seg_val")))
    val a = seg.select(col("seg"), col("seg_val"), col("doc").as("doc_a"), col("simhash").as("sh_a"))
    val b = seg.select(col("seg"), col("seg_val"), col("doc").as("doc_b"), col("simhash").as("sh_b"))
    // dedupe candidates before the hamming verify (a pair can agree on
    // several segments)
    a.join(b, Seq("seg", "seg_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a near-duplicate pair graph — the
    * clustering step that turns pairwise matches into dedup groups
    * (pick one canonical doc per component).
    *
    * Each round combines min-label propagation (every vertex takes the
    * min label among itself and its neighbors — one shuffle join) with
    * POINTER JUMPING (label := label(label) — path doubling, a second
    * join): propagation alone needs O(component diameter) rounds, the
    * doubling collapses that to O(log diameter), so even chain-shaped
    * components converge in a handful of rounds. Labels are
    * localCheckpointed so lineage stays flat; the driver only sees the
    * per-round change COUNT — no vertex data leaves the cluster.
    *
    * Output: (doc_id, cluster_id = component min, cluster_size), only
    * for vertices that appear in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("nlabel")), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(col("nlabel")).as("nmin"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jumping: follow the label one hop (labels are vertex
      // ids, so they are themselves labeled) and keep the min — path
      // doubling that turns O(diameter) convergence into O(log)
      val updated = propagated
        .join(labels.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("id"), col("old_label"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
        .localCheckpoint()
      converged = updated.filter(col("label") =!= col("old_label")).isEmpty
      labels = updated.drop("old_label")
      i += 1
    }
    // Min-label propagation needs O(component diameter) rounds; running
    // out of iterations means the labels are WRONG (partially merged
    // clusters), not merely slow — fail loudly rather than return them.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "component diameter exceeds maxIter; raise maxIter")
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    * MapReduce-native algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): each round rewires every node
    * toward its neighborhood minimum (large-star links each node's
    * larger neighbors to that minimum; small-star links its
    * not-larger neighbors and itself), provably converging to one star
    * per component in O(log n) rounds on ANY graph shape — no
    * diameter dependence, unlike label propagation, and each phase is
    * one aggregate + one equi-join over the shrinking edge list.
    *
    * This is the default at scale; `connectedComponents` (min-label +
    * pointer jumping) remains as the independent implementation the
    * property spec cross-checks against. Output contract is identical:
    * (doc_id, cluster_id = component min, cluster_size) for every
    * vertex of `pairs`.
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: small-star's terminal distinct dedupes, and
      // duplicate (v, m) rows are bounded by the edge count — skipping
      // the extra per-round shuffle is the cheaper trade
      nbrs.join(m, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
      val m = o.groupBy("u").agg(min(col("v")).as("m"))
      o.join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m)
        .distinct()
    }
    // ONE job per round: the checkpoint is LAZY, so the fingerprint
    // aggregate both materializes the round's edge set into block
    // storage and computes the convergence check in the same action —
    // an eager checkpoint would run a separate materialization job
    // first. Fingerprint = (edge count, order-free hash xor — xor, not
    // sum, because ANSI mode throws on long-sum overflow, and the edge
    // set is distinct so no two rows cancel).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(eager = false)
    var fp = fingerprint(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val fp2 = fingerprint(edges)
      converged = fp2 == fp
      fp = fp2
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStars did not converge within $maxIter rounds")
    // fixpoint is a star per component: u -> component min, plus the
    // root itself which only appears on the v side
    val members = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = edges.select(col("v")).distinct()
      .join(edges.select(col("u").as("v")).distinct(), Seq("v"), "left_anti")
      .select(col("v").as("doc_id"), col("v").as("cluster_id"))
    val labels = members.union(roots)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Adaptive connected components: probe the edge count (one scalar
    * job over the pair table, which LSH banding has already shrunk to
    * a sliver of the corpus) and pick the execution shape — a
    * single-task union-find pass when the edge list fits in one
    * executor's memory, the alternating-star distributed rounds
    * otherwise. This is the AQE philosophy applied to the iteration
    * count: the common near-dup graph finishes in ONE job instead of
    * O(log n) join rounds, while a genuinely huge graph still routes
    * to the provably-scaling algorithm. Both paths produce identical
    * labels (union is by MIN root, so cluster_id is the component min
    * either way) — the spec cross-checks them.
    */
  def connectedComponentsAuto(pairs: DataFrame, aCol: String, bCol: String,
      smallEdges: Long = 5L * 1000 * 1000): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    if (edges.count() > smallEdges)
      return connectedComponentsStars(edges, "u", "v")
    val s = pairs.sparkSession
    import s.implicits._
    val labeled = edges.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      it.foreach { case (u, v) =>
        if (!parent.contains(u)) parent(u) = u
        if (!parent.contains(v)) parent(v) = v
        val ru = find(u); val rv = find(v)
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      parent.keys.toArray.iterator.map(x => (x, find(x)))
    }.toDF("doc_id", "cluster_id")
    val sizes = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** INCREMENTAL canonicalization: fold a NEW batch's near-dup pairs
    * into an EXISTING label table without replaying global connected
    * components. At 100 TB the standing corpus's pair history is long
    * gone — the only affordable shape is "new docs join existing
    * components", which this implements exactly:
    *
    *  1. each new-pair endpoint is CONTRACTED to its existing label if
    *     it has one (one join of the new pairs — bounded by the batch
    *     — against the label table) and left as itself otherwise;
    *  2. connected components run on that contracted graph ONLY — its
    *     vertex set is the new docs plus the touched old components,
    *     O(new edges), never the corpus;
    *  3. the resulting relabel map (old label → merged label, new doc
    *     → label) is BROADCAST back over the label table, so the
    *     standing labels are rewritten by one map-side join — the
    *     label table itself never shuffles.
    *
    * Because existing labels follow the component-min convention
    * (`cluster_id` = min member id) and contraction preserves minima,
    * the output is IDENTICAL to rerunning full CC over the union of
    * old and new pairs — bridges between two old components included —
    * which the q130 oracle hash-verifies and the spec proves on random
    * append workloads. Output contract matches the CC operators:
    * (doc_id, cluster_id, cluster_size) over old ∪ new vertices.
    *
    * SIZES: when `labels` CARRIES a `cluster_size` column (as the
    * streaming label store does), only the TOUCHED clusters — those in
    * the bounded relabel map — are re-counted; untouched rows pass
    * their carried size through map-side, so the corpus-scale label
    * table is never shuffled, not even for the size aggregate. Without
    * the column the whole output is re-counted (one corpus-keyed
    * aggregate — fine for one-shot calls like q130, wrong for a
    * per-batch loop).
    */
  def assignToExistingClusters(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val hasSizes = labels.columns.contains("cluster_size")
    val lblAll = labels.select(
      (Seq("doc_id", "cluster_id") ++ (if (hasSizes) Seq("cluster_size") else Nil))
        .map(col): _*).localCheckpoint()
    val lbl = lblAll.select(col("doc_id"), col("cluster_id"))
    val edges = newPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // contract endpoints to their existing labels (new docs map to
    // themselves); both joins key on the BATCH-side edge set, so the
    // label table is probe-joined — at scale the batch, never the
    // corpus, drives the shuffle
    val contracted =
      edges.join(lbl.select(col("doc_id").as("u"), col("cluster_id").as("cu")),
          Seq("u"), "left")
        .join(lbl.select(col("doc_id").as("v"), col("cluster_id").as("cv")),
          Seq("v"), "left")
        .select(coalesce(col("cu"), col("u")).as("u"),
          coalesce(col("cv"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
    // CC on the contracted new-edge subgraph only — O(new edges)
    val merged = connectedComponentsAuto(contracted, "u", "v")
      .select(col("doc_id").as("node"), col("cluster_id").as("new_cid"))
      .localCheckpoint()
    // relabel map is bounded by the contracted vertex set (≤ 2·|new
    // pairs|) — a checkpointed broadcast, so the standing label table
    // rewrites map-side
    val relabel = broadcast(merged.withColumnRenamed("node", "cluster_id"))
    val newDocs = merged
      .join(lbl.select(col("doc_id").as("node")), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("new_cid").as("cluster_id"))
    if (!hasSizes) {
      val updatedOld = lbl.join(relabel, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("new_cid"), col("cluster_id")).as("cluster_id"))
      val all = updatedOld.union(newDocs)
      val sizes = all.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      all.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    } else {
      // carried-size fast path: split the standing table map-side on
      // the broadcast relabel hit. Untouched rows keep their carried
      // size verbatim — no shuffle touches them. Touched rows (old
      // members of remapped clusters, plus the new docs) are bounded
      // by the affected clusters' membership; only THEY are re-counted,
      // and the resulting size table is relabel-bounded → broadcast.
      val joined = lblAll.join(relabel, Seq("cluster_id"), "left")
      val untouched = joined.filter(col("new_cid").isNull)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      val touched = joined.filter(col("new_cid").isNotNull)
        .select(col("doc_id"), col("new_cid").as("cluster_id"))
        .union(newDocs)
      val sizesT = touched.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      untouched.union(
        touched.join(broadcast(sizesT), Seq("cluster_id"))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size")))
    }
  }

  /** Duplicated-span removal (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — the exact-substring pass):
    * every `spanLen`-token sliding window that occurs in ≥ `minDf`
    * DISTINCT documents marks its positions, and marked tokens are cut
    * from the text. Unlike `segmentDedup` (non-overlapping segments,
    * boilerplate cap) this catches duplicated passages at ANY offset.
    *
    * Scale shape: windows are built map-side from one bound token
    * array (zip_with chain — no O(tokens²) lambda trap); the
    * duplicated-window set is found by a hash aggregate and joined
    * back by window hash as a plain shuffle EQUI-join (it is not
    * assumed broadcast-small: a boilerplate-ridden corpus can have
    * many duplicated spans). Coverage is LINEAR in tokens+spans: a
    * token at position i is covered iff some span starts in
    * (i−spanLen, i], i.e. iff the RUNNING MAX of start positions at i
    * is ≥ i−spanLen+1 — one doc-partitioned window over the exploded
    * token stream, no per-token scan of a start list. (The naive
    * `exists(starts, …)` per token is O(tokens×spans) per doc and went
    * quadratic on boilerplate-heavy docs; an expression-level prefix
    * sum can't fix it — Spark's `aggregate` copies its accumulator
    * array per element, so only the relational window form is linear.)
    *
    * Output: (id, n_tokens, n_dup_spans, n_removed, text_clean).
    */
  def dupSpanRemoval(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8, minDf: Long = 2,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .localCheckpoint(eager = false)
    val m = size(col("_toks")) - (spanLen - 1)
    val parts = (0 until spanLen)
      .map(i => slice(col("_toks"), lit(i + 1), m))
    val windows = when(size(col("_toks")) >= spanLen,
      parts.reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b))))
      .otherwise(array())
    val sh = withToks
      .select(col(idCol), posexplode(windows).as(Seq("pos", "g")))
      .withColumn("gh", hashes.hash(col("g"))).drop("g")
      .localCheckpoint(eager = false)
    val dup = sh.select(col("gh"), col(idCol)).distinct()
      .groupBy("gh").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf).select("gh")
    // (doc, start-position) marks for duplicated spans — unique per doc
    val starts = sh.join(dup, Seq("gh"))
      .select(col(idCol), col("pos").as("i"), lit(1).as("_is_start"))
    val tok = withToks
      .select(col(idCol), posexplode(col("_toks")).as(Seq("i", "_tok")))
    val runMax = Window.partitionBy(idCol).orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val covered = tok.join(starts, Seq(idCol, "i"), "left")
      .withColumn("_last_start",
        max(when(col("_is_start") === 1, col("i"))).over(runMax))
      .withColumn("_covered",
        col("_last_start").isNotNull &&
          col("_last_start") >= col("i") - (spanLen - 1))
    val agg = covered.groupBy(col(idCol)).agg(
      count(lit(1)).cast("int").as("n_tokens"),
      sum(coalesce(col("_is_start"), lit(0))).cast("int").as("n_dup_spans"),
      sum(when(col("_covered"), 1).otherwise(0)).cast("int").as("n_removed"),
      // collect_list drops NULL elements, so covered tokens vanish
      // before the sort; struct sorts on its first field (position)
      array_join(transform(
        array_sort(collect_list(
          when(!col("_covered"), struct(col("i"), col("_tok"))))),
        s => s.getField("_tok")), " ").as("text_clean"))
    // a doc whose token array is empty never explodes — keep its row
    withToks.join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0)).as("n_dup_spans"),
        coalesce(col("n_removed"), lit(0)).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Inverted shingle index (doc, g), optionally DF-capped: shingles in
    * more than `maxDf` docs (boilerplate) are removed via a BROADCAST
    * anti-join — the hot list is tiny by construction, and dropping the
    * rows map-side means the skewed shuffle never materializes
    * (plan-asserted in PlanSpec). The groupBy that finds hot shingles
    * is itself skew-safe: map-side partial aggregation collapses each
    * shingle to one row per partition before its shuffle.
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Int = Int.MaxValue,
      gramHash: Option[HashFamily] = None): DataFrame = {
    // gramHash: key the index by a 64-bit hash of each shingle instead
    // of the string itself — the production choice: the self-join then
    // shuffles 8-byte longs, not ~k-word strings, and the distinct/agg
    // compares longs. Trades an astronomically small collision
    // probability for shuffle width; the exact-parity form (q23) keeps
    // string keys.
    val shA = shingles(col(textCol), k)
    val gramsArr = gramHash match {
      case Some(h) => array_distinct(transform(shA, g => h.hash(g)))
      case None => array_distinct(shA)
    }
    val grams0 = docs.select(col(idCol).as("doc"), explode(gramsArr).as("g"))
    if (maxDf == Int.MaxValue) grams0
    else {
      val hot = grams0.groupBy("g").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select("g")
      grams0.join(broadcast(hot), Seq("g"), "left_anti")
    }
  }

  /** Exact n-gram Jaccard pairs via an inverted shingle index:
    * explode distinct shingles, self-join on shingle, count common,
    * then |A∩B| / (|A| + |B| − |A∩B|). Exact (unlike MinHash) and
    * SQL-expressible, so it carries a DuckDB oracle.
    *
    * Scale: identical shape to a term-index join; ultra-frequent
    * shingles are the skew. `maxDf` is the production remedy: shingles
    * appearing in more than `maxDf` documents (boilerplate) are dropped
    * from the index BEFORE the self-join, bounding per-shingle candidate
    * fan-out at maxDf². The hot-shingle list is tiny by construction
    * (it's the junk), so it is removed via a broadcast anti-join —
    * map-side, no skewed shuffle ever materializes. Default = no cap
    * (exact semantics, the q23 oracle form); the capped form is its own
    * query (q62) with its own oracle, additionally keyed by hashed
    * shingles (`gramHash`) so the index shuffle moves longs.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5, maxDf: Int = Int.MaxValue,
      gramHash: Option[HashFamily] = None): DataFrame = {
    // localCheckpoint: the exploded shingle index feeds three plans
    // (both join sides + the size table) — without it the shingling
    // (and the DF-cap anti-join) runs three times.
    val grams = shingleIndex(docs, idCol, textCol, k, maxDf, gramHash).localCheckpoint()
    val sizes = grams.groupBy("doc").agg(count(lit(1)).as("n"))
    val common = grams.select(col("doc").as("doc_a"), col("g"))
      .join(grams.select(col("doc").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Canonical (deduplicated) corpus — the end product an LLM-data
    * pipeline actually ships: cluster the near-duplicate pair graph,
    * keep the min-id document of every cluster, drop the rest.
    * Documents in no pair pass through untouched (cluster_size = 1).
    *
    * Output: every surviving `docs` row plus `cluster_size` (how many
    * docs the survivor represents) and `removed_dups` (= size − 1).
    *
    * Scale: `connectedComponents` over pairs (near-dup graphs are tiny
    * relative to the corpus), then ONE equi-join of docs against the
    * cluster table — survivor selection is a filter on the joined row
    * (id == cluster min), no second pass over the corpus.
    */
  def canonicalCorpus(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val clusters = connectedComponentsAuto(pairs, aCol, bCol)
      .withColumnRenamed("doc_id", idCol)
    docs.join(clusters, Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("removed_dups", col("cluster_size") - 1)
      .drop("cluster_id")
  }

  /** Quality-aware canonical selection: [[canonicalCorpus]] keeps each
    * cluster's MIN-ID member; real pipelines keep the BEST member —
    * the longest extraction, the highest quality score — because
    * near-duplicate crawls routinely pair a clean page with a
    * truncated or boilerplate-wrapped copy. Survivor per cluster =
    * max `qualityCol`, id ASC tie-break; singletons (docs in no pair)
    * survive as their own cluster.
    *
    * Scale shape: clustering is the adaptive CC; selection is ONE
    * window over the cluster key (singletons keyed by their own id, so
    * no skewed null partition) — no self-join, no collect.
    */
  def canonicalCorpusBy(docs: DataFrame, pairs: DataFrame, idCol: String,
      qualityCol: String, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val clusters = connectedComponentsAuto(pairs, aCol, bCol)
      .withColumnRenamed("doc_id", idCol)
    val joined = docs.join(clusters, Seq(idCol), "left")
      .withColumn("_cl", coalesce(col("cluster_id"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_cl")
      .orderBy(col(qualityCol).desc, col(idCol))
    joined
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("removed_dups", col("cluster_size") - 1)
      .drop("cluster_id", "_cl", "_rn")
  }

  /** CCNet-style segment-level boilerplate removal: split every doc
    * into non-overlapping `segLen`-token segments, count the number of
    * DISTINCT documents each segment occurs in across the corpus, drop
    * segments whose document frequency exceeds `maxDf` (navigation
    * chrome, license footers, templated spam), and reassemble the
    * surviving text in original order.
    *
    * Scale shape: segments are built MAP-SIDE from one bound token
    * array (`sequence` of start offsets + `slice` over the projected
    * `_toks` attribute — lambda bodies only touch attributes, so no
    * O(tokens²) re-evaluation). Document frequency is a hash aggregate
    * over (segment hash, doc) pairs with map-side partial collapse; the
    * hot-segment table is tiny by construction (only segments above
    * `maxDf`) and removed via a BROADCAST anti-join, so the corpus-side
    * segment stream shuffles once, for the reassembly aggregate, keyed
    * by doc id. Reassembly sorts each doc's surviving segments by
    * position inside `array_sort` (per-group, bounded by doc length),
    * never a global sort.
    *
    * Output: (id, n_segments, kept_segments, text_clean), one row per
    * input doc (docs losing every segment keep an empty string).
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segLen: Int = 8, maxDf: Long = 2,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val segArr = transform(
      sequence(lit(1), greatest(size(col("_toks")), lit(1)), lit(segLen)),
      s => concat_ws(" ", slice(col("_toks"), s, lit(segLen))))
    val segs = withToks
      .select(col(idCol), posexplode(segArr).as(Seq("seg_idx", "segment")))
      .withColumn("seg_hash", hashes.hash(col("segment")))
    // document frequency per segment hash; only the hot tail survives
    // the filter, so it broadcasts
    val hot = segs.select(col("seg_hash"), col(idCol)).distinct()
      .groupBy("seg_hash").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("seg_hash")
      .localCheckpoint()
    val kept = segs.join(broadcast(hot), Seq("seg_hash"), "left_anti")
    segs.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segments"))
      .join(
        kept.groupBy(col(idCol))
          .agg(count(lit(1)).as("kept_segments"),
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("seg_idx"), col("segment")))),
              s => s.getField("segment"))).as("text_clean")),
        Seq(idCol), "left")
      .select(col(idCol),
        col("n_segments"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Content-defined chunking (LBFS/rsync-style CDC, Muthitacharoen et
    * al. SOSP'01), at token granularity: a chunk boundary falls AFTER
    * token i whenever the hash of the (token_i, token_i+1) bigram is
    * ≡ 0 (mod `divisor`) — boundaries are decided by LOCAL content
    * only, never by position. Insert or delete a token and every
    * boundary outside its immediate neighborhood is unchanged, so
    * shifted copies still share almost all their chunks — the
    * property fixed-length segmentation (`segmentDedup`) lacks: there
    * one leading insertion shifts every later segment and nothing
    * matches. Expected chunk length ≈ `divisor` tokens.
    *
    * Output: (id, chunk_id, chunk_hash, n_tokens) — one row per chunk.
    * Scale shape: all per-doc work runs under doc-partitioned windows
    * (parallel, no global sort); the chunk assembly groups on
    * (id, chunk_id), which the window's doc-hash partitioning already
    * satisfies, so the token stream shuffles ONCE, and nothing
    * broadcasts or collects.
    */
  def contentDefinedChunks(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    val toks = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val flagged = toks
      .withColumn("_next", lead(col("tok"), 1).over(w))
      .withColumn("_boundary",
        when(col("_next").isNotNull &&
            hashes.hash(concat(col("tok"), lit(" "), col("_next")))
              % divisor === 0,
          lit(1)).otherwise(lit(0)))
    // chunk id of token i = boundaries among tokens 0..i-1 (the sort
    // from the lead() window is reused; no second exchange)
    val chunked = flagged.withColumn("chunk_id",
      coalesce(
        sum(col("_boundary")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    chunked.groupBy(col(idCol), col("chunk_id"))
      .agg(
        hashes.hash(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")))).as("chunk_hash"),
        count(lit(1)).as("n_tokens"))
  }

  /** Near-duplicate pairs by shared content-defined chunks: documents
    * that share ≥ `minShared` (DF-capped, per-doc-distinct) CDC chunk
    * fingerprints, with the overlap fraction against the smaller
    * side's chunk count. Catches shifted/partially-edited copies that
    * fixed segmentation misaligns, at chunk granularity (~n/divisor
    * index rows per doc vs ~n shingles for `ngramJaccardPairs`).
    *
    * Same scale shape as the shingle index: ids-only candidate
    * shuffles, a broadcast anti-join against the small hot-chunk list
    * (df > `maxDf` — boilerplate never explodes the pair join), and
    * the index is checkpointed before feeding the self-join
    * (CLAUDE.md: self-join-fed frames compute once).
    */
  def cdcNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16, minShared: Int = 2, maxDf: Long = 50L,
      hashes: HashFamily = XxHash64Family): DataFrame = {
    val index = contentDefinedChunks(docs, idCol, textCol, divisor, hashes)
      .select(col(idCol), col("chunk_hash")).distinct()
      .localCheckpoint()
    val hot = index.groupBy("chunk_hash").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("chunk_hash")
      .localCheckpoint()
    val kept = index.join(broadcast(hot), Seq("chunk_hash"), "left_anti")
      .localCheckpoint()
    val n = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
      .localCheckpoint()
    val pairs = kept.select(col(idCol).as("doc_a"), col("chunk_hash"))
      .join(kept.select(col(idCol).as("doc_b"), col("chunk_hash")), Seq("chunk_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
    pairs
      .join(n.select(col(idCol).as("doc_a"), col("n_chunks").as("n_a")), Seq("doc_a"))
      .join(n.select(col(idCol).as("doc_b"), col("n_chunks").as("n_b")), Seq("doc_b"))
      .withColumn("overlap",
        round(col("shared_chunks").cast("double") / least(col("n_a"), col("n_b")), 6))
      .select(col("doc_a"), col("doc_b"), col("shared_chunks"),
        col("n_a"), col("n_b"), col("overlap"))
  }
}
