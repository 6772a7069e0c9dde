package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Tables}
import graft.functions.Md5Family
import graft.operators._
import graft.queries.QueryHelpers._

/** Embedding similarity family: brute-force/LSH/IVF/PQ/OPQ ANN tiers, the persisted index, recall certification, kNN label noise, covariance/PCA drift monitoring.
  *
  * Split from the former ExtensionQueries monolith (round 7) — query
  * bodies, registration names, and oracle SQL are unchanged;
  * [[ExtensionQueries]] concatenates every domain's `all` list.
  */
object AnnQueries {
  type Q = (SparkSession, String) => DataFrame


  private val annTopK: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** q289: ColBERT-style MaxSim late interaction — multi-vector docs
    * and queries (4 deterministic binary-fraction chunk reweightings
    * of the testdata vectors), score = Σ_q-chunk max_d-chunk cosine,
    * as a two-level integer-exact aggregation. The oracle rebuilds
    * the identical chunk vectors (`list(... ORDER BY i)`) and replays
    * max-then-sum over the same ppm quantization.
    */
  private val maxSimQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Retrieval.maxSimTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** q286: binary-quantized ANN — sign-bit packing into 32-bit words,
    * integer Hamming shortlist (S=50), exact-cosine rerank to top-5.
    * The oracle replays the identical pipeline closed-form (DuckDB
    * packs the same words via Σ 2^i, xor/bit_count Hamming, same tie
    * discipline), so the hash certifies the whole quantize→shortlist→
    * rerank chain, not just the final ranks. Recall vs exact top-k is
    * DedupSimilaritySpec's concern.
    */
  private val binaryHammingQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.binaryHammingTopK(emb, emb.filter(col("vec_id") < 10),
      k = 5, shortlist = 50)
  }


  /** q197: embedding-space outlier pruning — within-list kNN mean
    * cosine below 0.30 (or an empty neighborhood) flags the stray;
    * ⌈√N⌉ seeded routing, q174's graph shape.
    */
  private val outliersQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.embeddingOutliers(emb, k = 5,
      nlists = Similarity.autoNlists(emb))
  }


  /** q198: PageRank over the within-list kNN similarity graph —
    * graph-centrality data selection (vectors many neighbors point at
    * are representative; low-rank = peripheral). Exact
    * parts-per-trillion integer power iteration: 5 rounds, damping
    * 85/100, dangling mass dropped.
    */
  private val pagerankQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnPagerank(emb, k = 5, nlists = Similarity.autoNlists(emb))
  }


  /** q224: triangle counts + local clustering coefficients over the
    * symmetrized within-list kNN graph — the cohesion audit next to
    * q198's centrality (tight near-dup neighborhoods score high,
    * stragglers sit at zero triangles). Exact integer counts; the
    * coefficient is one float expression.
    */
  private val trianglesQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnTriangles(emb, k = 5, nlists = Similarity.autoNlists(emb))
  }


  /** q249: IVF list-balance report at the ⌈√N⌉ routing — exact
    * within-list pair mass and the max·L/N straggler factor; the
    * rebuild-advisor number next to q199's silhouette.
    */
  private val listBalanceQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.listBalanceReport(emb, nlists = Similarity.autoNlists(emb))
  }


  /** q251: 6-core of the symmetrized kNN graph — the dense cohesive
    * region that survives repeated pruning of degree < 6; driver
    * rounds to a fixed point, oracle unrolls 12 MATERIALIZED rounds.
    */
  private val kCoreQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnKCore(emb, k = 5, nlists = Similarity.autoNlists(emb),
      coreK = 6)
  }


  /** q252: degree assortativity of the symmetrized kNN graph —
    * hub-links-hub vs hub-and-spoke, exact sums over edge ends.
    */
  private val assortQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnAssortativity(emb, k = 5,
      nlists = Similarity.autoNlists(emb))
  }


  /** q255: Newman modularity of the IVF routing over its own
    * symmetrized kNN graph — the community-structure gate next to
    * q199 (geometry) and q249 (cost); exact integer edge/degree sums,
    * one float division per row.
    */
  private val modularityQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.listModularity(emb, k = 5,
      nlists = Similarity.autoNlists(emb))
  }

  /** q199: centroid-based silhouette per IVF list — the linear
    * O(N·nlists) cluster-quality audit; ppm distances quantized at
    * birth, s = (b−a)·1e6 div max(a,b), exact per-list sums.
    */
  private val silhouetteQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.clusterSilhouette(emb, nlists = Similarity.autoNlists(emb))
  }


  /** q201: greedy farthest-point (Gonzalez k-center) coreset, k = 8 —
    * maximally diverse exemplars for redundancy pruning; seed = the
    * md5-smallest vec_id, every later pick the argmax of min ppm
    * distance to the chosen set.
    */
  private val coresetQ: Q = (s, dir) =>
    Similarity.farthestPointCoreset(Tables.embeddings(s, dir), k = 8)

  /** q302: the k-center‖ OVERSAMPLED coreset — q201's bounded-pass
    * scale form: 2 batch rounds each select the 8 farthest points in
    * one distributed pass (3 corpus scans total vs k = 8 for the
    * sequential greedy), then the exact greedy reduces the 17
    * candidates. The oracle replays batch rounds AND reduction as
    * unrolled CTEs, so a routing or tie-break change in either stage
    * flips the hash.
    */
  private val coresetScaledQ: Q = (s, dir) =>
    Similarity.coresetOversampled(Tables.embeddings(s, dir), k = 8,
      rounds = 2)


  /** q202: DBSCAN* density clustering over the within-list
    * eps-neighbor graph (cos ≥ 0.30, minPts 3) — deterministic
    * variant: only core points cluster (core-core CC, min-id label),
    * border and noise points label −1.
    */
  private val densityQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.densityClusters(emb, nlists = Similarity.autoNlists(emb))
  }


  /** q203: per-class evaluation of the kNN vote classifier against the
    * stored labels (q147's votes over the %20 probe set) — exact
    * confusion counts, precision/recall/F1 each one division.
    */
  private val knnEvalQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val votes = Similarity.knnLabelNoise(emb,
      emb.filter(col("vec_id") % 20 === 0), k = 5)
    Classifier.classifierEval(votes, "label", "knn_label")
  }


  /** q204: Cohen's kappa of the same vote table — chance-corrected
    * agreement as one exact-integer division.
    */
  private val knnKappaQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val votes = Similarity.knnLabelNoise(emb,
      emb.filter(col("vec_id") % 20 === 0), k = 5)
    Classifier.cohenKappa(votes, "label", "knn_label")
  }


  /** q183: MMR diversified top-5 from the exact top-20 shortlist —
    * retrieval-side diversity over q24's probes (lambda = 0.7).
    */
  private val mmrQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 10), k = 5, m = 20)
  }


  // `Similarity.thresholdPairs` (the exact O(n²) all-pairs scorer) is
  // deliberately NOT registered: its plan is a cartesian product by
  // construction, a scale-killer no suite query may contain
  // (QueriesSmokeSpec asserts CartesianProduct-free plans suite-wide).
  // It remains the spec-only verifier for the LSH path, exactly like
  // the single-task union-find verifies connectedComponentsStars.

  private val annLsh: Q = (s, dir) =>
    Similarity.lshNeighborPairs(Tables.embeddings(s, dir), threshold = 0.4)


  private val centroids: Q = (s, dir) =>
    Similarity.labelCentroids(Tables.embeddings(s, dir))


  /** IVF over the hash-seeded codebook, so the full pipeline (seed
    * selection → list assignment → probe routing → candidate ranking)
    * is SQL-expressible and hash-checked; the learned-k-means codebook
    * (`Similarity.ivfTopK`) is the production default and keeps its
    * recall spec.
    */
  private val annIvf: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopKSeeded(emb, emb.filter(col("vec_id") < 10), k = 3, nprobe = 4)
  }


  /** Int8 quantization of the embedding table (q66 is its profile). */
  private val quantizeQ: Q = (s, dir) =>
    Similarity.quantizeInt8(Tables.embeddings(s, dir))


  /** Per-vector norm/quantization profile (storage planning for int8). */
  private val embeddingNorms: Q = (s, dir) =>
    Similarity.embeddingStats(Tables.embeddings(s, dir))


  /** Cross-table composite: document metadata ⋈ embeddings (doc_id ==
    * vec_id in the testdata) → per-language embedding centroids — the
    * metadata-conditioned-centroid shape of real corpus analytics.
    */
  private val langCentroids: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(col("lang"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "v")))
      .groupBy("lang", "dim")
      .agg(count(lit(1)).as("n_docs"), round(avg(col("v")), 6).as("centroid_v"))
      .orderBy("lang", "dim")


  /** IVF routing (q40's coarse quantizer, nprobe=4/nlists=8) with PQ
    * ADC scoring (q99's codes) — the composed production ANN path.
    */
  private val annIvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfPqTopKSeeded(emb, emb.filter(col("vec_id") < 10), k = 3,
      dim = 64)
  }


  /** PQ-compressed ANN: same probe set as q24, distances via 8×16
    * hash-seeded sub-codebooks and exact-integer ADC sums.
    */
  private val annPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.pqTopKSeeded(emb, emb.filter(col("vec_id") < 10), k = 5,
      dim = 64)
  }


  /** q122: per-label embedding diversity via the linear-time
    * E||x−y||² identity (no pairwise join).
    */
  private val diversityQ: Q = (s, dir) =>
    Similarity.labelDiversity(Tables.embeddings(s, dir))


  /** q123: label-centroid cosine affinity matrix (mixture-design
    * redundancy report).
    */
  private val affinityQ: Q = (s, dir) =>
    Similarity.centroidAffinity(Tables.embeddings(s, dir))


  /** q124: deterministic negative sampling — 4 hash-drawn negatives
    * per anchor over the dense vec_id space, labels attached via one
    * equi-join.
    */
  private val negSamplesQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Sampling.negativeSamples(emb.select(col("vec_id")), "vec_id", k = 4)
      .join(emb.select(col("vec_id").as("neg_id"), col("label").as("neg_label")),
        Seq("neg_id"))
      .select(col("anchor_id"), col("sample_idx"), col("neg_id"), col("neg_label"))
      .orderBy("anchor_id", "sample_idx")
  }


  /** q126: IVF+PQ with exact re-ranking — q102's shortlist widened to
    * k·candMult, re-scored with exact cosines from the raw vectors,
    * re-cut to k.
    */
  private val annIvfPqRerank: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfPqTopKReranked(emb, emb.filter(col("vec_id") < 10), k = 3,
      dim = 64)
  }


  /** q129: registered ANN accuracy report — recall@k of the compressed
    * IVF+PQ tier (q102's path) and its exact-reranked tier (q126's)
    * against the brute-force exact top-k, so the accuracy claim is
    * hash-verified cross-engine like the speed paths themselves.
    * Counts are exact integers; the one division happens last.
    */
  private val annRecallQ: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 10)
    val k = 3
    // the exact ground-truth pass and the seeded artifact build share
    // no state — overlap them (independent-job rule, the q159 pattern)
    val exactRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val seededRef = new java.util.concurrent.atomic
      .AtomicReference[(Array[Array[Double]], DataFrame, DataFrame)]()
    inParallel(
      () => exactRef.set(Similarity.bruteForceTopK(emb, probes, k)
        .select("query_id", "neighbor_id").localCheckpoint()),
      // both tiers share one seeded codebook + corpus encode (identical
      // results to the self-building entry points, one encode instead of
      // two — the dominant avoidable cost in multi-tier recall reports)
      () => seededRef.set(Similarity.seededAnnArtifacts(emb, probes, dim = 64)))
    val exact = exactRef.get
    val (coarse, enc, pt) = seededRef.get
    val approx =
      Similarity.ivfPqTopKWith(emb, probes, k, nprobe = 4, coarse, enc, pt)
        .select(col("query_id"), col("neighbor_id"),
          lit("ivfpq_adc").as("method"))
        .union(Similarity.ivfPqTopKRerankedWith(emb, probes, k, nprobe = 4,
          coarse, enc, pt)
          .select(col("query_id"), col("neighbor_id"),
            lit("ivfpq_rerank").as("method")))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
    val total = exact.agg(count(lit(1)).as("total"))
    Seq("ivfpq_adc", "ivfpq_rerank").toDF("method")
      .join(hits, Seq("method"), "left")
      .crossJoin(broadcast(total))
      .select(col("method"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("total"),
        round(coalesce(col("hits"), lit(0L)) / col("total"), 6).as("recall"))
      .orderBy("method")
  }


  /** q159: recall certification for the LEARNED ANN tier — the
    * production (Lloyd-trained) PQ and IVF+PQ codebooks against the
    * hash-seeded ones q99/q102 oracle directly. Training is driver-side
    * k-means (not SQL-expressible), so the oracle replays the SEEDED
    * tier (q99's CTE chain at probes<50, k=5) and pins the exact
    * integer seeded hit count; the learned tiers' hit counts enter as
    * the hash-checked BOOLEANS learned >= seeded per tier — if Lloyd
    * training ever degrades recall below the raw seeded init, the
    * booleans flip and the gate goes red. (Margins at the gate's
    * sf0.01: learned 67 vs seeded 31 PQ hits of 250 — far from the
    * flip point.)
    */
  private val annRecallLearnedQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 50)
    val k = 5
    // four independent chains each run eager construction work (brute
    // force checkpoint; seeded codebook + corpus encode; two Lloyd
    // trainings with their own encodes) — overlap them instead of
    // serializing ~60 small jobs end to end (independent-job rule)
    val exactRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val seededRef = new java.util.concurrent.atomic
      .AtomicReference[(Array[Array[Double]], DataFrame, DataFrame)]()
    val pqLRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val ivLRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    inParallel(
      () => exactRef.set(Similarity.bruteForceTopK(emb, probes, k)
        .select("query_id", "neighbor_id").localCheckpoint()),
      // the two SEEDED tiers share one codebook + corpus encode
      // (bit-identical to the self-building entry points); the learned
      // tiers train their own codebooks so their encodes are theirs alone
      () => seededRef.set(Similarity.seededAnnArtifacts(emb, probes, dim = 64)),
      () => pqLRef.set(Similarity.pqTopKLearned(emb, probes, k, dim = 64)),
      () => ivLRef.set(Similarity.ivfPqTopKLearned(emb, probes, k, dim = 64)))
    val exact = exactRef.get
    def hits(df: DataFrame, as: String): DataFrame =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as(as))
    val (coarse, enc, pt) = seededRef.get
    val pqS = hits(Similarity.pqTopKWith(enc, pt, k), "seeded_hits")
    val pqL = hits(pqLRef.get, "pq_learned")
    val ivS = hits(Similarity.ivfPqTopKWith(emb, probes, k, nprobe = 4,
      coarse, enc, pt), "ivf_seeded")
    val ivL = hits(ivLRef.get, "ivf_learned")
    exact.agg(count(lit(1)).as("total"))
      .crossJoin(broadcast(pqS)).crossJoin(broadcast(pqL))
      .crossJoin(broadcast(ivS)).crossJoin(broadcast(ivL))
      .select(col("total"), col("seeded_hits"),
        round(col("seeded_hits") / col("total"), 6).as("seeded_recall"),
        (col("pq_learned") >= col("seeded_hits")).as("pq_learned_ge_seeded"),
        (col("ivf_learned") >= col("ivf_seeded")).as("ivfpq_learned_ge_seeded"))
  }


  /** q160: the OPQ win, hash-verified end-to-end — a DETERMINISTIC
    * correlated corpus (rank-4 linear mix of each embedding's first 4
    * coordinates under fixed integer loadings + 1% self-noise, the
    * regime OPQ exists for, derivable in SQL) is quantization-scored
    * under three codebook tiers: hash-seeded (oracle replays the q99
    * chain and pins the exact integer ppm error), Lloyd-learned, and
    * OPQ (balanced-PCA rotation then learned). The corpus fingerprint
    * (bit_xor of md5-hashed fixed-point coordinates) proves both
    * engines scored the SAME corpus; the learned/OPQ tiers (driver
    * training, not SQL-expressible) enter as hash-checked booleans —
    * learned ≤ seeded and opq < learned/2, measured at 0.66× and
    * 0.05–0.08× respectively, so a training regression flips the gate
    * red long before the win is gone.
    */
  private val opqGainQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val v = col("embedding").cast("array<double>")
    def loading(f: Int, d: Int): Double = ((d * (f + 3) + f) % 7 - 3).toDouble
    val w = array((0 until 64).map { d =>
      (0 until 4).map(f => v.getItem(f) * lit(loading(f, d))).reduce(_ + _) +
        lit(0.01) * v.getItem(d)
    }: _*)
    val corr = emb.select(col("vec_id"), w.as("embedding")).localCheckpoint()
    val fp = corr
      .select(col("vec_id"),
        posexplode(Pca.quantize(col("embedding"))).as(Seq("dim", "q")))
      .select(graft.functions.Md5Family.hash(concat(
        col("vec_id").cast("string"), lit(":"),
        col("dim").cast("string"), lit(":"),
        col("q").cast("string"))).as("h"))
      .agg(expr("bit_xor(h)").as("corpus_fp"))
    // the three tier CONSTRUCTIONS each do eager work off the corr
    // checkpoint (seeded sub-codebook checkpoint; Lloyd sample
    // collect; PCA covariance + rotated-corpus checkpoint + Lloyd
    // sample) and are mutually independent — overlap them; the final
    // plan's four error-scan broadcasts already overlap at action time
    val seRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val leRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val oeRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    graft.engine.Par.inParallel(
      () => seRef.set(Similarity.pqQuantErrorSeeded(corr, dim = 64)
        .select(col("err_ppm").as("seeded_err_ppm"))),
      () => leRef.set(Similarity.pqQuantErrorLearned(corr, dim = 64)
        .select(col("err_ppm").as("learned_err"))),
      () => oeRef.set(Similarity.pqQuantErrorOpq(corr, dim = 64)
        .select(col("err_ppm").as("opq_err"))))
    val se = seRef.get
    val le = leRef.get
    val oe = oeRef.get
    corr.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(fp)).crossJoin(broadcast(se))
      .crossJoin(broadcast(le)).crossJoin(broadcast(oe))
      .select(col("n_vecs"), col("corpus_fp"), col("seeded_err_ppm"),
        (col("learned_err") <= col("seeded_err_ppm")).as("learned_le_seeded"),
        (col("opq_err") * 2 < col("learned_err")).as("opq_halves_learned"))
  }


  /** q131: the PERSISTED ANN index end-to-end — build the stored
    * index at a scratch path, then answer through its on-disk tables
    * (partition-pruned enc scan, `_SUCCESS`-gated batches). Same seeded
    * codebooks and routing as q102, whose oracle it shares verbatim:
    * a hash match certifies the store/encode/prune/read path itself.
    */
  private val annIndexQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    withScratch(s, "graft_q131_idx") { scratch =>
      val idx = scratch + "/idx"
      AnnIndex.build(emb, idx, dim = 64)
      AnnIndex.query(s, idx, emb.filter(col("vec_id") < 10),
        k = 3, dim = 64)
    }
  }


  /** q147: kNN label-noise detection (Wilson editing) — each probe's 5
    * nearest corpus neighbors by exact cosine vote on its label;
    * disagreement flags probable mislabels (`Similarity.knnLabelNoise`).
    */
  private val knnLabelNoiseQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnLabelNoise(emb, emb.filter(col("vec_id") % 20 === 0), k = 5)
  }


  /** q148: embedding covariance matrix (upper triangle) from ONE
    * distributed moment pass (`Pca.covariance` / `GramAggregator`) —
    * the oracle-checkable face of the distributed-PCA split whose
    * eigendecomposition/projection half is spec-verified (`PcaSpec`).
    */
  private val embeddingCovQ: Q = (s, dir) =>
    Pca.covariance(Tables.embeddings(s, dir), "embedding", dim = 64)


  /** q149: per-dimension drift between two embedding snapshots (even
    * vs odd vec_id as stand-in cohorts) — mean/variance per side and
    * the absolute mean shift (`Pca.dimDrift`), the encoder-change /
    * normalization-regression monitor for an embedding pipeline.
    */
  private val dimDriftQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Pca.dimDrift(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
  }

  /** q167: semantic decontamination — the embedding-space complement
    * of q64/q71's shingle probes (`Decontamination
    * .semanticContaminated`): training vectors near ANY benchmark
    * vector (seeded-IVF routed, so the whole chain replays in SQL),
    * with hit count and best match. Bench = every 50th vec_id, the
    * q139-style held-out split.
    */
  private val semanticDecontamQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Decontamination.semanticContaminated(
      emb.filter(col("vec_id") % 50 =!= 0),
      emb.filter(col("vec_id") % 50 === 0),
      tau = 0.35, nlists = 8, nprobe = 4)
  }

  /** q169: hard-negative mining (`Similarity.hardNegatives`) — each
    * probe's 5 nearest OTHER-label vectors, the contrastive-training
    * negatives a uniform sampler (q124) never surfaces.
    */
  private val hardNegativesQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
  }


  /** q170: corpus cartography (`Similarity.clusterTopics`) — seeded
    * coarse-codebook embedding clusters labeled by their top-5 tokens
    * with token-volume share (vec_id ≡ doc_id in the testdata).
    */
  private val clusterTopicsQ: Q = (s, dir) =>
    Similarity.clusterTopics(Tables.embeddings(s, dir),
      Tables.documents(s, dir), "doc_id", "text", k = 5)

  /** q173: matryoshka truncation report
    * (`Similarity.truncationReport`) — retained prefix energy and
    * recall@10 vs the full-vector ranking at dimension budgets
    * 8/16/32/64; the d=64 row certifies recall 1.0 by construction.
    */
  private val truncationQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.truncationReport(emb, emb.filter(col("vec_id") < 10),
      dims = Seq(8, 16, 32, 64), k = 10)
  }

  /** q174: semi-supervised label propagation
    * (`Similarity.labelPropagation`) — every 5th vector seeds its
    * label, two synchronous majority rounds over the ⌈√N⌉-list
    * IVF-routed kNN graph label the rest of the reachable corpus.
    */
  private val labelPropQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.labelPropagation(emb,
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"), col("label")),
      k = 5, iters = 2, nlists = Similarity.autoNlists(emb))
  }

  /** q175: tombstone deletes on the persisted ANN index — q131's
    * build + query with every 7th vector deleted in between
    * (`AnnIndex.delete`): the masked ids vanish from the ranking
    * immediately, codebooks and routing untouched.
    */
  private val annDeleteQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    withScratch(s, "graft_q175_del") { scratch =>
      val idx = scratch + "/idx"
      AnnIndex.build(emb, idx, dim = 64)
      AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), idx)
      AnnIndex.query(s, idx, emb.filter(col("vec_id") < 10),
        k = 3, dim = 64)
    }
  }

  /** q282: FILTERED ANN recall report — metadata predicate ∧ vector
    * top-k over the persisted index, both strategies side by side:
    * PRE-FILTER (`AnnIndex.queryFiltered`: eligible ids semi-join the
    * pruned enc scan before ADC ranking — always k results when the
    * probed lists hold them) vs POST-FILTER
    * (`AnnIndex.queryPostFiltered`: plain top-k·4 shortlist filtered
    * after ranking — cheaper, lossy). Ground truth is the exact
    * filtered top-k (brute-force cosine over the eligible
    * sub-corpus); counts are exact integers, the division last, and
    * `returned` exposes the post-filter shortfall the recall number
    * alone would hide. Eligibility = label < 5 (half the corpus).
    */
  private val annFilteredQ: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 10)
    val eligible = emb.filter(col("label") < 5).select("vec_id")
    val k = 3
    val exactRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val both = withScratch(s, "graft_q282_filt") { scratch =>
      val idx = scratch + "/idx"
      // the index build and the exact ground-truth pass share no state —
      // overlap them (independent-job rule) instead of serializing the
      // build's many small store jobs ahead of the brute-force scan
      inParallel(
        () => AnnIndex.build(emb, idx, dim = 64),
        () => exactRef.set(Similarity.bruteForceTopK(
            emb.filter(col("label") < 5), probes, k)
          .select("query_id", "neighbor_id").localCheckpoint()))
      AnnIndex.queryFiltered(s, idx, probes, eligible, k, dim = 64)
        .select(col("query_id"), col("neighbor_id"),
          lit("prefilter").as("method"))
        .union(AnnIndex.queryPostFiltered(s, idx, probes, eligible, k,
          dim = 64, candMult = 4)
          .select(col("query_id"), col("neighbor_id"),
            lit("postfilter").as("method")))
    }
    val exact = exactRef.get
    val returned = both.groupBy("method").agg(count(lit(1)).as("returned"))
    val hits = both.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
    val total = exact.agg(count(lit(1)).as("total"))
    Seq("postfilter", "prefilter").toDF("method")
      .join(hits, Seq("method"), "left")
      .join(returned, Seq("method"), "left")
      .crossJoin(broadcast(total))
      .select(col("method"), coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("returned"), lit(0L)).as("returned"), col("total"),
        round(coalesce(col("hits"), lit(0L)) / col("total"), 6).as("recall"))
      .orderBy("method")
  }

  /** q320: Johnson–Lindenstrauss certification of the Achlioptas ±1
    * sign projection (`Pca.jlDistortionReport`): per target dimension
    * k ∈ {8, 16, 32}, the squared-distance ratio ‖Pa−Pb‖²/(k·‖a−b‖²)
    * over consecutive-id embedding pairs — mean ≈ 1 with spread
    * tightening as k grows (the JL concentration, measured not
    * claimed). The sign matrix derives from md5 low bits so DuckDB
    * builds the identical matrix; distances are exact integers of
    * micro-quantized coordinates; each ratio ppm-quantizes at birth.
    */
  private val jlProjectionQ: Q = (s, dir) =>
    Pca.jlDistortionReport(Tables.embeddings(s, dir), "vec_id",
      "embedding", dim = 64, ks = Seq(8, 16, 32), seed = 42L)

  private val jlProjectionOracle: String = {
    import graft.queries.QueryHelpers.md5l
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(round(x * 1000000e0) AS BIGINT)) AS q
       |  FROM embeddings),
       |pr AS (SELECT a.id, a.q AS qa, b.q AS qb
       |  FROM e a JOIN e b ON b.id = a.id + 1),
       |dq AS MATERIALIZED (SELECT id, i, qa[i + 1] - qb[i + 1] AS d
       |  FROM pr, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gs),
       |sg AS (SELECT i, j, CASE WHEN
       |      (${md5l("'jl#42#' || CAST(i AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}
       |        & 1) = 0 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(generate_series(0, 63)) AS i),
       |       (SELECT unnest(generate_series(0, 31)) AS j)),
       |pd AS MATERIALIZED (SELECT dq.id, sg.j,
       |    CAST(SUM(sg.s * dq.d) AS BIGINT) AS pd
       |  FROM dq JOIN sg ON sg.i = dq.i GROUP BY 1, 2),
       |din AS MATERIALIZED (SELECT id, CAST(SUM(d * d) AS BIGINT) AS d2in
       |  FROM dq GROUP BY 1),
       |d2o AS (SELECT pd.id, ks.k, CAST(SUM(pd.pd * pd.pd) AS BIGINT)
       |      AS d2out
       |  FROM pd JOIN (SELECT unnest([8, 16, 32]) AS k) ks ON pd.j < ks.k
       |  GROUP BY 1, 2),
       |rt AS (SELECT d2o.k,
       |    CAST(round(CAST(d2o.d2out AS DOUBLE)
       |      / CAST(d2o.k * din.d2in AS DOUBLE) * 1000000e0) AS BIGINT)
       |      AS ppm
       |  FROM d2o JOIN din ON din.id = d2o.id WHERE din.d2in > 0)
       |SELECT CAST(k AS INTEGER) AS k, CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(ppm) AS DOUBLE) / count(*) / 1000000e0, 6)
       |    AS mean_ratio,
       |  round(CAST(min(ppm) AS DOUBLE) / 1000000e0, 6) AS min_ratio,
       |  round(CAST(max(ppm) AS DOUBLE) / 1000000e0, 6) AS max_ratio,
       |  round(CAST(SUM(CASE WHEN ppm BETWEEN 500000 AND 1500000
       |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
       |    AS frac_within_50pct
       |FROM rt GROUP BY k ORDER BY k""".stripMargin
  }

  /** q330: SemDeDup fed by the PERSISTED ANN index — the coarse
    * routing comes off `AnnIndex.listAssignments` (committed enc
    * partitions, tombstones masked; q131's read discipline) instead
    * of re-assigning the corpus to centroids in-query, and the
    * within-list self-join carries ids only (vectors attach after).
    * The index's seeded codebook is q115's, so the oracle is q115's
    * verbatim: a hash match certifies that index-fed dedup ==
    * inline dedup while the encode amortizes into the
    * BuildTiming-accounted index build (`build_s` in BENCH.json).
    */
  private val semdedupIndexQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    withScratch(s, "graft_q330_sdidx") { scratch =>
      val idx = scratch + "/idx"
      AnnIndex.build(emb, idx, dim = 64) // nlists=8 seeded = q115 routing
      Similarity.semanticDedupFromIndex(s, idx, emb, threshold = 0.4)
        .orderBy("vec_id")
    }
  }

  /** q335: INDEX-FED semantic decontamination — q167's audit with the
    * corpus routing read off a persisted AnnIndex built over the
    * training split (same seeded codebook ⇒ q167's oracle verbatim)
    * and bench probes routed through the index's persisted centroids.
    * With q330 this closes the "semantic audits don't read the
    * persisted index" gap: both the dedup and the decontamination
    * faces of the embedding tier now run off `enc/`.
    */
  private val semanticDecontamIndexQ: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val train = emb.filter(col("vec_id") % 50 =!= 0)
    val bench = emb.filter(col("vec_id") % 50 === 0)
    withScratch(s, "graft_q335_sdidx") { scratch =>
      val idx = scratch + "/idx"
      AnnIndex.build(train, idx, dim = 64) // nlists=8 seeded-from-train
      Decontamination.semanticContaminatedFromIndex(
        s, idx, train, bench, tau = 0.35, nprobe = 4)
    }
  }

  /** q183's oracle: the same greedy MMR unrolled as k−1 CTE steps —
    * each step's candidate scores are exact BIGINT arithmetic over the
    * ppm-quantized relevance/pairwise cosines (`700000·rel_ppm −
    * 300000·max_sim_ppm`), ties on neighbor_id, so the greedy path is
    * bit-identical to the Spark loop.
    */
  private def mmrOracle: String = {
    val steps = (2 to 5).map { i =>
      val p = i - 1
      s"""c$i AS (SELECT p.query_id, p.a_id, max(p.sim_ppm) AS mx
         |  FROM ps p JOIN sel$p s
         |    ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$p x
         |    WHERE x.query_id = p.query_id AND x.neighbor_id = p.a_id)
         |  GROUP BY 1, 2),
         |s$i AS (SELECT query_id, neighbor_id, CAST($i AS INTEGER) AS sel_rank,
         |    score FROM (
         |  SELECT c$i.query_id, c$i.a_id AS neighbor_id,
         |    CAST(700000 AS BIGINT) * r.rel_ppm
         |      - CAST(300000 AS BIGINT) * c$i.mx AS score,
         |    row_number() OVER (PARTITION BY c$i.query_id
         |      ORDER BY CAST(700000 AS BIGINT) * r.rel_ppm
         |        - CAST(300000 AS BIGINT) * c$i.mx DESC, c$i.a_id) AS rk
         |  FROM c$i JOIN r ON r.query_id = c$i.query_id
         |    AND r.neighbor_id = c$i.a_id) WHERE rk = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel$p
         |  UNION ALL SELECT query_id, neighbor_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
       |      FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |        ROUND(list_cosine_similarity(qe, ce), 6) AS cos
       |      FROM q, c WHERE neighbor_id <> query_id),
       |r AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      CAST(round(cos * 1000000e0) AS BIGINT) AS rel_ppm,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM s) WHERE rank <= 20),
       |mem AS MATERIALIZED (SELECT r.query_id, r.neighbor_id, c.ce
       |        FROM r JOIN c USING (neighbor_id)),
       |ps AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
       |        CAST(round(ROUND(list_cosine_similarity(a.ce, b.ce), 6)
       |          * 1000000e0) AS BIGINT) AS sim_ppm
       |      FROM mem a JOIN mem b ON a.query_id = b.query_id
       |        AND a.neighbor_id <> b.neighbor_id),
       |s1 AS (SELECT query_id, neighbor_id, CAST(1 AS INTEGER) AS sel_rank,
       |        CAST(700000 AS BIGINT) * rel_ppm AS score FROM r WHERE rank = 1),
       |sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1),
       |$steps
       |SELECT u.query_id, u.sel_rank, u.neighbor_id, r.cos AS cosine,
       |  u.score AS mmr_score_e12
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
       |      UNION ALL SELECT * FROM s5) u
       |JOIN r ON r.query_id = u.query_id AND r.neighbor_id = u.neighbor_id
       |ORDER BY u.query_id, u.sel_rank""".stripMargin
  }

  /** q173's oracle, generated per dimension budget: truncated rankings
    * replay q24's rounded-cosine chain over `v[1:d]`; energy ratios
    * floor to integer ppm exactly like the Spark side (the d2ppm
    * pattern); the full ranking is the d=64 chain's own join target,
    * so the last row certifies recall 1.0.
    */
  private def matryoshkaOracle: String = {
    val dims = Seq(8, 16, 32, 64)
    val ranks = dims.map { d =>
      s"""r$d AS (SELECT query_id, neighbor_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     row_number() OVER (PARTITION BY q.vec_id
         |       ORDER BY ROUND(list_cosine_similarity(q.v[1:$d], c.v[1:$d]), 6) DESC,
         |         c.vec_id) AS rank
         |   FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         | WHERE rank <= 10)""".stripMargin
    }
    val stats = dims.map { d =>
      s"""s$d AS (SELECT $d AS d, CAST(sum(ppm) AS BIGINT) AS sum_ppm,
         |    CAST(count(*) AS BIGINT) AS n_vecs,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM r$d JOIN fullr USING (query_id, neighbor_id)) AS n_hits
         |  FROM (SELECT CASE WHEN ef > 0
         |      THEN CAST(floor(ed / ef * 1000000e0 + 0.5e0) AS BIGINT)
         |      ELSE 1000000 END AS ppm
         |    FROM (SELECT list_aggregate([y*y FOR y IN v[1:$d]], 'sum') AS ed,
         |            list_aggregate([y*y FOR y IN v], 'sum') AS ef FROM e)))""".stripMargin
    }
    val union = dims.map(d => s"SELECT * FROM s$d").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |fullr AS (SELECT query_id, neighbor_id FROM (
       |   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |     row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
       |         c.vec_id) AS rank
       |   FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
       | WHERE rank <= 10),
       |${ranks.mkString(",\n")},
       |${stats.mkString(",\n")},
       |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM e WHERE vec_id < 10)
       |SELECT d,
       |  round((CAST(sum_ppm AS DOUBLE) / 1000000e0) / n_vecs, 6)
       |    AS retained_energy,
       |  round(n_hits / (np * 10), 6) AS recall_at_k
       |FROM ($union) u CROSS JOIN np
       |ORDER BY d""".stripMargin
  }

  /** q198's oracle: q197's routing + kNN-edge CTEs (nbr kept), then
    * the 5 power-iteration rounds unrolled — every round exact BIGINT
    * arithmetic (`//` = Spark's `div` on non-negative values), sums
    * cast back from DuckDB's HUGEINT.
    */
  /** The q198/q224 shared graph prefix: seeded-IVF assignment and the
    * directed within-list kNN edge set `g(node, nbr)`.
    */
  private lazy val knnGraphCtes: String =
    // e/asg/g are each referenced several times downstream (asg by the
    // self-joined edge set and every consumer, g by all 5 unrolled
    // pagerank rounds) — default inlining re-derives the N×√N routing
    // cross-join per reference (q198's replay measured 50 s at sf0.01
    // before the hints); MATERIALIZED pins the graph to build once
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |cb AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id,
      |         v AS c
      |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
      |             FROM e ORDER BY h, vec_id
      |             LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e))),
      |ca AS (SELECT e.vec_id, e.v, cb.list_id,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY ROUND(list_cosine_similarity(e.v, cb.c), 6) DESC,
      |             cb.list_id) AS crank
      |       FROM e CROSS JOIN cb),
      |asg AS MATERIALIZED (SELECT vec_id, v, list_id FROM ca WHERE crank = 1),
      |g AS MATERIALIZED (SELECT node, nbr FROM (
      |   SELECT a.vec_id AS node, b.vec_id AS nbr,
      |     row_number() OVER (PARTITION BY a.vec_id
      |       ORDER BY CAST(round(ROUND(list_cosine_similarity(a.v, b.v), 6)
      |         * 1000000e0) AS BIGINT) DESC, b.vec_id) AS r
      |   FROM asg a JOIN asg b
      |     ON a.list_id = b.list_id AND a.vec_id <> b.vec_id)
      | WHERE r <= 5)""".stripMargin

  private val pagerankOracle: String = {
    val prefix =
      s"""WITH $knnGraphCtes,
        |deg AS MATERIALIZED (SELECT a.vec_id, CAST(coalesce(d.outdeg, 0) AS BIGINT) AS outdeg
        |        FROM asg a LEFT JOIN (SELECT node, count(*) AS outdeg
        |                              FROM g GROUP BY 1) d
        |          ON d.node = a.vec_id),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM e),
        |r0 AS (SELECT vec_id, 1000000000000 // (SELECT n FROM nn) AS r
        |       FROM asg)""".stripMargin
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (SELECT d.vec_id,
        |    ((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |      + (85 * coalesce(s.c, 0)) // 100 AS r
        |  FROM deg d LEFT JOIN (
        |    SELECT g.nbr, CAST(SUM(p.r // d2.outdeg) AS BIGINT) AS c
        |    FROM g JOIN r${i - 1} p ON p.vec_id = g.node
        |           JOIN deg d2 ON d2.vec_id = g.node
        |    GROUP BY 1) s ON s.nbr = d.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$prefix,
      |$rounds
      |SELECT d.vec_id, d.outdeg, CAST(r5.r AS BIGINT) AS rank_ppt,
      |  ROUND(CAST(r5.r AS DOUBLE) / 1000000000000e0, 6) AS rank_share
      |FROM deg d JOIN r5 ON r5.vec_id = d.vec_id
      |ORDER BY d.vec_id""".stripMargin
  }

  /** The unrolled greedy k-center chain over a source CTE `src`
    * (columns vec_id, v): md5-smallest seed, then k−1 argmax rounds
    * (ORDER BY d_ppm DESC, vec_id LIMIT 1 over min distance to the
    * accumulated chosen CTE), ending in the (sel_rank, vec_id, d_ppm)
    * readout. Shared by q201 (src = the corpus) and q302 (src = the
    * oversampled candidate set — the k-means‖ reduction step).
    */
  private def greedyCoresetSql(src: String, k: Int): String = {
    // every round references ch(r-1) THREE times (cross join, NOT IN,
    // the union extending it) — the repo-invariant MATERIALIZED case:
    // left to DuckDB's default inlining the chain re-expands ~3^k
    // (q201's replay measured 429 s at sf0.01 before the hint, ~1 s
    // after; identical rows — the hint only pins execution)
    val rounds = (2 to k).map { r =>
      s"""c$r AS MATERIALIZED (SELECT s.vec_id, s.v,
        |    MIN(1000000 - CAST(round(ROUND(list_cosine_similarity(s.v, ch.v), 6)
        |      * 1000000e0) AS BIGINT)) AS d_ppm
        |  FROM $src s CROSS JOIN ch${r - 1} ch
        |  WHERE s.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
        |  GROUP BY s.vec_id, s.v
        |  ORDER BY d_ppm DESC, s.vec_id LIMIT 1),
        |ch$r AS MATERIALIZED (SELECT vec_id, v FROM ch${r - 1}
        |         UNION ALL SELECT vec_id, v FROM c$r)""".stripMargin
    }.mkString(",\n")
    val sel = (2 to k).map(r =>
      s"UNION ALL SELECT $r AS sel_rank, vec_id, d_ppm FROM c$r").mkString("\n")
    s"""c1 AS MATERIALIZED (SELECT vec_id, v, CAST(NULL AS BIGINT) AS d_ppm
      |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
      |             FROM $src ORDER BY h, vec_id LIMIT 1)),
      |ch1 AS MATERIALIZED (SELECT vec_id, v FROM c1),
      |$rounds
      |SELECT * FROM (
      |SELECT 1 AS sel_rank, vec_id, d_ppm FROM c1
      |$sel) ORDER BY sel_rank""".stripMargin
  }

  /** q201's oracle: the greedy loop unrolled over the full corpus. */
  private val coresetOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |${greedyCoresetSql("e", 8)}""".stripMargin

  /** q302's oracle: the two batch oversampling rounds (top-8 by min
    * distance to the accumulated candidates, ties to vec_id) replayed
    * as MATERIALIZED CTEs, then the SAME greedy template reduces the
    * 17 candidates — both stages certified by one hash.
    */
  private val coresetScaledOracle: String = {
    def batch(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
        |  SELECT vec_id, v FROM (
        |    SELECT e.vec_id, e.v,
        |      MIN(1000000 - CAST(round(ROUND(list_cosine_similarity(e.v, ch.v), 6)
        |        * 1000000e0) AS BIGINT)) AS dmin
        |    FROM e CROSS JOIN $prev ch
        |    WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
        |    GROUP BY e.vec_id, e.v
        |    ORDER BY dmin DESC, e.vec_id LIMIT 8))""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |s0 AS MATERIALIZED (SELECT vec_id, v FROM (
      |    SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
      |    FROM e ORDER BY h, vec_id LIMIT 1)),
      |${batch("s0", "b1")},
      |s1 AS MATERIALIZED (SELECT * FROM s0 UNION ALL SELECT * FROM b1),
      |${batch("s1", "b2")},
      |cand AS MATERIALIZED (SELECT * FROM s1 UNION ALL SELECT * FROM b2),
      |${greedyCoresetSql("cand", 8)}""".stripMargin
  }

  /** q147's vote chain as a shared CTE prefix ending in
    * `pred(label, pred)` — q203/q204 aggregate it two different ways.
    */
  private val knnVoteCtes: String =
    """q AS (SELECT vec_id AS query_id, label AS q_label,
      |    CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id % 20 = 0),
      |c AS (SELECT vec_id AS neighbor_id, label AS n_label,
      |    CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |s AS (SELECT query_id, q_label, neighbor_id, n_label,
      |    ROUND(list_cosine_similarity(qe, ce), 6) AS cos
      |  FROM q, c WHERE neighbor_id <> query_id),
      |r AS (SELECT query_id, q_label, n_label,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rank FROM s),
      |v AS (SELECT query_id, q_label, n_label, count(*) AS n_votes
      |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
      |w AS (SELECT query_id, q_label, n_label, n_votes,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY n_votes DESC, n_label) AS vr FROM v),
      |pred AS (SELECT q_label AS label, n_label AS p FROM w WHERE vr = 1),
      |pairs AS (SELECT label AS t, p, CAST(count(*) AS BIGINT) AS n
      |  FROM pred GROUP BY 1, 2),
      |nt AS (SELECT t AS class, CAST(SUM(n) AS BIGINT) AS n_true
      |  FROM pairs GROUP BY 1),
      |np AS (SELECT p AS class, CAST(SUM(n) AS BIGINT) AS n_pred
      |  FROM pairs GROUP BY 1)""".stripMargin

  /** q224's oracle: symmetrize g to the distinct (min, max) pair set,
    * find each triangle a < b < c once as the (a,b),(a,c) wedge closed
    * by (b,c), credit all three corners.
    */
  private lazy val trianglesOracle: String =
    s"""WITH $knnGraphCtes,
      |und AS (SELECT DISTINCT least(node, nbr) AS u,
      |    greatest(node, nbr) AS v FROM g),
      |deg AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS degree
      |  FROM (SELECT u AS vec_id FROM und
      |        UNION ALL SELECT v AS vec_id FROM und) GROUP BY 1),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
      |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
      |pn AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS triangles
      |  FROM (SELECT a AS vec_id FROM tri
      |        UNION ALL SELECT b AS vec_id FROM tri
      |        UNION ALL SELECT c AS vec_id FROM tri) GROUP BY 1)
      |SELECT asg.vec_id, coalesce(deg.degree, 0) AS degree,
      |  coalesce(pn.triangles, 0) AS triangles,
      |  CASE WHEN coalesce(deg.degree, 0) >= 2 THEN
      |    ROUND(2e0 * CAST(coalesce(pn.triangles, 0) AS DOUBLE)
      |      / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
      |  END AS clustering_coef
      |FROM asg LEFT JOIN deg ON deg.vec_id = asg.vec_id
      |LEFT JOIN pn ON pn.vec_id = asg.vec_id
      |ORDER BY asg.vec_id""".stripMargin

  /** q249's oracle: the shared seeded-routing chain's `asg`, list
    * sizes only (the unused kNN-edge CTE prunes away).
    */
  private lazy val listBalanceOracle: String =
    s"""WITH $knnGraphCtes,
      |lc AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n
      |  FROM asg GROUP BY 1)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_vecs,
      |  CAST(count(*) AS BIGINT) AS n_lists_used,
      |  CAST(MIN(n) AS BIGINT) AS min_list,
      |  CAST(MAX(n) AS BIGINT) AS max_list,
      |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS sum_pairs,
      |  ROUND(CAST(MAX(n) AS DOUBLE) * count(*)
      |    / CAST(SUM(n) AS DOUBLE), 6) AS imbalance
      |FROM lc""".stripMargin

  /** q251's oracle: 12 unrolled peel rounds (MATERIALIZED — each
    * round reads the prior alive set twice); extra rounds after the
    * fixed point are no-ops, matching the operator's early exit.
    */
  private lazy val kCoreOracle: String = {
    val rounds = (1 to 12).map { i =>
      s"""l$i AS MATERIALIZED (SELECT u, v FROM und
        |  WHERE u IN (SELECT vec_id FROM a${i - 1})
        |    AND v IN (SELECT vec_id FROM a${i - 1})),
        |d$i AS MATERIALIZED (SELECT vec_id,
        |    CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT u AS vec_id FROM l$i
        |        UNION ALL SELECT v AS vec_id FROM l$i) GROUP BY 1),
        |a$i AS MATERIALIZED (SELECT vec_id FROM d$i WHERE degree >= 6)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
      |und AS MATERIALIZED (SELECT DISTINCT least(node, nbr) AS u,
      |    greatest(node, nbr) AS v FROM g),
      |a0 AS MATERIALIZED (SELECT vec_id FROM asg),
      |$rounds,
      |lf AS (SELECT u, v FROM und
      |  WHERE u IN (SELECT vec_id FROM a12)
      |    AND v IN (SELECT vec_id FROM a12)),
      |df AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS degree
      |  FROM (SELECT u AS vec_id FROM lf
      |        UNION ALL SELECT v AS vec_id FROM lf) GROUP BY 1)
      |SELECT asg.vec_id, coalesce(df.degree, 0) AS degree,
      |  CAST(df.vec_id IS NOT NULL AS INTEGER) AS in_core
      |FROM asg LEFT JOIN df ON df.vec_id = asg.vec_id
      |ORDER BY asg.vec_id""".stripMargin
  }

  /** q252's oracle: endpoint-degree Pearson over both edge
    * orientations, exact sums.
    */
  private lazy val assortOracle: String =
    s"""WITH $knnGraphCtes,
      |und AS MATERIALIZED (SELECT DISTINCT least(node, nbr) AS u,
      |    greatest(node, nbr) AS v FROM g),
      |deg AS MATERIALIZED (SELECT vec_id, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS vec_id FROM und
      |        UNION ALL SELECT v AS vec_id FROM und) GROUP BY 1),
      |ends AS (SELECT da.d AS da, db.d AS db FROM (
      |    SELECT u AS a, v AS b FROM und
      |    UNION ALL SELECT v AS a, u AS b FROM und) e
      |  JOIN deg da ON da.vec_id = e.a
      |  JOIN deg db ON db.vec_id = e.b),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(SUM(da) AS BIGINT) AS sa, CAST(SUM(db) AS BIGINT) AS sb,
      |    CAST(SUM(da * db) AS BIGINT) AS sab,
      |    CAST(SUM(da * da) AS BIGINT) AS saa,
      |    CAST(SUM(db * db) AS BIGINT) AS sbb FROM ends),
      |nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_nodes
      |  FROM asg),
      |ee AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
      |SELECT nn.n_nodes, ee.n_edges,
      |  CASE WHEN (CAST(m AS DOUBLE) * CAST(saa AS DOUBLE)
      |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0e0
      |    AND (CAST(m AS DOUBLE) * CAST(sbb AS DOUBLE)
      |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0e0
      |    THEN ROUND((CAST(m AS DOUBLE) * CAST(sab AS DOUBLE)
      |        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
      |      / sqrt((CAST(m AS DOUBLE) * CAST(saa AS DOUBLE)
      |          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      |        * (CAST(m AS DOUBLE) * CAST(sbb AS DOUBLE)
      |          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
      |  END AS assortativity
      |FROM nn CROSS JOIN ee CROSS JOIN t""".stripMargin

  /** q255's oracle: the shared graph chain, then exact integer
    * intra/degree sums per list; both ratios divide once, `+ 0e0`
    * normalizes DuckDB round()'s -0.0 (contrib can round to zero from
    * below on sparse lists).
    */
  private lazy val modularityOracle: String =
    s"""WITH $knnGraphCtes,
      |und AS MATERIALIZED (SELECT DISTINCT least(node, nbr) AS u,
      |    greatest(node, nbr) AS v FROM g),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      |deg AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS vec_id FROM und
      |        UNION ALL SELECT v AS vec_id FROM und) GROUP BY 1),
      |nd AS (SELECT a.list_id, CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(SUM(coalesce(deg.d, 0)) AS BIGINT) AS degree_sum
      |  FROM asg a LEFT JOIN deg ON deg.vec_id = a.vec_id GROUP BY 1),
      |ie AS (SELECT a.list_id, CAST(count(*) AS BIGINT) AS intra
      |  FROM und JOIN asg a ON a.vec_id = und.u
      |    JOIN asg b ON b.vec_id = und.v AND b.list_id = a.list_id
      |  GROUP BY 1),
      |per AS (SELECT nd.list_id, nd.n_nodes,
      |    CAST(coalesce(ie.intra, 0) AS BIGINT) AS intra_edges,
      |    nd.degree_sum
      |  FROM nd LEFT JOIN ie ON ie.list_id = nd.list_id),
      |gl AS (SELECT CAST(SUM(intra_edges) AS BIGINT) AS si,
      |    CAST(SUM(degree_sum * degree_sum) AS BIGINT) AS sdd FROM per)
      |SELECT CAST(per.list_id AS INTEGER) AS part_id, per.n_nodes,
      |  per.intra_edges, per.degree_sum,
      |  ROUND(CAST(4 * mm.m * per.intra_edges
      |      - per.degree_sum * per.degree_sum AS DOUBLE)
      |    / CAST(4 * mm.m * mm.m AS DOUBLE), 6) + 0e0 AS contrib,
      |  ROUND(CAST(4 * mm.m * gl.si - gl.sdd AS DOUBLE)
      |    / CAST(4 * mm.m * mm.m AS DOUBLE), 6) + 0e0 AS modularity
      |FROM per CROSS JOIN mm CROSS JOIN gl
      |ORDER BY part_id""".stripMargin

  /** q167's seeded-IVF decontamination replay — shared verbatim by
    * q335 (the index-fed form must reproduce the inline audit).
    */
  private lazy val semanticDecontamOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |tr AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
        |be AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |ccb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS cc
        |        FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |              FROM tr ORDER BY h, vec_id LIMIT 8)),
        |ta AS (SELECT tr.vec_id, tr.v, ccb.list_id,
        |         row_number() OVER (PARTITION BY tr.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(tr.v, ccb.cc), 6) DESC,
        |             ccb.list_id) AS crank
        |       FROM tr CROSS JOIN ccb),
        |corpus AS (SELECT vec_id AS train_id, v, list_id FROM ta WHERE crank = 1),
        |ba AS (SELECT be.vec_id, be.v, ccb.list_id,
        |         row_number() OVER (PARTITION BY be.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(be.v, ccb.cc), 6) DESC,
        |             ccb.list_id) AS crank
        |       FROM be CROSS JOIN ccb),
        |probes AS (SELECT vec_id AS bench_id, v, list_id FROM ba WHERE crank <= 4),
        |hits AS (SELECT c.train_id, p.bench_id,
        |           ROUND(list_cosine_similarity(c.v, p.v), 6) AS cosine
        |         FROM corpus c JOIN probes p USING (list_id)
        |         WHERE ROUND(list_cosine_similarity(c.v, p.v), 6) >= 0.35e0)
        |SELECT train_id, n_bench_hits, bench_id, cosine FROM (
        |  SELECT train_id, bench_id, cosine,
        |    CAST(count(*) OVER (PARTITION BY train_id) AS BIGINT) AS n_bench_hits,
        |    row_number() OVER (PARTITION BY train_id
        |      ORDER BY cosine DESC, bench_id) AS rn
        |  FROM hits)
        |WHERE rn = 1 ORDER BY train_id""".stripMargin

  val all: Seq[Query] = Seq(
    // q330: index-fed SemDeDup must reproduce the inline q115 exactly
    // (same seeded codebook, same routing, same exact-cosine verify)
    Query("q330_semdedup_index", semdedupIndexQ, DedupQueries.semdedupOracle),
    Query("q320_jl_projection", jlProjectionQ, jlProjectionOracle),
    Query("q198_knn_pagerank", pagerankQ, pagerankOracle),
    Query("q201_coreset", coresetQ, coresetOracle),
    Query("q302_coreset_scaled", coresetScaledQ, coresetScaledOracle),
    Query("q224_knn_triangles", trianglesQ, trianglesOracle),
    Query("q249_list_balance", listBalanceQ, listBalanceOracle),
    Query("q251_kcore", kCoreQ, kCoreOracle),
    Query("q252_assortativity", assortQ, assortOracle),
    Query("q255_modularity", modularityQ, modularityOracle),
    // q203: per-class one-vs-rest counts off the vote chain; F1 from
    // integers (2tp / (2tp+fp+fn)), never from the rounded p and r.
    Query("q203_knn_eval", knnEvalQ,
      s"""WITH $knnVoteCtes,
        |cls AS (SELECT class FROM nt UNION SELECT class FROM np),
        |tp AS (SELECT t AS class, n AS tp FROM pairs WHERE t = p)
        |SELECT cls.class, coalesce(tp.tp, 0) AS tp,
        |  coalesce(nt.n_true, 0) AS n_true,
        |  coalesce(np.n_pred, 0) AS n_pred,
        |  coalesce(np.n_pred, 0) - coalesce(tp.tp, 0) AS fp,
        |  coalesce(nt.n_true, 0) - coalesce(tp.tp, 0) AS fn,
        |  CASE WHEN coalesce(np.n_pred, 0) > 0 THEN
        |    ROUND(CAST(coalesce(tp.tp, 0) AS DOUBLE) / np.n_pred, 6)
        |  END AS prec,
        |  CASE WHEN coalesce(nt.n_true, 0) > 0 THEN
        |    ROUND(CAST(coalesce(tp.tp, 0) AS DOUBLE) / nt.n_true, 6)
        |  END AS rec,
        |  CASE WHEN coalesce(np.n_pred, 0) + coalesce(nt.n_true, 0) > 0 THEN
        |    ROUND(CAST(2 * coalesce(tp.tp, 0) AS DOUBLE)
        |      / (coalesce(np.n_pred, 0) + coalesce(nt.n_true, 0)), 6)
        |  END AS f1
        |FROM cls LEFT JOIN tp ON tp.class = cls.class
        |  LEFT JOIN nt ON nt.class = cls.class
        |  LEFT JOIN np ON np.class = cls.class
        |ORDER BY cls.class""".stripMargin),
    // q204: kappa as one exact-integer division,
    // (N·agree − Σ nt·np) / (N² − Σ nt·np).
    Query("q204_knn_kappa", knnKappaQ,
      s"""WITH $knnVoteCtes,
        |a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_items,
        |    CAST(SUM(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM pairs),
        |ex AS (SELECT CAST(coalesce(SUM(nt.n_true * np.n_pred), 0) AS BIGINT)
        |    AS sum_ntnp
        |  FROM nt JOIN np ON nt.class = np.class)
        |SELECT a.n_items, a.n_agree, ex.sum_ntnp,
        |  CASE WHEN a.n_items * a.n_items - ex.sum_ntnp <> 0 THEN
        |    ROUND(CAST(a.n_items * a.n_agree - ex.sum_ntnp AS DOUBLE)
        |      / (a.n_items * a.n_items - ex.sum_ntnp), 6)
        |  END AS kappa
        |FROM a CROSS JOIN ex""".stripMargin),
    // q202: q197's routing CTEs, symmetric eps pairs, core = degree
    // >= minPts, recursive closure over core-core edges + core self
    // loops, min-reachable label; noise -1.
    Query("q202_density_clusters", densityQ,
      // asg feeds BOTH sides of the eps self-join plus the final
      // readout, p feeds deg and the core-edge join — MATERIALIZED or
      // DuckDB re-derives the N×√N routing cross-join per reference
      // (the q201 lesson; 40 s -> ~1 s at sf0.01)
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id,
        |         v AS c
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id
        |             LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e))),
        |ca AS (SELECT e.vec_id, e.v, cb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, cb.c), 6) DESC,
        |             cb.list_id) AS crank
        |       FROM e CROSS JOIN cb),
        |asg AS MATERIALIZED (SELECT vec_id, v, list_id FROM ca WHERE crank = 1),
        |p AS MATERIALIZED (SELECT a.vec_id AS node, b.vec_id AS nbr
        |      FROM asg a JOIN asg b
        |        ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
        |      WHERE CAST(round(ROUND(list_cosine_similarity(a.v, b.v), 6)
        |        * 1000000e0) AS BIGINT) >= 300000),
        |deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS n_eps
        |        FROM p GROUP BY 1),
        |core AS (SELECT node FROM deg WHERE n_eps >= 3),
        |ce AS (SELECT p.node AS u, p.nbr AS v FROM p
        |       JOIN core c1 ON c1.node = p.node
        |       JOIN core c2 ON c2.node = p.nbr),
        |edges AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce
        |          UNION SELECT node, node FROM core),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
        |cl AS (SELECT u AS vec_id, min(v) AS cid FROM reach GROUP BY u)
        |SELECT a.vec_id, CAST(a.list_id AS INTEGER) AS list_id,
        |  COALESCE(deg.n_eps, 0) AS n_eps,
        |  CAST(CASE WHEN core.node IS NULL THEN 0 ELSE 1 END AS INTEGER)
        |    AS is_core,
        |  CASE WHEN core.node IS NULL THEN CAST(-1 AS BIGINT)
        |       ELSE cl.cid END AS cluster_id
        |FROM asg a LEFT JOIN deg ON deg.node = a.vec_id
        |  LEFT JOIN core ON core.node = a.vec_id
        |  LEFT JOIN cl ON cl.vec_id = a.vec_id
        |ORDER BY a.vec_id""".stripMargin),
    // q199: same seeded codebook; per-vector distances to ALL
    // centroids, top-2 by ppm distance, exact-integer silhouette.
    Query("q199_silhouette", silhouetteQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id,
        |         v AS c
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id
        |             LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e))),
        |sc AS (SELECT e.vec_id, cb.list_id,
        |         1000000 - CAST(round(ROUND(list_cosine_similarity(e.v, cb.c), 6)
        |           * 1000000e0) AS BIGINT) AS d_ppm
        |       FROM e CROSS JOIN cb),
        |rk AS (SELECT vec_id, list_id, d_ppm,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY d_ppm ASC, list_id) AS crank
        |       FROM sc),
        |t2 AS (SELECT vec_id,
        |         MIN(CASE WHEN crank = 1 THEN list_id END) AS list_id,
        |         MIN(CASE WHEN crank = 1 THEN d_ppm END) AS a_ppm,
        |         MIN(CASE WHEN crank = 2 THEN d_ppm END) AS b_ppm
        |       FROM rk WHERE crank <= 2 GROUP BY 1),
        |s AS (SELECT list_id,
        |        CASE WHEN greatest(a_ppm, b_ppm) = 0 THEN CAST(0 AS BIGINT)
        |             ELSE ((b_ppm - a_ppm) * 1000000) // greatest(a_ppm, b_ppm)
        |        END AS s_ppm
        |      FROM t2)
        |SELECT CAST(list_id AS INTEGER) AS list_id,
        |  CAST(count(*) AS BIGINT) AS n_pts,
        |  CAST(SUM(s_ppm) AS BIGINT) AS sum_s_ppm,
        |  ROUND(CAST(SUM(s_ppm) AS BIGINT) / (count(*) * 1000000e0), 6) AS mean_s
        |FROM s GROUP BY 1
        |ORDER BY 1""".stripMargin),
    Query("q183_mmr", mmrQ, mmrOracle),
    // q197: q174's seeded routing + within-list kNN window; cosines
    // quantize to ppm at birth, the cut compares exact integers.
    Query("q197_embedding_outliers", outliersQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id,
        |         v AS c
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id
        |             LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e))),
        |ca AS (SELECT e.vec_id, e.v, cb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, cb.c), 6) DESC,
        |             cb.list_id) AS crank
        |       FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, v, list_id FROM ca WHERE crank = 1),
        |g AS (SELECT node, cos_ppm FROM (
        |   SELECT a.vec_id AS node, b.vec_id AS nbr,
        |     CAST(round(ROUND(list_cosine_similarity(a.v, b.v), 6)
        |       * 1000000e0) AS BIGINT) AS cos_ppm,
        |     row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY CAST(round(ROUND(list_cosine_similarity(a.v, b.v), 6)
        |         * 1000000e0) AS BIGINT) DESC, b.vec_id) AS r
        |   FROM asg a JOIN asg b
        |     ON a.list_id = b.list_id AND a.vec_id <> b.vec_id)
        | WHERE r <= 5),
        |kn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         CAST(SUM(cos_ppm) AS BIGINT) AS knn_sum_ppm
        |       FROM g GROUP BY 1)
        |SELECT a.vec_id, CAST(a.list_id AS INTEGER) AS list_id,
        |  coalesce(kn.n_nbrs, 0) AS n_nbrs,
        |  coalesce(kn.knn_sum_ppm, 0) AS knn_sum_ppm,
        |  CAST(CASE WHEN coalesce(kn.n_nbrs, 0) = 0
        |    OR coalesce(kn.knn_sum_ppm, 0) < 300000 * coalesce(kn.n_nbrs, 0)
        |    THEN 1 ELSE 0 END AS INTEGER) AS outlier
        |FROM asg a LEFT JOIN kn ON kn.node = a.vec_id
        |ORDER BY a.vec_id""".stripMargin),
    // q175: q102's chain with tombstoned neighbors masked from the
    // candidate set — everything else (codebooks, routing, ADC)
    // identical, exactly the query-time anti-join semantics.
    Query("q175_ann_delete", annDeleteQ,
      ivfPqSeededOracleWhere(" AND c.neighbor_id % 7 <> 0")),
    // q282: the same adc frame cut pre- vs post-filter, scored
    // against the exact filtered top-k (see QueryHelpers).
    Query("q282_ann_filtered", annFilteredQ, annFilteredOracle),
    // q174: the ⌈√N⌉ seeded routing (q125's cb/ca pattern), the
    // within-list kNN graph (rounded cosine, id tie-break), then two
    // unrolled majority rounds — each restricted to not-yet-labeled
    // nodes, (count DESC, label ASC) tie-break, exactly the Spark
    // iteration.
    Query("q174_label_prop", labelPropQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS c
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id
        |             LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e))),
        |ca AS (SELECT e.vec_id, e.v, cb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, cb.c), 6) DESC, cb.list_id)
        |           AS crank
        |       FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, v, list_id FROM ca WHERE crank = 1),
        |g AS (SELECT node, nbr FROM (
        |   SELECT a.vec_id AS node, b.vec_id AS nbr,
        |     row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.vec_id) AS r
        |   FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id)
        | WHERE r <= 5),
        |l0 AS (SELECT vec_id, label, 0 AS hop FROM embeddings WHERE vec_id % 5 = 0),
        |v1 AS (SELECT g.node, l.label, count(*) AS n
        |       FROM g JOIN l0 l ON l.vec_id = g.nbr
        |       WHERE g.node NOT IN (SELECT vec_id FROM l0) GROUP BY 1, 2),
        |n1 AS (SELECT node AS vec_id, label, 1 AS hop FROM
        |       (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS r
        |        FROM v1) WHERE r = 1),
        |l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1),
        |v2 AS (SELECT g.node, l.label, count(*) AS n
        |       FROM g JOIN l1 l ON l.vec_id = g.nbr
        |       WHERE g.node NOT IN (SELECT vec_id FROM l1) GROUP BY 1, 2),
        |n2 AS (SELECT node AS vec_id, label, 2 AS hop FROM
        |       (SELECT node, label,
        |          row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS r
        |        FROM v2) WHERE r = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM n2)
        |SELECT vec_id, label, CAST(hop AS INTEGER) AS hop
        |FROM l2 ORDER BY vec_id""".stripMargin),
    Query("q173_matryoshka", truncationQ, matryoshkaOracle),
    // q169: definitional — every (probe, other-label corpus vector)
    // pair scored, rounded-cosine rank with neighbor_id tie-break.
    Query("q169_hard_negatives", hardNegativesQ,
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT * FROM e WHERE vec_id < 10),
        |s AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        c.label AS neighbor_label,
        |        ROUND(list_cosine_similarity(p.v, c.v), 6) AS cosine
        |      FROM p JOIN e c ON c.vec_id <> p.vec_id AND c.label <> p.label)
        |SELECT query_id, rank, neighbor_id, neighbor_label, cosine FROM
        |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // q170: the seeded coarse routing (q102's ccb over the FULL
    // corpus), docs joined to their list by id, then q158's top-terms
    // chain per list.
    Query("q170_cluster_topics", clusterTopicsQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ccb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS cc
        |        FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |              FROM e ORDER BY h, vec_id LIMIT 8)),
        |ca AS (SELECT e.vec_id, ccb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, ccb.cc), 6) DESC,
        |             ccb.list_id) AS crank
        |       FROM e CROSS JOIN ccb),
        |assign AS (SELECT vec_id, CAST(list_id AS INTEGER) AS list_id
        |           FROM ca WHERE crank = 1),
        |t AS (SELECT a.list_id AS g, u.tok
        |      FROM assign a JOIN documents d ON d.doc_id = a.vec_id,
        |      LATERAL (SELECT unnest(regexp_split_to_array(d.text, '\\s+')) AS tok) u
        |      WHERE u.tok <> ''),
        |c AS (SELECT g, tok AS token, count(*) AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT g, token, cnt,
        |    CAST(row_number() OVER (PARTITION BY g
        |      ORDER BY cnt DESC, token) AS INTEGER) AS rank,
        |    round(cnt/sum(cnt) OVER (PARTITION BY g), 6) AS share FROM c)
        |SELECT g AS list_id, rank, token, cnt, share FROM r WHERE rank <= 5
        |ORDER BY list_id, rank""".stripMargin),
    // q335: index-fed decontamination must reproduce the inline q167
    // exactly (same seeded-from-train codebook, same routing, same
    // rounded-cosine threshold) — oracle shared verbatim.
    Query("q335_semantic_decontam_index", semanticDecontamIndexQ, semanticDecontamOracle),
    // q167: replays the exact seeded-IVF routing (train-side codebook
    // by md5 hash order, corpus→1 list, bench→4 lists) and thresholds
    // on the ROUNDED cosine; per-train hit count and the
    // (cosine DESC, bench_id) best-match tie-break mirror the two
    // window functions.
    Query("q167_semantic_decontam", semanticDecontamQ, semanticDecontamOracle),
    // q160: the derived rank-4 corpus and its seeded-tier ppm error
    // are replayed exactly (fixed integer loadings, q99's codebook
    // chain); the corpus fingerprint proves both engines scored the
    // same vectors; learned/OPQ tiers enter as asserted booleans.
    Query("q160_opq_gain", opqGainQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |wt AS (SELECT vec_id,
        |    [v[1]*CAST((d*3) % 7 - 3 AS DOUBLE)
        |     + v[2]*CAST((d*4+1) % 7 - 3 AS DOUBLE)
        |     + v[3]*CAST((d*5+2) % 7 - 3 AS DOUBLE)
        |     + v[4]*CAST((d*6+3) % 7 - 3 AS DOUBLE)
        |     + 0.01e0*v[d+1]
        |     FOR d IN generate_series(0, 63)] AS w
        |  FROM e),
        |u AS (SELECT vec_id, gs.i - 1 AS dim,
        |    CAST(round(w[gs.i]*1e6) AS BIGINT) AS q
        |  FROM wt, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) gs),
        |fp AS (SELECT bit_xor(${md5l(
             "concat(CAST(vec_id AS VARCHAR), ':', CAST(dim AS VARCHAR), ':', CAST(q AS VARCHAR))")})
        |    AS corpus_fp FROM u),
        |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        |sub AS (SELECT vec_id, m, w[m*8+1 : m*8+8] AS s FROM wt, ms),
        |cb AS (SELECT m, code_id, s AS c FROM (
        |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
        |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
        |        vec_id) - 1 AS code_id
        |    FROM sub) WHERE code_id < 16),
        |mind AS (SELECT vec_id, m, min(d2) AS d2min FROM (
        |    SELECT sub.vec_id, sub.m,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m)) GROUP BY 1, 2),
        |err AS (SELECT CAST(sum(d2min) AS BIGINT) AS seeded_err_ppm FROM mind)
        |SELECT (SELECT count(*) FROM e) AS n_vecs, fp.corpus_fp,
        |  err.seeded_err_ppm,
        |  true AS learned_le_seeded, true AS opq_halves_learned
        |FROM fp CROSS JOIN err""".stripMargin),
    // q159: the seeded-PQ tier is replayed exactly (q99's chain at
    // probes<50, k=5) against the exact cosine top-5; the learned
    // tiers (driver-side Lloyd, not SQL-expressible) enter as the
    // asserted booleans learned >= seeded — Spark computes the real
    // comparison, so a Lloyd regression flips the hash red.
    Query("q159_ann_recall_learned", annRecallLearnedQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM e, ms),
        |cb AS (SELECT m, code_id, s AS c FROM (
        |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
        |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
        |        vec_id) - 1 AS code_id
        |    FROM sub) WHERE code_id < 16),
        |enc AS (SELECT vec_id AS neighbor_id, m, code_id FROM (
        |    SELECT sub.vec_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m))
        |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
        |      ORDER BY d2, code_id) = 1),
        |pt AS (SELECT sub.vec_id AS query_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m) WHERE sub.vec_id < 50),
        |adc AS (SELECT query_id, neighbor_id, CAST(sum(d2) AS BIGINT) AS sd
        |    FROM enc JOIN pt USING (m, code_id)
        |    WHERE neighbor_id <> query_id GROUP BY 1, 2),
        |sl AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sd, neighbor_id) AS rank FROM adc)
        |  WHERE rank <= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
        |          c.vec_id) AS rank
        |    FROM e q, e c WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |  WHERE rank <= 5),
        |h AS (SELECT count(*) AS seeded_hits
        |      FROM sl JOIN ex USING (query_id, neighbor_id)),
        |tot AS (SELECT count(*) AS total FROM ex)
        |SELECT tot.total, h.seeded_hits,
        |  ROUND(CAST(h.seeded_hits AS DOUBLE) / tot.total, 6) AS seeded_recall,
        |  true AS pq_learned_ge_seeded, true AS ivfpq_learned_ge_seeded
        |FROM tot CROSS JOIN h""".stripMargin),
    // q149: conditional sums over the FIXED-POINT coordinates (q =
    // round(x*1e6), matching Pca.quantize) — exact integers, so only
    // the final reconstruction is float, with the Spark side's exact
    // association: mean = Σq/1e6/n, var = Σq²/1e12/n - mean·mean.
    Query("q149_dim_drift", dimDriftQ,
      """WITH t AS (SELECT CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS h,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT h, CAST(gs.i - 1 AS INTEGER) AS dim,
        |    CAST(round(v[gs.i]*1e6) AS BIGINT) AS q
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) gs)
        |SELECT dim,
        |  round(CAST(sum(CASE WHEN h=0 THEN q END) AS DOUBLE)/1e6
        |    /count(CASE WHEN h=0 THEN q END), 6) AS mean_a,
        |  round(CAST(sum(CASE WHEN h=1 THEN q END) AS DOUBLE)/1e6
        |    /count(CASE WHEN h=1 THEN q END), 6) AS mean_b,
        |  round(CAST(sum(CASE WHEN h=0 THEN q*q END) AS DOUBLE)/1e12
        |      /count(CASE WHEN h=0 THEN q END)
        |    - CAST(sum(CASE WHEN h=0 THEN q END) AS DOUBLE)/1e6
        |      /count(CASE WHEN h=0 THEN q END)
        |      * (CAST(sum(CASE WHEN h=0 THEN q END) AS DOUBLE)/1e6
        |        /count(CASE WHEN h=0 THEN q END)), 6) AS var_a,
        |  round(CAST(sum(CASE WHEN h=1 THEN q*q END) AS DOUBLE)/1e12
        |      /count(CASE WHEN h=1 THEN q END)
        |    - CAST(sum(CASE WHEN h=1 THEN q END) AS DOUBLE)/1e6
        |      /count(CASE WHEN h=1 THEN q END)
        |      * (CAST(sum(CASE WHEN h=1 THEN q END) AS DOUBLE)/1e6
        |        /count(CASE WHEN h=1 THEN q END)), 6) AS var_b,
        |  round(abs(CAST(sum(CASE WHEN h=0 THEN q END) AS DOUBLE)/1e6
        |      /count(CASE WHEN h=0 THEN q END)
        |    - CAST(sum(CASE WHEN h=1 THEN q END) AS DOUBLE)/1e6
        |      /count(CASE WHEN h=1 THEN q END)), 6) AS mean_shift
        |FROM u GROUP BY dim ORDER BY dim""".stripMargin),
    // q148: definitional covariance over the FIXED-POINT coordinates
    // (q = round(x*1e6) as BIGINT, matching Pca.quantize): integer
    // sums are exact and order-invariant on both engines, so the one
    // float reconstruction — (Σqq/1e12 - Σq/1e6·(Σq/1e6)/n)/n, the
    // SAME association covCell uses — is bit-identical, not merely
    // close (the CLAUDE.md order-invariance invariant; double partial
    // sums here flipped a 6-dp boundary in round 6).
    Query("q148_embedding_cov", embeddingCovQ,
      """WITH e AS (SELECT row_number() OVER () AS rid,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT rid, gs.i AS d, CAST(round(v[gs.i]*1e6) AS BIGINT) AS q
        |  FROM e,
        |  LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) gs)
        |SELECT CAST(a.d - 1 AS INTEGER) AS dim_i,
        |  CAST(b.d - 1 AS INTEGER) AS dim_j,
        |  round((CAST(sum(a.q*b.q) AS DOUBLE)/1e12
        |    - CAST(sum(a.q) AS DOUBLE)/1e6*(CAST(sum(b.q) AS DOUBLE)/1e6)
        |      /count(*))/count(*), 6) + 0e0 AS cov
        |FROM u a JOIN u b ON a.rid = b.rid AND b.d >= a.d
        |GROUP BY 1, 2 ORDER BY dim_i, dim_j""".stripMargin),
    // q147: definitional quadratic kNN + vote — rank on the ROUNDED
    // cosine (q24's convention), majority with (count DESC, label)
    // tie-break, both deterministic cross-engine.
    Query("q147_knn_label_noise", knnLabelNoiseQ,
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
        |    CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |c AS (SELECT vec_id AS neighbor_id, label AS n_label,
        |    CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |s AS (SELECT query_id, q_label, neighbor_id, n_label,
        |    ROUND(list_cosine_similarity(qe, ce), 6) AS cos
        |  FROM q, c WHERE neighbor_id <> query_id),
        |r AS (SELECT query_id, q_label, n_label,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank FROM s),
        |v AS (SELECT query_id, q_label, n_label, count(*) AS n_votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |w AS (SELECT query_id, q_label, n_label, n_votes,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_votes DESC, n_label) AS vr FROM v)
        |SELECT query_id AS vec_id, q_label AS label, n_label AS knn_label,
        |  n_votes, CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS agree
        |FROM w WHERE vr = 1 ORDER BY vec_id""".stripMargin),
    // q129: q102's ADC chain + q126's rerank + q24's exact top-k,
    // composed into one recall report — every tier's result set is the
    // SAME CTE shape its own oracle uses, so a hash match here means
    // the recall numbers, not just the rankings, agree cross-engine.
    Query("q129_ann_recall", annRecallQ,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ccb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS cc
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id LIMIT 8)),
        |ca AS (SELECT e.vec_id, e.v, ccb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, ccb.cc), 6) DESC,
        |             ccb.list_id) AS crank
        |       FROM e CROSS JOIN ccb),
        |corpus AS (SELECT vec_id AS neighbor_id, list_id FROM ca WHERE crank = 1),
        |pl AS (SELECT vec_id AS query_id, list_id
        |       FROM ca WHERE crank <= 4 AND vec_id < 10),
        |cand AS (SELECT p.query_id, c.neighbor_id
        |         FROM pl p JOIN corpus c USING (list_id)
        |         WHERE c.neighbor_id <> p.query_id),
        |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM e, ms),
        |cb AS (SELECT m, code_id, s AS c FROM (
        |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
        |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
        |        vec_id) - 1 AS code_id
        |    FROM sub) WHERE code_id < 16),
        |enc AS (SELECT vec_id AS neighbor_id, m, code_id FROM (
        |    SELECT sub.vec_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m))
        |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
        |      ORDER BY d2, code_id) = 1),
        |pt AS (SELECT sub.vec_id AS query_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m) WHERE sub.vec_id < 10),
        |adc AS (SELECT cd.query_id, cd.neighbor_id, CAST(sum(pt.d2) AS BIGINT) AS sd
        |    FROM cand cd
        |    JOIN enc ON enc.neighbor_id = cd.neighbor_id
        |    JOIN pt ON pt.query_id = cd.query_id AND pt.m = enc.m
        |           AND pt.code_id = enc.code_id
        |    GROUP BY 1, 2),
        |pq AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sd, neighbor_id) AS rank
        |      FROM adc),
        |sl AS (SELECT query_id, neighbor_id FROM pq WHERE rank <= 12),
        |rr AS (SELECT sl.query_id, sl.neighbor_id,
        |        row_number() OVER (PARTITION BY sl.query_id
        |          ORDER BY ROUND(list_cosine_similarity(eq.v, en.v), 6) DESC,
        |            sl.neighbor_id) AS rank
        |      FROM sl JOIN e eq ON eq.vec_id = sl.query_id
        |              JOIN e en ON en.vec_id = sl.neighbor_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
        |          c.vec_id) AS rank
        |    FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rank <= 3),
        |mm AS (SELECT 'ivfpq_adc' AS method, query_id, neighbor_id
        |         FROM pq WHERE rank <= 3
        |       UNION ALL
        |       SELECT 'ivfpq_rerank', query_id, neighbor_id
        |         FROM rr WHERE rank <= 3),
        |h AS (SELECT method, count(*) AS hits FROM mm
        |      JOIN ex USING (query_id, neighbor_id) GROUP BY method),
        |tot AS (SELECT count(*) AS total FROM ex)
        |SELECT names.method, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  tot.total,
        |  ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / tot.total, 6) AS recall
        |FROM (SELECT unnest(['ivfpq_adc', 'ivfpq_rerank']) AS method) names
        |LEFT JOIN h ON h.method = names.method
        |CROSS JOIN tot
        |ORDER BY names.method""".stripMargin),
    Query("q124_negative_samples", negSamplesQ,
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |d AS (SELECT e.vec_id AS anchor_id, gs.i AS sample_idx,
        |        ${md5l("concat(CAST(e.vec_id AS VARCHAR), ':', CAST(gs.i AS VARCHAR), ':neg')")} % nn.n AS draw
        |      FROM embeddings e, nn,
        |        LATERAL (SELECT unnest(generate_series(0, 3)) AS i) gs),
        |s AS (SELECT anchor_id, sample_idx,
        |        CASE WHEN draw = anchor_id
        |             THEN (draw + 1) % (SELECT n FROM nn) ELSE draw END AS neg_id
        |      FROM d)
        |SELECT anchor_id, CAST(sample_idx AS INTEGER) AS sample_idx, neg_id,
        |  e2.label AS neg_label
        |FROM s JOIN embeddings e2 ON e2.vec_id = s.neg_id
        |ORDER BY anchor_id, sample_idx""".stripMargin),
    Query("q122_embedding_diversity", diversityQ,
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT label, count(*) AS n,
        |        avg(list_dot_product(v, v)) AS s FROM e GROUP BY label),
        |dm AS (SELECT label, gs.d AS dim, avg(v[gs.d]) AS m
        |       FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS d) gs
        |       GROUP BY label, gs.d),
        |m2 AS (SELECT label, sum(m * m) AS m2 FROM dm GROUP BY label)
        |SELECT label, n, ROUND(2.0e0 * (s - m2), 6) AS mean_sq_dist
        |FROM n JOIN m2 USING (label) ORDER BY label""".stripMargin),
    Query("q123_centroid_affinity", affinityQ,
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dm AS (SELECT label, gs.d AS dim, ROUND(avg(v[gs.d]), 6) AS m
        |       FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS d) gs
        |       GROUP BY label, gs.d),
        |c AS (SELECT label, list(m ORDER BY dim) AS c FROM dm GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  ROUND(list_cosine_similarity(a.c, b.c), 6) AS cosine
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin),
    Query("q102_ann_ivf_pq", annIvfPq, ivfPqSeededOracle),
    // q131 shares q102's oracle VERBATIM: the persisted index must
    // return exactly what the inline operator returns — the hash match
    // proves the store/encode/prune/read path, not just the algebra.
    Query("q131_ann_index", annIndexQ, ivfPqSeededOracle),
    Query("q126_ann_ivfpq_rerank", annIvfPqRerank,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ccb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS cc
        |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
        |             FROM e ORDER BY h, vec_id LIMIT 8)),
        |ca AS (SELECT e.vec_id, e.v, ccb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, ccb.cc), 6) DESC,
        |             ccb.list_id) AS crank
        |       FROM e CROSS JOIN ccb),
        |corpus AS (SELECT vec_id AS neighbor_id, list_id FROM ca WHERE crank = 1),
        |pl AS (SELECT vec_id AS query_id, list_id
        |       FROM ca WHERE crank <= 4 AND vec_id < 10),
        |cand AS (SELECT p.query_id, c.neighbor_id
        |         FROM pl p JOIN corpus c USING (list_id)
        |         WHERE c.neighbor_id <> p.query_id),
        |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM e, ms),
        |cb AS (SELECT m, code_id, s AS c FROM (
        |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
        |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
        |        vec_id) - 1 AS code_id
        |    FROM sub) WHERE code_id < 16),
        |enc AS (SELECT vec_id AS neighbor_id, m, code_id FROM (
        |    SELECT sub.vec_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m))
        |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
        |      ORDER BY d2, code_id) = 1),
        |pt AS (SELECT sub.vec_id AS query_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m) WHERE sub.vec_id < 10),
        |adc AS (SELECT cd.query_id, cd.neighbor_id, CAST(sum(pt.d2) AS BIGINT) AS sd
        |    FROM cand cd
        |    JOIN enc ON enc.neighbor_id = cd.neighbor_id
        |    JOIN pt ON pt.query_id = cd.query_id AND pt.m = enc.m
        |           AND pt.code_id = enc.code_id
        |    GROUP BY 1, 2),
        |sl AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sd, neighbor_id) AS prank
        |    FROM adc) WHERE prank <= 12)
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT sl.query_id, sl.neighbor_id,
        |    ROUND(list_cosine_similarity(eq.v, en.v), 6) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY sl.query_id
        |        ORDER BY ROUND(list_cosine_similarity(eq.v, en.v), 6) DESC,
        |          sl.neighbor_id) AS INTEGER) AS rank
        |  FROM sl JOIN e eq ON eq.vec_id = sl.query_id
        |          JOIN e en ON en.vec_id = sl.neighbor_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    Query("q99_ann_pq", annPq,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM e, ms),
        |cb AS (SELECT m, code_id, s AS c FROM (
        |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
        |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
        |        vec_id) - 1 AS code_id
        |    FROM sub) WHERE code_id < 16),
        |enc AS (SELECT vec_id AS neighbor_id, m, code_id FROM (
        |    SELECT sub.vec_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m))
        |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
        |      ORDER BY d2, code_id) = 1),
        |pt AS (SELECT sub.vec_id AS query_id, sub.m, cb.code_id,
        |      CAST(floor(list_aggregate(
        |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
        |           FOR i IN generate_series(1, 8)], 'sum')
        |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
        |    FROM sub JOIN cb USING (m) WHERE sub.vec_id < 10),
        |adc AS (SELECT query_id, neighbor_id, CAST(sum(d2) AS BIGINT) AS sd
        |    FROM enc JOIN pt USING (m, code_id)
        |    WHERE neighbor_id <> query_id GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id,
        |  ROUND(CAST(sd AS DOUBLE) / 1000000e0, 6) AS approx_d2
        |FROM (SELECT query_id, neighbor_id, sd,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY sd, neighbor_id) AS INTEGER) AS rank
        |      FROM adc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Query("q40_ann_ivf", annIvf,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS c
        |       FROM (SELECT vec_id, v,
        |               CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |             FROM e ORDER BY h, vec_id LIMIT 8)),
        |ca AS (SELECT e.vec_id, e.v, cb.list_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY ROUND(list_cosine_similarity(e.v, cb.c), 6) DESC, cb.list_id)
        |           AS crank
        |       FROM e CROSS JOIN cb),
        |corpus AS (SELECT vec_id AS neighbor_id, v, list_id FROM ca WHERE crank = 1),
        |probes AS (SELECT vec_id AS query_id, v AS q, list_id
        |           FROM ca WHERE crank <= 4 AND vec_id < 10),
        |cand AS (SELECT p.query_id, c.neighbor_id,
        |           ROUND(list_cosine_similarity(p.q, c.v), 6) AS cos
        |         FROM probes p JOIN corpus c USING (list_id)
        |         WHERE c.neighbor_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |             AS INTEGER) AS rank
        |      FROM cand)
        |SELECT query_id, rank, neighbor_id, cos AS cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    Query("q66_embedding_norms", embeddingNorms,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e)
        |SELECT vec_id,
        |  ROUND(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')), 6)
        |    AS l2_norm,
        |  ROUND(max_abs, 6) AS max_abs,
        |  CASE WHEN max_abs = 0 THEN 0.0 ELSE
        |    ROUND(list_aggregate(list_transform(v,
        |        x -> pow(x - ROUND(x * 127 / max_abs) * max_abs / 127, 2)), 'sum')
        |      / len(v), 6) END AS int8_mse
        |FROM m ORDER BY vec_id""".stripMargin),
    Query("q26_ann_lsh", annLsh, annLshOracle),
    Query("q80_quantize_int8", quantizeQ,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e)
        |SELECT vec_id, CAST(gs.i - 1 AS INTEGER) AS dim,
        |  CAST(CASE WHEN max_abs = 0 THEN 0
        |       ELSE round(v[gs.i] * 127 / max_abs) END AS INTEGER) AS q,
        |  ROUND(max_abs, 6) AS max_abs
        |FROM m, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) gs
        |ORDER BY vec_id, dim""".stripMargin),
    Query("q58_lang_centroids", langCentroids,
      """SELECT d.lang, CAST(gs.dim - 1 AS INTEGER) AS dim,
        |  count(*) AS n_docs,
        |  ROUND(AVG(CAST(e.embedding[gs.dim] AS DOUBLE)), 6) AS centroid_v
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id,
        |  LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS dim) gs
        |GROUP BY d.lang, gs.dim ORDER BY d.lang, dim""".stripMargin),
    Query("q24_ann_topk", annTopK,
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, ROUND(list_cosine_similarity(qe, ce), 6) AS cos
        |      FROM q, c WHERE neighbor_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |             AS INTEGER) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, cos AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Query("q27_centroids", centroids,
      """SELECT label, CAST(gs.dim - 1 AS INTEGER) AS dim,
        |  ROUND(AVG(CAST(embedding[gs.dim] AS DOUBLE)), 6) AS centroid_v
        |FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim) gs
        |GROUP BY label, gs.dim ORDER BY label, dim""".stripMargin),
    // q286: DuckDB replays the binary-quantize pipeline closed-form —
    // identical sign-bit word packing (Σ 2^i, 32-bit words: exact in
    // both engines), xor/bit_count Hamming, shortlist-50 on
    // (hamming, neighbor_id), exact-cosine rerank on (cos DESC,
    // neighbor_id). `w` feeds both join sides -> AS MATERIALIZED.
    Query("q286_binary_hamming", binaryHammingQ,
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |w AS MATERIALIZED (
        |  SELECT vec_id, gs.wi,
        |    CAST(SUM(CASE WHEN v[gs.wi * 32 + gi.i + 1] > 0
        |      THEN (1::BIGINT << gi.i) ELSE 0 END) AS BIGINT) AS word
        |  FROM e,
        |    LATERAL (SELECT unnest(generate_series(0, (len(v) - 1) // 32)) AS wi) gs,
        |    LATERAL (SELECT unnest(generate_series(0, 31)) AS i) gi
        |  WHERE gs.wi * 32 + gi.i < len(v)
        |  GROUP BY vec_id, gs.wi),
        |h AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(SUM(bit_count(xor(a.word, b.word))) AS INTEGER) AS hamming
        |  FROM w a JOIN w b ON a.wi = b.wi
        |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |s AS (SELECT query_id, neighbor_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS srk
        |  FROM h),
        |r AS (SELECT s.query_id, s.neighbor_id, s.hamming,
        |    ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cos
        |  FROM s JOIN e eq ON eq.vec_id = s.query_id
        |         JOIN e ec ON ec.vec_id = s.neighbor_id
        |  WHERE s.srk <= 50),
        |f AS (SELECT query_id, neighbor_id, hamming, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM r)
        |SELECT query_id, rank, neighbor_id, hamming, cos AS cosine
        |FROM f WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // q289: the chunk vectors rebuild closed-form (`list(... ORDER BY
    // i)` — 0.25-step reweights are exact binary fractions, so the
    // doubles are bit-identical to Spark's transform), cosines
    // quantize to ppm longs, max-then-sum is exact integer. `d`
    // feeds one join but 4 chunk rows per vec -> MATERIALIZED anyway.
    Query("q289_maxsim", maxSimQ,
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT vec_id AS doc_id, gc.c AS d_chunk,
        |    list(v[gi.i + 1] * (1e0 + 0.25e0 * ((gi.i * 7 + gc.c * 13) % 5 - 2))
        |      ORDER BY gi.i) AS d_vec
        |  FROM e,
        |    LATERAL (SELECT unnest(generate_series(0, 3)) AS c) gc,
        |    LATERAL (SELECT unnest(generate_series(0, len(v) - 1)) AS i) gi
        |  GROUP BY 1, 2),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, gc.c AS q_chunk,
        |    list(v[gi.i + 1] * (1e0 + 0.25e0 * ((gi.i * 3 + gc.c * 17) % 5 - 2))
        |      ORDER BY gi.i) AS q_vec
        |  FROM e,
        |    LATERAL (SELECT unnest(generate_series(0, 3)) AS c) gc,
        |    LATERAL (SELECT unnest(generate_series(0, len(v) - 1)) AS i) gi
        |  WHERE vec_id < 10
        |  GROUP BY 1, 2),
        |s AS (SELECT q.query_id, d.doc_id, q.q_chunk,
        |    max(CAST(round(list_cosine_similarity(q.q_vec, d.d_vec) * 1e6)
        |      AS BIGINT)) AS mx
        |  FROM q, d WHERE d.doc_id <> q.query_id
        |  GROUP BY 1, 2, 3),
        |m AS (SELECT query_id, doc_id,
        |    CAST(SUM(mx) AS BIGINT) AS maxsim_ppm
        |  FROM s GROUP BY 1, 2),
        |f2 AS (SELECT query_id, doc_id, maxsim_ppm,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY maxsim_ppm DESC, doc_id) AS INTEGER) AS rank
        |  FROM m)
        |SELECT query_id, rank, doc_id, maxsim_ppm
        |FROM f2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  val queries: Map[String, Q] = Query.builds(all)

  val oracleSql: Map[String, String] = Query.oracles(all)
}
