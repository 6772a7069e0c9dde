package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators._

/** Empirical scale-up probe: runs the flagship operator families on
  * synthetically multiplied copies of the sf0.1 tables (ids offset per
  * replica so cardinalities actually grow) and reports wall time per
  * scale. The point is the GROWTH CURVE, not the absolute numbers — a
  * plan that is per-key-bounded and shuffle-lean grows ~linearly in
  * rows; anything super-linear here would break first on a real
  * cluster at 100 TB.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=16 \
  *   sbt "runMain graft.ScaleProbe 1 4 16"
  * Prints one line per (op, mult) plus a per-op growth summary.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    // replicate a table xN with disjoint id spaces (text/vec content
    // reused — fine for timing: dedup keys, shingles, and embeddings
    // keep realistic collision structure inside each replica)
    def rep(df: DataFrame, idCols: Seq[String], n: Int): DataFrame = {
      val step = 10000000L
      (0 until n).map { r =>
        idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(r * step)))
      }.reduce(_ unionAll _).localCheckpoint()
    }

    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val docs0 = Tables.documents(spark, sfDir).localCheckpoint()
    val emb0 = Tables.embeddings(spark, sfDir).localCheckpoint()
    val ev0 = Tables.events(spark, sfDir).localCheckpoint()
    val cust0 = Tables.customer(spark, sfDir).localCheckpoint()

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Double)]
    val baseIds = spark.sparkContext.getPersistentRDDs.keySet
    // SPARK_GRAFT_OPS=knn_triangles,pmi_colloc restricts the probe
    // (targeted curve refresh without re-measuring every family)
    val only = sys.env.get("SPARK_GRAFT_OPS")
      .map(_.split(",").map(_.trim).toSet)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    for (m <- mults) {
      val docs = rep(docs0, Seq("doc_id"), m)
      val emb = rep(emb0, Seq("vec_id"), m)
      val ev = rep(ev0, Seq("event_id", "user_id"), m)
      val probes = emb0.filter(col("vec_id") < 10).localCheckpoint()
      // warm the replicas (checkpoint materialization off the clock)
      Seq(docs, emb, ev).foreach(_.count())
      // replica embeddings perturbed per id (the semdedup note below):
      // exact xm copies of every point would all route to one list and
      // measure the duplication artifact, not the index's scaling
      val embPerturbed = emb
        .withColumn("_eps",
          pmod(col("vec_id"), lit(977L)).cast("float") * lit(1e-5f))
        .withColumn("embedding",
          transform(col("embedding"), x => x + col("_eps")))
        .drop("_eps")
      // persisted stores: built OUTSIDE the timed window (the
      // amortizable cost has its own bench entries — q161/q131); the
      // curve measures the QUERY path, where (batch, list_id)
      // partition pruning / token-bucket pruning must hold latency
      // near-flat while enc/postings grow with the corpus. The ANN
      // enc is ceil(sqrt(N)) list partitions of sqrt(N) rows each and
      // queries probe a FIXED nprobe of them, so the expected law is
      // ~sqrt(N) per query, not linear.
      val storeTmp = java.nio.file.Files
        .createTempDirectory(s"graft_scale_stores_x$m")
      val annPath = storeTmp.resolve("ann").toString
      val textPath = storeTmp.resolve("text").toString
      if (only.forall(_.contains("ann_index_query")))
        AnnIndex.build(embPerturbed, annPath, dim = 64,
          nlists = Similarity.autoNlists(emb))
      if (only.forall(_.contains("text_index_query")))
        TextIndex.appendBatch(docs, "doc_id", "text", textPath,
          batchId = 0L, withPositions = false)
      // round-13: the q332 key-sketch stores, built untimed for the
      // readout probe (user_id repeats per replica block, event_id is
      // unique — a realistic skewed⋈unique join-size question)
      val jssA = storeTmp.resolve("jss_a").toString
      val jssB = storeTmp.resolve("jss_b").toString
      if (only.forall(_.contains("join_size_readout"))) {
        val keySketch = graft.streaming.StreamingPower.countMin
        keySketch.append(spark, jssA, 0L)(graft.streaming.StreamingPower
          .keySketchRows(ev, "user_id", width = 65536))
        keySketch.append(spark, jssB, 0L)(graft.streaming.StreamingPower
          .keySketchRows(ev, "event_id", width = 65536))
      }
      val textQueries = docs0.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext"))
        .localCheckpoint()
      val inputIds = spark.sparkContext.getPersistentRDDs.keySet

      val ops: Seq[(String, () => DataFrame)] = Seq(
        "exact_dedup" -> (() =>
          Dedup.exactDedup(docs, "text", "doc_id")),
        "minhash_lsh" -> (() =>
          Dedup.minhashLshPairs(docs, "doc_id", "text")),
        "cc_clusters" -> (() => Dedup.connectedComponentsAuto(
          Dedup.minhashLshPairs(docs, "doc_id", "text")
            .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")),
        "ivfpq_query" -> (() =>
          Similarity.ivfPqTopKSeeded(emb, probes, k = 5, dim = 64)),
        "bm25_topk" -> (() => TextAnalysis.bm25TopK(
          docs, "doc_id", "text",
          docs0.filter(col("doc_id") % 50 === 0)
            .select(col("doc_id").as("query_id"),
              concat_ws(" ", slice(split(col("text"), " "), 1, 6))
                .as("qtext")),
          "query_id", "qtext", k = 10)),
        "resample_grid" -> (() => Resample.resample(
          ev, "user_id", "ts", "value", stepSeconds = 3600L)),
        "dsir_sample" -> (() => Sampling.importanceResample(
          docs.withColumn("tgt",
            when(col("source").isin("src0", "src1"), 1).otherwise(0)),
          "doc_id", "text", "tgt", n = 100)),
        // round-8 continuation families: the ⌈√N⌉-routed kNN graph ops
        // ((N/nlists)² pair work — expected ~linear in N), the
        // k-round driver-greedy coreset (k corpus passes — linear),
        // and the drift index (two aggregates — overhead-dominated)
        "knn_pagerank" -> (() => Similarity.knnPagerank(
          emb, k = 5, nlists = Similarity.autoNlists(emb))),
        "density_dbscan" -> (() => Similarity.densityClusters(
          emb, nlists = Similarity.autoNlists(emb))),
        "fp_coreset" -> (() =>
          Similarity.farthestPointCoreset(emb, k = 8)),
        // round-11: the k-means‖-style oversampled form — rounds+1 = 3
        // corpus passes regardless of k (vs k above); the curve should
        // show the same ~linear growth at a ~k/(rounds+1) lower level
        "fp_coreset_oversampled" -> (() =>
          Similarity.coresetOversampled(emb, k = 8)),
        "psi_drift" -> (() => StatTests.psi(
          ev, "value", "event_type", "click", "view",
          lo = 0.0, hi = 500.0)),
        // third-session families: wedge-join triangles ((2k)²·N/2
        // candidate wedges — ~linear in N at fixed k), broadcast-vocab
        // PMI (pair work ≤ min(d,V)² per doc), the per-key EWMA
        // recurrence (one shuffle + per-key fold), and Spearman (two
        // single-partition rank windows — the documented global-sort
        // cost, expected ~n log n)
        "knn_triangles" -> (() => Similarity.knnTriangles(
          emb, k = 5, nlists = Similarity.autoNlists(emb))),
        "pmi_colloc" -> (() => TextAnalysis.pmiCollocations(
          docs, "doc_id", "text", topV = 100, minPairDf = 5L)),
        "ewma" -> (() => Resample.ewma(ev, "user_id", "ts", "value")),
        // rank eval: one hash aggregate to (group, distinct value)
        // granularity then a window over distinct scores per group —
        // expected ~linear in rows (distinct values grow with N here)
        "mann_whitney_auc" -> (() => StatTests.mannWhitneyAuc(
          ev.filter(col("ts").isNotNull && col("value").isNotNull)
            .select(graft.engine.TimeFeatures.dayOfWeek0Sun(col("ts"))
              .as("dow"), col("value"), col("event_type")),
          "dow", "value", col("event_type") === "purchase")),
        // (weighted minhash is deliberately NOT probed: the replica
        // trick reuses text, so every doc becomes an m-way exact dup
        // and the pair stage measures a duplicate flood, not scaling —
        // the same reason the other content-dedup ops are absent here)
        // distributed-prefix-sum global rank: one range shuffle +
        // parallel local windows; only the per-partition totals table
        // is single-partition — expected ~linear (sort-bound)
        "gains_table" -> (() => StatTests.gainsTable(
          ev.filter(col("value").isNotNull),
          "event_id", "value", col("event_type") === "purchase")),
        // two BM25 scoring passes + feedback mining over ONE shared
        // tokenize/df build — expected ~2x the single-pass text query
        // curve (linear in corpus, the documented honest limit)
        "rm3_expansion" -> (() => {
          // probes from the UNreplicated base (docs0): the curve
          // measures corpus growth at a FIXED query load
          val probes = docs0
            .filter(col("source") === "src0" && col("doc_id") % 50 === 0)
            .select(col("doc_id").as("query_id"),
              concat_ws(" ", slice(split(col("text"), " "), 1, 6))
                .as("qtext"))
          TextAnalysis.rm3ExpandedTopK(
            docs.filter(col("source") =!= "src0").select("doc_id", "text"),
            "doc_id", "text", probes, "query_id", "qtext",
            k = 10, fbDocs = 5, fbTerms = 8)
        }),
        "spearman" -> (() => StatTests.spearman(
          docs.select(col("n_chars"),
            size(split(col("text"), " ")).as("nt")), "n_chars", "nt")),
        // JL certification (q320): id-keyed (consecutive-id pairs via
        // ONE equi-join), per-pair work a fixed dim·k_max add chain —
        // expected linear-in-rows, scan-shaped. Uses the perturbed
        // replicas so replica pairs aren't all-zero-distance rows.
        "jl_distortion" -> (() => Pca.jlDistortionReport(
          embPerturbed, "vec_id", "embedding", dim = 64)),
        // temporal split (q325's rank half): ONE range shuffle +
        // parallel local windows; the only single-partition window
        // sees |shuffle partitions| rows regardless of N — expected
        // ~linear, the gains_table law
        "temporal_split" -> (() => Sampling.temporalSplit(
          docs.select("doc_id"), "doc_id", "doc_id")),
        // graph-family completion: fixed-point peeling (rounds bounded
        // by peel depth, each round one semi-join + degree aggregate)
        // and the endpoint-degree correlation (two joins over 2|E|)
        "knn_kcore" -> (() => Similarity.knnKCore(
          emb, k = 5, nlists = Similarity.autoNlists(emb), coreK = 6)),
        "assortativity" -> (() => Similarity.knnAssortativity(
          emb, k = 5, nlists = Similarity.autoNlists(emb))),
        // round-9 families: modularity (two edge⋈part joins + one
        // per-part aggregate over the same kNN graph — ~linear), the
        // coupled Holt recurrence (one shuffle + per-key fold, the
        // ewma shape), and the conformal report (rank windows over
        // per-group calibration rows — ~n log n inside groups)
        "modularity" -> (() => Similarity.listModularity(
          emb, k = 5, nlists = Similarity.autoNlists(emb))),
        "holt" -> (() => Resample.holt(ev, "user_id", "ts", "value")),
        "conformal" -> (() => Sampling.conformalOutlierReport(
          ev, "event_id", "event_type", "value")),
        // round-10 decade-further checks: SemDeDup's ⌈√N⌉ sizing does
        // N^1.5 TOTAL pair work by design — ×256 input is ×4096 pair
        // mass, the law this row exists to measure (the strictly-linear
        // alternative, nlists = N/targetClusterSize, is documented on
        // `semanticDedup`). Replica embeddings are PERTURBED per id
        // (+(vec_id % 977)·1e-5 on every component): exact ×m copies
        // of every point would all land in one list and measure the
        // duplication artifact, not the sizing law. The composed
        // funnel (q132's clean → exact-dedup → canonical aggregate) is
        // projections + one digest-keyed shuffle — expected ~linear.
        "semdedup" -> (() => Similarity.semanticDedup(
          emb.withColumn("_eps",
              pmod(col("vec_id"), lit(977L)).cast("float") * lit(1e-5f))
            .withColumn("embedding",
              transform(col("embedding"), x => x + col("_eps")))
            .drop("_eps"),
          threshold = 0.75)),
        // round-10 families: binary-Hamming ANN (packed-word scan +
        // probe-bounded shortlist — linear), MaxSim late interaction
        // (4N×40 integer-quantized cosines, two hash aggregates —
        // linear), the dHash stage of image near-dup (per-row PNG
        // encode+decode+pack; pair volume is duplicate-structure-
        // dependent like every LSH so only the hash stage is curved),
        // and FS linkage (nationkey offset PER REPLICA so the blocking
        // key's cardinality grows with the data, as it must at scale —
        // fixed-cardinality blocking keys are the known quadratic trap)
        "binary_hamming" -> (() =>
          Similarity.binaryHammingTopK(emb, probes, k = 5, shortlist = 50)),
        "maxsim" -> (() => Retrieval.maxSimTopK(emb, probes, k = 5)),
        "image_phash_hash" -> (() => Multimodal.dHash(
          Multimodal.withPatternedImagePayload(docs)).toDF()),
        "record_linkage" -> (() => {
          val cust = rep(cust0, Seq("c_custkey", "c_nationkey"), m)
          Linkage.fellegiSunterPatterns(cust, Linkage.crmSnapshot(cust))
        }),
        "pipeline_funnel" -> (() => {
          val clean = TextAnalysis.cleanCorpus(docs, "doc_id", "text")
          val kept = docs.select("doc_id", "source", "text").join(
            clean.filter(col("keep") === 1)
              .select("doc_id", "n_tokens"), Seq("doc_id"))
            .localCheckpoint()
          val canonIds = Dedup.exactDedup(
            kept.withColumn("text_key", md5(col("text"))),
            "text_key", "doc_id")
            .select("doc_id")
          kept.join(canonIds, Seq("doc_id"))
            .groupBy("source")
            .agg(count(lit(1)).as("docs_canonical"),
              sum(col("n_tokens").cast("long")).as("tokens_canonical"))
        }),
        // round-11: PERSISTED-store query curves (builds untimed,
        // above). ann_index_query probes a fixed nprobe of the
        // ceil(sqrt(N)) list partitions -> expected ~sqrt(N) per
        // query as list size grows; text_index_query reads only the
        // probed tokens' bucket partitions, but each token's postings
        // grow with corpus df -> expected sublinear, not flat.
        "ann_index_query" -> (() =>
          AnnIndex.query(spark, annPath, probes, k = 5, dim = 64)),
        "text_index_query" -> (() => TextIndex.query(
          spark, textPath, textQueries, "query_id", "qtext", k = 10)),
        // round-11: the static-prune INDEX-TIME cost (q307's core) —
        // one token-partitioned WindowGroupLimit'd window, so the
        // expected curve is scan-shaped (~linear); the query-side
        // payoff is the terms x topM work bound
        "bm25_prune" -> (() => TextAnalysis.impactPrunedPostings(
          docs, "doc_id", "text", topM = 512)),
        // round-13: the q332 planning primitive split in two. The
        // sketch BUILD is one scan + a depth×width hash aggregate
        // (map-side partial collapse — expected ~linear in rows); the
        // store-fed READOUT touches only 2×depth×width persisted rows
        // (expected FLAT at any corpus size — the reason a planner can
        // afford it per join decision)
        "key_sketch_build" -> (() => Sketches.countMinSketch(
          ev.select(col("user_id").cast("string").as("k")), "k",
          width = 65536)),
        "join_size_readout" -> (() => Sketches.joinSizeFromSketches(
          graft.streaming.StreamingPower.countMin.read(spark, jssA),
          graft.streaming.StreamingPower.countMin.read(spark, jssB))))

      for ((name, f) <- ops if only.forall(_.contains(name))) {
        val dt = time(f())
        results += ((name, m, dt))
        println(f"[scale] $name%-14s x$m%-3d ${dt}%8.2f s")
        // release op-internal localCheckpoint blocks between runs
        // (the Bench/Verify discipline), keeping the shared inputs
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => inputIds.contains(id) }
          .foreach(_._2.unpersist(blocking = false))
      }
      // drop this multiplier's replicas before building the next
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => baseIds.contains(id) }
        .foreach(_._2.unpersist(blocking = false))
      rmTree(storeTmp)
    }
    println("op,mult,seconds")
    results.foreach { case (n, m, t) => println(f"$n,$m,$t%.2f") }
    spark.stop()
  }
}
