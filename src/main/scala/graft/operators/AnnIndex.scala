package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{BatchStore, Generations, StagedSwap, Tombstones}
import graft.engine.Generations.fsOf
import graft.functions.VectorFunctions._

/** PERSISTED IVF+PQ index — the build/publish/query separation a
  * production ANN service runs: `Similarity.ivfPqTopKSeeded` computes
  * codebooks, routing and codes inline per call, which is right for a
  * one-shot batch job but wrong for a standing corpus queried
  * repeatedly; here the expensive parts (codebook derivation, corpus
  * encode, list assignment) are paid ONCE at build time and each query
  * touches only its probed slice of the stored index.
  *
  * Layout under `path/`:
  *  - `coarse/` — (list_id, centroid), nlists rows;
  *  - `sub/`    — (m, code_id, c), numSub·numCodes rows;
  *  - `enc/`    — (neighbor_id, m, code_id) PARTITIONED BY
  *    (batch_id, list_id), a `BatchStore` whose generations are the
  *    encoded batches;
  *  - `dead/`   — the `Tombstones` of deleted vector ids.
  *
  * The `list_id` partitioning is what makes the IVF promise PHYSICAL:
  * a query filters the enc scan to its probes' nprobe lists, so
  * partition pruning keeps nprobe/nlists of the index files off disk
  * entirely (PartitionFilters in the scan — spec-asserted), instead of
  * reading everything and discarding rows. At 100 TB that is the
  * difference between scanning ~1 TB and scanning the corpus.
  *
  * `appendBatch` encodes NEW vectors against the PERSISTED codebooks
  * (quantizing a batch never retrains — the standard IVF maintenance
  * contract; [[build]]/[[buildLearned]] retrain from scratch). Each
  * batch owns an `enc/batch_id=<id>/` directory whose parquet `_SUCCESS`
  * gates it: a retried batch id is a NO-OP once committed and an
  * overwrite of only its own directory otherwise — duplicate enc rows
  * would double ADC distance sums, so append idempotency is a
  * correctness property here, not just hygiene. Single-writer-per-index,
  * like every batch sink here.
  *
  * CRASH DISCIPLINE (all three mutations leave only complete states):
  *  - build: enc is deleted FIRST, then codebooks republished — old
  *    codes can never be decoded against new codebooks, and a build
  *    killed mid-codebook-write leaves [[exists]] false (codebooks are
  *    committed only once BOTH `coarse/` and `sub/` carry parquet's
  *    `_SUCCESS`), so a retrying `indexStream` rebuilds instead of
  *    wedging on partial codebooks;
  *  - append: gated by the batch dir's own `_SUCCESS` (above);
  *  - compact: whole-`enc/` staged swap (`BatchStore.compactWithSignal`),
  *    recovered by `BatchStore.heal`, which every reader runs first.
  */
object AnnIndex {
  private def coarsePath(path: String) = s"$path/coarse"
  private def subPath(path: String) = s"$path/sub"
  private def encPath(path: String) = s"$path/enc"
  private def metaPath(path: String) = s"$path/train_meta"

  /** Derive seeded codebooks from the corpus, encode it, and publish
    * the three index tables. Re-running on an existing index is a full
    * REBUILD: the encoded generations are dropped before the new
    * codebooks land (stale codes decoded against retrained codebooks
    * would silently corrupt every ADC sum).
    */
  def build(embeddings: DataFrame, path: String, dim: Int, nlists: Int = 8,
      numSub: Int = 8, numCodes: Int = 16,
      batchId: Long = 0L): Unit = graft.engine.BuildTiming.timed {
    val spark = embeddings.sparkSession
    // the input feeds FIVE passes (both codebook derivations, the
    // train count, the PQ encode and the list assignment) — an input
    // that is itself a join/filter chain would recompute per pass
    val emb = embeddings.localCheckpoint()
    // the two codebook derivations are independent reads of the
    // checkpointed input — overlap them (guide's independent-job rule)
    val centsRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val subRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    graft.engine.Par.inParallel(
      () => centsRef.set(Similarity.centroidsDf(spark,
        Similarity.seededCodebook(emb, nlists))),
      () => subRef.set(
        Similarity.seededSubCodebook(emb, dim, numSub, numCodes)))
    publish(emb, centsRef.get, subRef.get, path, dim, numSub, batchId)
  }

  /** [[build]] with BOTH codebook tiers LEARNED — Lloyd-refined coarse
    * centroids (`kmeansCodebook`, cosine) and per-subspace
    * sub-codebooks (`pqLearnedCodebooks`, L2), persisted like the
    * seeded ones so `appendBatch`/`query` work unchanged against them.
    * Training cost is the same bounded driver sample as the inline
    * learned paths — never the corpus.
    */
  def buildLearned(embeddings: DataFrame, path: String, dim: Int,
      nlists: Int = 8, numSub: Int = 8, numCodes: Int = 16, iters: Int = 5,
      sampleN: Int = 512,
      batchId: Long = 0L): Unit = graft.engine.BuildTiming.timed {
    val spark = embeddings.sparkSession
    // same five-pass reuse + independent-training overlap as [[build]]
    val emb = embeddings.localCheckpoint()
    val centsRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val subRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    graft.engine.Par.inParallel(
      () => centsRef.set(Similarity.centroidsDf(spark,
        Similarity.kmeansCodebook(emb, nlists, iters, sampleN))),
      () => subRef.set(Similarity.pqCodebooksDf(spark,
        Similarity.pqLearnedCodebooks(emb, dim, numSub, numCodes, iters,
          sampleN))))
    publish(emb, centsRef.get, subRef.get, path, dim, numSub, batchId)
  }

  /** Shared publish step: drop anything encoded against the OLD
    * codebooks, then land the new codebooks and the first encoded
    * generation. Deletion order (enc, then sub, then coarse) means a
    * crash at any point leaves either no committed codebooks
    * ([[exists]] false → retry rebuilds) or new codebooks with only
    * new codes — never a mixed-generation index.
    */
  private def publish(embeddings: DataFrame, cents: DataFrame, sub: DataFrame,
      path: String, dim: Int, numSub: Int, batchId: Long): Unit = {
    val spark = embeddings.sparkSession
    val fs = fsOf(spark, new Path(path))
    // DECOMMIT the codebooks first (coarse, then sub): the instant
    // coarse/_SUCCESS is gone, exists() is false, so a crash anywhere
    // in the remaining deletes routes a retrying indexStream to a full
    // rebuild. Deleting enc/ first instead would leave a window where
    // exists() is still true over an emptied enc — a retry would
    // APPEND to the old codebooks and silently drop the pre-crash
    // corpus from every future query.
    val enc = new Path(encPath(path))
    Seq(new Path(coarsePath(path)), new Path(subPath(path)), new Path(metaPath(path)),
      StagedSwap.staging(enc), StagedSwap.backup(enc), enc,
      // a rebuild starts a fresh corpus generation — tombstones refer
      // to the PREVIOUS generation's membership and must not suppress
      // re-indexed ids
      Tombstones.dir(path))
      .foreach(fs.delete(_, true))
    // The three artifact publishes (coarse codebook, sub codebook,
    // train_meta) are independent single-row/tiny writes to disjoint
    // dirs — overlap them. Crash discipline is unchanged by the
    // reordering this allows: exists() demands _SUCCESS on BOTH
    // codebooks, so ANY partial subset of the three reads as "no
    // committed index" (retry rebuilds, and a rebuild deletes
    // train_meta first); enc still lands strictly LAST, so codes can
    // never exist without the codebooks that decode them.
    val centsRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val subRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    graft.engine.Par.inParallel(
      () => {
        val c = cents.localCheckpoint()
        c.coalesce(1).write.mode(SaveMode.Overwrite).parquet(coarsePath(path))
        centsRef.set(c)
      },
      () => {
        val s = sub.localCheckpoint()
        s.coalesce(1).write.mode(SaveMode.Overwrite).parquet(subPath(path))
        subRef.set(s)
      },
      () => {
        // training-corpus size, for the appended-fraction rebuild
        // trigger ([[needsRebuild]]); absent (crash before commit)
        // reads as "unknown → rebuild", the conservative answer
        import embeddings.sparkSession.implicits._
        Seq(embeddings.count()).toDF("n_train")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaPath(path))
      })
    writeEnc(embeddings, centsRef.get, subRef.get, path, dim, numSub, batchId)
  }

  /** How much corpus has been quantize-appended since the codebooks
    * last trained, as a fraction of the training corpus: (live ids −
    * n_train) / n_train, floored at 0 (deletes can shrink live below
    * the training count — that is staleness of a different kind and
    * not measured here). Missing or unreadable training metadata
    * (a pre-metadata index, a crash between the codebook and metadata
    * writes) reads as +∞ — "age unknown, rebuild" is the conservative
    * answer for a maintenance decision. The live count scans enc ids
    * only (no vectors) — a maintenance-cadence cost, not a query cost.
    */
  def appendedFraction(spark: SparkSession, path: String): Double = {
    val fs = fsOf(spark, new Path(path))
    if (!fs.exists(new Path(metaPath(path), "_SUCCESS")))
      return Double.PositiveInfinity
    val nTrain = spark.read.parquet(metaPath(path)).head().getLong(0)
    if (nTrain <= 0L) return Double.PositiveInfinity
    BatchStore.heal(spark, encPath(path))
    if (BatchStore.committedBatches(spark, encPath(path)).isEmpty) return 0.0
    val nLive = Tombstones.snapshot(spark, path)
      .mask(BatchStore.read(spark, encPath(path)).select("neighbor_id").distinct(),
        "neighbor_id")
      .count()
    math.max(0.0, (nLive - nTrain).toDouble / nTrain)
  }

  /** The rebuild trigger the recall-decay curve justifies
    * (`RecallDecayProbe`, SCALING.md): recall loss under appends
    * tracks the appended FRACTION of the corpus, not the batch count,
    * so the index should retrain (`build`/`buildLearned`) once the
    * mass quantized against stale codebooks rivals the mass they were
    * trained on. Default 1.0 = "appended as much as was trained".
    */
  def needsRebuild(spark: SparkSession, path: String,
      maxAppendedFraction: Double = 1.0): Boolean =
    appendedFraction(spark, path) >= maxAppendedFraction

  /** Encode a new batch with the index's PERSISTED codebooks and
    * publish it under its own `batch_id=<id>` directory (idempotent per
    * batch id; see object doc). Default id: one past the highest
    * committed batch.
    */
  def appendBatch(batch: DataFrame, path: String, dim: Int,
      numSub: Int = 8,
      batchId: Long = -1L): Unit = graft.engine.BuildTiming.timed {
    val spark = batch.sparkSession
    require(exists(spark, path),
      s"no committed codebooks at $path — build the index first")
    BatchStore.heal(spark, encPath(path))
    val cents = spark.read.parquet(coarsePath(path)).localCheckpoint()
    val sub = spark.read.parquet(subPath(path)).localCheckpoint()
    val enc = new Path(encPath(path))
    val id = if (batchId >= 0) batchId
      else Generations.nextId(fsOf(spark, enc), enc, BatchStore.Prefix)
    writeEnc(batch, cents, sub, path, dim, numSub, id)
  }

  /** TOMBSTONE delete (`Tombstones`): the ids land as one tombstone
    * batch and every [[query]] masks the live tombstone set — a delete
    * is visible immediately without touching the encoded generations.
    * [[compact]] applies tombstones PHYSICALLY (folds enc minus dead)
    * and then drains exactly the tombstone dirs it snapshotted, so the
    * live set stays bounded by deletes-since-last-compaction, never
    * corpus scale. Idempotent per batch id like [[appendBatch]]; a
    * rebuild clears all tombstones (previous-generation membership).
    * Deleting an id and later re-appending it (after a compaction
    * drained the tombstone) makes it visible again — tombstones mask,
    * they don't retire ids.
    */
  def delete(ids: DataFrame, path: String,
      batchId: Long = -1L): Unit = graft.engine.BuildTiming.timed {
    require(exists(ids.sparkSession, path),
      s"no committed codebooks at $path — build the index first")
    Tombstones.add(ids.select(col("vec_id")), path, batchId)
  }

  /** [[delete]] as a streaming face: a stream of ids to forget (an
    * unsubscribe feed, a takedown queue) lands each micro-batch as one
    * tombstone batch keyed by the ENGINE's batch id — exactly-once
    * under foreachBatch retries while the batch dir lives; a retry of
    * an id already drained by compaction re-applies a mask over rows
    * that no longer exist, which is a no-op by construction.
    * `compactEvery` bounds the live tombstone set like
    * [[indexStream]]'s generation count — but a compaction fired from
    * THIS stream is a staged whole-store rewrite, so `compactEvery > 0`
    * requires no concurrent live [[indexStream]] on the same index
    * (single-writer-per-store contract; an in-flight enc append could
    * land in the swapped-out generation and be lost). With a live
    * ingest stream, keep `compactEvery=0` here and let the ingest
    * stream schedule compaction.
    */
  def deleteStream(ids: DataFrame, path: String, checkpoint: String,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Generations.stream(ids, checkpoint, compactEvery,
      Tombstones.committed(_, path).size, compact(_, path))(
      (batch, id) => delete(batch, path, batchId = id))

  /** True once the index's codebooks are COMMITTED — parquet's
    * `_SUCCESS` under both `coarse/` and `sub/`. A build killed
    * mid-codebook-write therefore reads as "no index", so a retrying
    * `indexStream` routes back to `build` (which overwrites the
    * partial dirs) instead of appending against half-written codebooks.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, new Path(path))
    fs.exists(new Path(coarsePath(path), "_SUCCESS")) &&
      fs.exists(new Path(subPath(path), "_SUCCESS"))
  }

  /** Continuous ingestion: first micro-batch builds the index (trains
    * codebooks on it), every later one quantizes-and-appends, keyed by
    * the engine's batch id so retried micro-batches stay idempotent.
    *
    * `compactEvery = n` folds the generations back to ONE whenever ≥ n
    * committed batches accrete — without it a long-running stream
    * grows a parquet directory per micro-batch forever (thousands of
    * tiny files per list; O(batches) planning listings). Safe inside
    * the same foreachBatch because the stream IS the single writer,
    * and a kill mid-compaction heals on the next touch. 0 = never.
    */
  /** `rebuildAt` wires the [[needsRebuild]] trigger into the stream's
    * own maintenance (the RecallDecayProbe curve justifies the
    * threshold): after each append, if the mass quantized against the
    * standing codebooks reaches `rebuildAt` × the trained mass, the
    * index RETRAINS from `rebuildCorpus(batch)` — the caller's full
    * raw-vector table including this batch (codes can't retrain
    * codebooks; a real deployment always keeps the raw tier). The
    * rebuild reuses the engine batch id, so a retried micro-batch
    * finds its dir committed (no-op append) and a fresh
    * `appendedFraction` of 0 (no re-trigger) — exactly-once under
    * foreachBatch retries, like every mutation here. 0 = never
    * (append-only maintenance, the previous behavior).
    */
  def indexStream(vectors: DataFrame, path: String, checkpoint: String,
      dim: Int, nlists: Int = 8, numSub: Int = 8, numCodes: Int = 16,
      compactEvery: Int = 0, rebuildAt: Double = 0.0,
      rebuildCorpus: DataFrame => DataFrame = null)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Generations.stream(vectors, checkpoint, compactEvery,
      BatchStore.committedBatches(_, encPath(path)).size, compact(_, path)) { (batch, id) =>
      val spark = batch.sparkSession
      if (!exists(spark, path))
        build(batch, path, dim, nlists, numSub, numCodes, batchId = id)
      else {
        appendBatch(batch, path, dim, numSub, batchId = id)
        // threshold check AFTER the append: the index never ends a
        // micro-batch above `rebuildAt` — the appended batch is
        // re-encoded by the rebuild, the price of the invariant
        if (rebuildAt > 0 && rebuildCorpus != null &&
            needsRebuild(spark, path, rebuildAt))
          build(rebuildCorpus(batch), path, dim, nlists, numSub,
            numCodes, batchId = id)
      }
    }

  /** Merge every committed `enc/batch_id=N` generation into ONE —
    * the small-file remedy for a long-running `indexStream`, which
    * otherwise accretes a parquet directory per micro-batch forever
    * (thousands of tiny files per list; O(batches) listings at query
    * planning). Results are IDENTICAL before and after (spec-asserted):
    * compaction rewrites committed rows only, into the same
    * (batch_id, list_id) layout at the MAX folded id, so partition
    * pruning survives and a streaming retry of the last folded batch id
    * stays a no-op. The fold is `BatchStore`'s staged swap with the
    * snapshotted tombstones as its merge (`Tombstones.compact`), and
    * those tombstones drain only once the fold COMMITTED: with no
    * committed enc generation (a build killed inside its encode) the
    * fold returns false and they stay, because the retried append
    * rewrites that generation with the deleted ids in it.
    */
  def compact(spark: SparkSession,
      path: String): Unit = graft.engine.BuildTiming.timed {
    Tombstones.compact(spark, path)(dead =>
      BatchStore.compactWithSignal(spark, encPath(path),
        merge = dead.mask(_, "neighbor_id"),
        subPartitionCols = Seq("list_id"), force = !dead.isEmpty))
  }

  /** `query` + exact-cosine re-ranking: the PQ shortlist (k·candMult
    * per query) is re-scored against the RAW vectors of `corpus` (the
    * index stores only codes — the source table supplies vectors, as
    * in production where raw embeddings live beside, not inside, the
    * index) and re-cut to k. Same probe-bounded broadcast shape as
    * `Similarity.ivfPqTopKReranked`.
    */
  def queryReranked(spark: SparkSession, path: String, probes: DataFrame,
      corpus: DataFrame, k: Int, dim: Int, nprobe: Int = 4,
      numSub: Int = 8, candMult: Int = 4): DataFrame = {
    val shortlist = query(spark, path, probes, k * candMult, dim, nprobe, numSub)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    Similarity.rerankExact(corpus, probes, shortlist, k)
  }

  private def writeEnc(vectors: DataFrame, cents: DataFrame, sub: DataFrame,
      path: String, dim: Int, numSub: Int, batchId: Long): Unit = {
    val enc = new Path(encPath(path))
    Generations.gate(fsOf(vectors.sparkSession, enc), enc, BatchStore.Prefix, batchId) { batchDir =>
      val codes = Similarity.pqEncodeWithCodebook(vectors, dim, numSub, sub)
      val lists = Similarity.nearestListIds(
        vectors.select(col("vec_id").as("neighbor_id"),
          asDouble(col("embedding")).as("emb")),
        "neighbor_id", cents)
        .select("list_id", "neighbor_id")
      // codes ⋈ list assignment: both O(N) — shuffle equi-join, same
      // contract as the inline IVF+PQ path
      codes.join(lists.hint("shuffle_hash"), Seq("neighbor_id"))
        .write.mode(SaveMode.Overwrite).partitionBy("list_id")
        .parquet(batchDir.toString)
    }
  }

  /** FILTERED ANN, pre-filter strategy — metadata predicate ∧ vector
    * top-k, the most common production retrieval shape ("nearest
    * among documents matching X"). The caller's eligible-id set
    * (first column = vec ids; however it was derived — label
    * predicate, date range, ACL) SEMI-JOINS the partition-pruned enc
    * scan BEFORE ADC ranking, so the top-k is cut among eligible
    * candidates only: recall equals the unfiltered index's recall on
    * the eligible sub-corpus, and k results surface whenever ≥ k
    * eligible ids live in the probed lists. The join is a SHUFFLED
    * equi-join on neighbor_id, deliberately not a broadcast — the
    * eligible set is corpus-derived and unbounded (q102 regression
    * class); it is localCheckpointed so no file scan can end up under
    * a broadcast if AQE re-plans it small.
    */
  def queryFiltered(spark: SparkSession, path: String, probes: DataFrame,
      eligible: DataFrame, k: Int, dim: Int, nprobe: Int = 4,
      numSub: Int = 8): DataFrame =
    queryImpl(spark, path, probes, k, dim, nprobe, numSub, Some(eligible))

  /** FILTERED ANN, post-filter strategy — the plain top-(k·candMult)
    * shortlist filtered AFTER ranking and re-cut to k. Cheaper (no
    * join under the ranking; the wide cut reuses the unfiltered
    * path untouched) but LOSSY: a query whose eligible neighbors rank
    * past k·candMult comes back short — the recall/returned gap the
    * q282 report measures against [[queryFiltered]]. Use it when the
    * predicate is weakly selective; pre-filter when it is sharp.
    */
  def queryPostFiltered(spark: SparkSession, path: String, probes: DataFrame,
      eligible: DataFrame, k: Int, dim: Int, nprobe: Int = 4,
      numSub: Int = 8, candMult: Int = 4): DataFrame = {
    val el = eligible
      .select(col(eligible.columns.head).as("neighbor_id"))
      .localCheckpoint()
    val wide = query(spark, path, probes, k * candMult, dim, nprobe, numSub)
    val rerank = Window.partitionBy("query_id").orderBy(col("rank"))
    wide.join(el, Seq("neighbor_id"), "left_semi")
      .withColumn("_r", row_number().over(rerank))
      .filter(col("_r") <= k)
      .select(col("query_id"), col("_r").cast("int").as("rank"),
        col("neighbor_id"), col("approx_d2"))
      .orderBy("query_id", "rank")
  }

  /** Top-k ADC search against the stored index. Probe routing and ADC
    * tables are probe-bounded broadcasts (as in the inline path); the
    * enc scan is FILTERED to the probed list ids, which prunes whole
    * partition directories.
    */
  /** The index's LIVE coarse routing — one (list_id, neighbor_id) row
    * per committed, non-tombstoned vector, straight off the enc
    * partition layout (the [[query]] read discipline: committed
    * batches only, dead ids anti-joined, heal first). This is what an
    * index-fed SemDeDup ([[Similarity.semanticDedupFromIndex]]) reads
    * instead of re-assigning the corpus to centroids per audit: the
    * encode/routing cost amortizes into the index build, and within-
    * list membership is a column scan of two small columns (the PQ
    * code rows are never read — enc is (batch, list_id)-partitioned,
    * so projection prunes to the partition values plus neighbor_id).
    */
  /** The index's persisted coarse-centroid table, exactly as
    * `appendBatch`/`query` read it — the probe-routing artifact an
    * index-fed operator broadcasts instead of re-deriving codebooks.
    */
  def coarseCentroids(spark: SparkSession, path: String): DataFrame = {
    require(exists(spark, path),
      s"no committed codebooks at $path — build the index first")
    spark.read.parquet(coarsePath(path))
  }

  def listAssignments(spark: SparkSession, path: String): DataFrame = {
    // same diagnosable guard as coarseCentroids: a crashed build reads
    // as absent (exists() demands both codebooks) — fail actionably
    // instead of a raw PATH_NOT_FOUND from inside the enc read
    require(exists(spark, path),
      s"no committed codebooks at $path — build the index first")
    Tombstones.snapshot(spark, path).mask(
      BatchStore.read(spark, encPath(path))
        .select("list_id", "neighbor_id")
        .dropDuplicates("list_id", "neighbor_id"),
      "neighbor_id")
  }

  def query(spark: SparkSession, path: String, probes: DataFrame, k: Int,
      dim: Int, nprobe: Int = 4, numSub: Int = 8): DataFrame =
    queryImpl(spark, path, probes, k, dim, nprobe, numSub, None)

  private def queryImpl(spark: SparkSession, path: String, probes: DataFrame,
      k: Int, dim: Int, nprobe: Int, numSub: Int,
      eligible: Option[DataFrame]): DataFrame = {
    val cents = spark.read.parquet(coarsePath(path)).localCheckpoint()
    val sub = spark.read.parquet(subPath(path)).localCheckpoint()
    val probeLists = Similarity.nearestLists(
      probes.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("emb")),
      "query_id", nprobe, cents)
      .select("list_id", "query_id")
      .localCheckpoint()
    // |probes|·nprobe ids — driver-collected to a literal IN so the
    // filter lands as a static PartitionFilter on the scan;
    // `BatchStore.read` keeps COMMITTED batches only (parquet
    // _SUCCESS), so a writer killed mid-append is invisible to readers
    val probed = probeLists.select("list_id").distinct()
      .collect().map(_.get(0))
    // mask tombstoned ids (bounded by deletes-since-last-compaction —
    // compact() drains the set)
    val encLive = Tombstones.snapshot(spark, path).mask(
      BatchStore.read(spark, encPath(path))
        .filter(col("list_id").isin(probed: _*))
        .drop("batch_id"),
      "neighbor_id")
    // pre-filter: eligible ids cut the candidate set BEFORE the ADC
    // aggregate — a shuffled semi-join (see queryFiltered's contract)
    val enc = eligible match {
      case Some(el) => encLive.join(
        el.select(col(el.columns.head).as("neighbor_id")).localCheckpoint(),
        Seq("neighbor_id"), "left_semi")
      case None => encLive
    }
    val probeTable = Similarity.pqProbeTable(probes, dim, numSub, sub)
    val rank = Window.partitionBy("query_id").orderBy(col("sd"), col("neighbor_id"))
    enc.join(broadcast(probeLists), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(probeTable), Seq("query_id", "m", "code_id"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("d2")).as("sd"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sd").cast("double") / lit(1000000.0), 6).as("approx_d2"))
      .orderBy("query_id", "rank")
  }
}
