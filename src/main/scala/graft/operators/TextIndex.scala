package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{BatchStore, Generations, Tombstones}

/** Persisted inverted text index with BM25 queries — the text-retrieval
  * sibling of `AnnIndex`: build/append once, query many times, without
  * re-tokenizing the corpus per query.
  *
  * Layout (all parquet):
  * {{{
  *   path/postings/batch_id=N/tok_bucket=B/   (token, doc, tf, dl, positions)
  *   path/stats/batch_id=N/                   (n_docs, sum_dl)
  * }}}
  * Postings are partitioned by a hash bucket of the token, so a query
  * prunes its scan to the probed terms' buckets (PartitionFilters, the
  * same discipline as `AnnIndex`'s list_id pruning); each posting row
  * carries its document's length, so scoring needs NO doc-length join
  * — the only other input is the constant-size `stats` table (corpus
  * size and summed length per generation, folded by exact integer
  * addition, so avgdl is bit-stable under any append/compact order).
  *
  * Commit discipline: postings and stats are one `BatchStore.Group`
  * gated by stats, which each append writes LAST — a writer killed
  * mid-append leaves postings no reader sees and the next writer
  * deletes. Batches must carry DISJOINT document sets (the
  * streaming/idempotent-append contract everywhere else in the
  * engine); compaction folds postings, then stats, each into one
  * generation at the MAX folded id, preserving the tok_bucket pruning
  * sub-layout and summing stats to one row.
  */
object TextIndex {
  private def postingsPath(path: String) = path + "/postings"
  private def statsPath(path: String) = path + "/stats"

  /** The index's two roots: stats is the gate, written last. */
  private def group(path: String) =
    BatchStore.Group(statsPath(path), Seq(postingsPath(path)))

  /** TOMBSTONE delete (`Tombstones`, the `AnnIndex.delete` shape): doc
    * ids to forget land as one tombstone batch, idempotent per batch
    * id. Queries mask the live tombstone set; `compact` folds the
    * postings minus the dead docs and re-fits the stats. Until that
    * compaction, corpus statistics (df, n_docs, avgdl) still reflect
    * the pre-delete corpus — exactly Lucene's deleted-docs-until-merge
    * semantics, and what makes the mask equal a deep-rank filter of the
    * pre-delete ranking (surviving docs' scores are unchanged).
    */
  def delete(ids: DataFrame, idCol: String, path: String,
      batchId: Long = -1L): Unit = graft.engine.BuildTiming.timed {
    require(committedBatches(ids.sparkSession, path).nonEmpty,
      s"no committed index at $path — build it first")
    Tombstones.add(ids.select(col(idCol)), path, batchId)
  }

  /** [[delete]] as a streaming face (a takedown/unsubscribe feed):
    * each micro-batch is one tombstone batch keyed by the ENGINE's
    * batch id — exactly-once under foreachBatch retries while the dir
    * lives; a retry of an already-drained id re-applies a mask over
    * rows that no longer exist, a no-op by construction.
    *
    * `compactEvery > 0` triggers [[compact]] — a staged WHOLE-STORE
    * rewrite — from this stream's foreachBatch, which makes this
    * stream the store's single writer for that window: it must NOT
    * run concurrently with a live [[indexStream]] (an in-flight
    * postings append could land in the swapped-out backup generation
    * and be lost). With a live ingest stream, leave `compactEvery=0`
    * here and let the postings writer schedule compaction.
    */
  def deleteStream(ids: DataFrame, idCol: String, path: String,
      checkpoint: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Generations.stream(ids, checkpoint, compactEvery,
      Tombstones.committed(_, path).size, compact(_, path))(
      (batch, id) => delete(batch, idCol, path, batchId = id))

  /** Committed generations: the batches whose stats generation
    * committed (the group's gate), after healing both roots.
    */
  def committedBatches(spark: SparkSession, path: String): Seq[Long] =
    group(path).committed(spark)

  /** The committed postings, `batch_id` kept. */
  def postings(spark: SparkSession, path: String): DataFrame =
    group(path).view(spark).read(postingsPath(path))

  /** Idempotently add one batch of documents to the index. Gated on
    * the stats generation (written last): a committed batch id is a
    * no-op, a half-written one is rewritten.
    *
    * `withPositions=false` builds the lean BM25-only store (~2× cheaper
    * append, smaller postings); `phraseSearch` then refuses the index.
    * All batches of one index must agree on the setting.
    */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, buckets: Int = 64,
      withPositions: Boolean = true): Unit = graft.engine.BuildTiming.timed {
    group(path).append(docs.sparkSession, batchId) { _ =>
      val toks =
        if (withPositions)
          docs.select(col(idCol).as("doc"),
            size(split(col(textCol), " ")).as("dl"),
            posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
        else
          docs.select(col(idCol).as("doc"),
            size(split(col(textCol), " ")).as("dl"),
            explode(split(col(textCol), " ")).as("token"))
      val aggs =
        if (withPositions)
          Seq(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
        else Seq(count(lit(1)).as("tf"))
      Seq(toks.groupBy("doc", "dl", "token")
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("tok_bucket", pmod(xxhash64(col("token")), lit(buckets)))
          // cluster by bucket before the partitioned write: ONE file per
          // bucket per batch. Without this every aggregate partition fans
          // out to every bucket dir — buckets × shuffle-partitions small
          // files per append, whose listing + footer reads come to
          // dominate query latency (and at real scale become the classic
          // small-file problem on the store).
          .repartition(col("tok_bucket"))
          .write.partitionBy("tok_bucket"),
        docs.agg(count(lit(1)).as("n_docs"),
            sum(size(split(col(textCol), " "))).as("sum_dl"))
          .write)
    }
  }

  /** BM25 top-`k` over the committed index — same formula, rounding,
    * and tie-break as `TextAnalysis.bm25TopK`, so an index built from
    * a corpus answers exactly like the inline operator on that corpus.
    * The probed terms and their buckets are driver-collected literals
    * (probe-bounded artifacts), so the bucket filter lands as a static
    * PartitionFilter on the postings scan.
    */
  def query(spark: SparkSession, path: String, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75, buckets: Int = 64,
      docIdOut: String = "doc_id"): DataFrame = {
    val index = group(path).view(spark)
    require(index.ids.nonEmpty, s"no committed batches at $path")
    val statsRow = index.read(statsPath(path))
      .agg(sum("n_docs").cast("double"), sum("sum_dl").cast("double"))
      .collect()(0)
    val nDocs = statsRow.getDouble(0)
    val avgdl = statsRow.getDouble(1) / nDocs
    val qterms = queries
      .select(col(queryIdCol).as("query_id"),
        explode(split(col(queryTextCol), " ")).as("token"))
      .distinct()
      .localCheckpoint() // feeds the probe collect AND the score join
    val probed = qterms
      .withColumn("b", pmod(xxhash64(col("token")), lit(buckets)))
      .select("token", "b").distinct().collect()
    val probeTokens = probed.map(_.getString(0)).toSeq
    val probeBuckets = probed.map(_.getLong(1)).distinct.toSeq
    // NOT checkpointed although two consumers read it (the df
    // aggregate and the score join): materializing would hide the
    // scan's PartitionFilters behind an RDD scan — both consumers
    // re-run the pruned parquet read instead, which is the cheap,
    // scale-honest trade (probed buckets only).
    val postings = index.read(postingsPath(path))
      .filter(col("tok_bucket").isin(probeBuckets: _*))
      .filter(col("token").isin(probeTokens: _*))
    val qdf = qterms
      .join(postings.groupBy("token").agg(count(lit(1)).as("df")), Seq("token"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
    // tombstone mask on the SCORED side only: df/n_docs/avgdl keep the
    // pre-delete corpus until compaction (Lucene semantics), so a
    // masked ranking == the pre-delete ranking minus the dead docs
    val live = Tombstones.snapshot(spark, path).mask(postings, "doc")
    // nano-quantized long accumulation — must mirror
    // TextAnalysis.bm25ScoreTermsDf exactly (shared oracle verbatim)
    val scored = live
      .join(broadcast(qdf), Seq("token"))
      .withColumn("contrib",
        round(lit(1e9) * (col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))))
          .cast("long"))
      .groupBy("query_id", "doc")
      .agg(round(sum(col("contrib")).cast("double") / lit(1e9), 6).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc").as(docIdOut), col("score"))
      .orderBy("query_id", "rank")
  }

  /** Exact phrase search over the positional postings: a document
    * matches when the phrase's tokens occur at CONSECUTIVE positions.
    * Alignment trick: a posting hit for phrase token j at document
    * position p belongs to the candidate start `base = p - j`; a base
    * covered by all |phrase| token indexes is a match, and the number
    * of such bases is the (overlap-counting) occurrence count.
    *
    * Same pruning discipline as `query`: the phrase's terms and their
    * buckets are driver-collected literals, so the postings scan
    * prunes to the probed tok_buckets; everything after is narrow
    * (query, doc, base) aggregation — the corpus only contributes the
    * probed terms' postings.
    */
  def phraseSearch(spark: SparkSession, path: String, queries: DataFrame,
      queryIdCol: String, phraseCol: String, buckets: Int = 64,
      docIdOut: String = "doc_id"): DataFrame = {
    val index = group(path).view(spark)
    require(index.ids.nonEmpty, s"no committed batches at $path")
    val qt = queries
      .select(col(queryIdCol).as("query_id"),
        posexplode(split(col(phraseCol), " ")).as(Seq("tok_idx", "token")))
      .localCheckpoint() // feeds the probe collect, plen, and the hit join
    val plen = qt.groupBy("query_id").agg(count(lit(1)).as("plen"))
    val probed = qt
      .withColumn("b", pmod(xxhash64(col("token")), lit(buckets)))
      .select("token", "b").distinct().collect()
    val probeTokens = probed.map(_.getString(0)).toSeq
    val probeBuckets = probed.map(_.getLong(1)).distinct.toSeq
    val postings = index.read(postingsPath(path))
    require(postings.columns.contains("positions"),
      s"index at $path was built withPositions=false — phrase search needs a positional index")
    val live = Tombstones.snapshot(spark, path).mask(postings
      .filter(col("tok_bucket").isin(probeBuckets: _*))
      .filter(col("token").isin(probeTokens: _*)), "doc")
    // coverage as a BIT MASK, not countDistinct: bit_or pre-combines
    // map-side (countDistinct planned an Expand + a second shuffle
    // carrying one row per posting OCCURRENCE — 31 MB at sf0.1, the
    // suite's largest after the q182 fix), idempotent under duplicate
    // positions, and ONE long per group crosses the wire. A single
    // long covers 64 phrase tokens (shiftleft wraps silently past 64,
    // so the split below is load-bearing); longer phrases chunk into
    // per-64-token WORDS — one extra narrow aggregation over the
    // already-reduced (query, doc, base, word) masks, paid only when
    // a long phrase is actually present. max over zero rows is NULL —
    // an empty query set must return an empty result, not NPE at
    // query-construction time
    val maxLenRow = plen.agg(max(col("plen"))).head()
    val maxLen = if (maxLenRow.isNullAt(0)) 0L else maxLenRow.getLong(0)
    val hits = live
      .select(col("doc"), col("token"), explode(col("positions")).as("pos"))
      .join(broadcast(qt), Seq("token"))
    val covered =
      if (maxLen <= 64)
        hits.groupBy(col("query_id"), col("doc"),
            (col("pos") - col("tok_idx")).as("base"))
          .agg(expr("bit_or(shiftleft(1L, tok_idx))").as("_mask"))
          .withColumn("cov", expr("bit_count(_mask)").cast("long"))
      else
        // chunked: tok_idx div 64 picks the word, pmod bounds the
        // shift to [0, 64); total coverage = Σ per-word popcounts
        // (each distinct tok_idx sets exactly one bit in one word)
        hits.groupBy(col("query_id"), col("doc"),
            (col("pos") - col("tok_idx")).as("base"),
            expr("tok_idx div 64").as("_w"))
          .agg(expr("bit_or(shiftleft(1L, pmod(tok_idx, 64)))").as("_mask"))
          .groupBy("query_id", "doc", "base")
          .agg(sum(expr("bit_count(_mask)")).cast("long").as("cov"))
    covered
      .join(broadcast(plen), Seq("query_id"))
      .filter(col("cov") === col("plen"))
      .groupBy("query_id", "doc")
      .agg(count(lit(1)).as("n_matches"))
      .select(col("query_id"), col("doc").as(docIdOut), col("n_matches"))
      .orderBy("query_id", docIdOut)
  }

  /** Fold all committed generations into one (max folded id; see
    * `BatchStore`): the group folds the postings first, keeping their
    * tok_bucket pruning layout, then the stats, summed to a single row —
    * constant size no matter how many batches have passed.
    *
    * Tombstones (`Tombstones.compact`): the postings fold drops the
    * snapshotted dead docs, stats are RE-FIT exactly from the folded
    * postings (the stale-until-merge window ends here), and the
    * snapshotted tombstones drain only on this store's proof that their
    * docs are gone, so a skipped or race-aborted fold
    * (`BatchStore.compact` may abort quietly) can never lose a delete.
    */
  def compact(spark: SparkSession,
      path: String): Unit = graft.engine.BuildTiming.timed {
    Tombstones.compact(spark, path) { dead =>
      val folded = group(path).compact(spark)(root =>
          BatchStore.compactWithSignal(spark, root, merge = dead.mask(_, "doc"),
            subPartitionCols = Seq("tok_bucket"), force = !dead.isEmpty)) { postingsFolded =>
        if (dead.isEmpty)
          BatchStore.compact(spark, statsPath(path),
            merge = _.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl")))
        else if (postingsFolded.forall(identity)) {
          // deletes shrank the corpus: recompute (n_docs, sum_dl) exactly
          // from the committed postings instead of summing stale rows —
          // only after a COMMITTED fold: after a skipped or aborted one
          // the old postings still hold the dead docs, and stats re-fit
          // from them would publish counts that disagree with the live
          // tombstones
          val refit = postings(spark, path)
            .select(col("doc"), col("dl")).distinct()
            .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
            .localCheckpoint()
          BatchStore.compact(spark, statsPath(path), merge = _ => refit, force = true)
        }
      }.forall(identity)
      // drain proof: a committed fold's generation is exactly
      // anti-join(previous committed postings, dead), so the dead docs
      // cannot be present. A postings store with no committed
      // generation holds no doc at all, so its tombstones drain too
      // (the fold has nothing to fold there and returns false).
      folded || BatchStore.committedBatches(spark, postingsPath(path)).isEmpty
    }
  }

  /** Streaming ingestion: each micro-batch appends under its engine
    * batch id (idempotent on retry), optionally compacting once the
    * committed-generation count reaches `compactEvery`.
    */
  def indexStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String, buckets: Int = 64,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Generations.stream(docs, checkpoint, compactEvery,
      committedBatches(_, path).size, compact(_, path))(
      (batch, id) => appendBatch(batch, idCol, textCol, path, id, buckets))
}
