package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{BatchStore, BuildTiming, Generations}
import graft.functions.HashFamily

/** Persisted NEAR-DUP PAIR store: the (doc_a, doc_b, signal, score)
  * edge set every governance audit reads, maintained INCREMENTALLY so
  * pair mining — the dominant cost of a 100 TB dedup/audit tier — is
  * paid once per document, not once per audit. Before this store,
  * q142/q180/q325 each re-ran `ngramJaccardPairs` + `lshNeighborPairs`
  * from raw text/vectors in-query (q325 alone re-mined BOTH signals);
  * now they read committed pairs and the mining cost amortizes across
  * the audit tier exactly like q326's ingest-once image hashes.
  *
  * Exactness (streamed ≡ one-shot): both mined signals are PURE
  * PAIRWISE predicates — n-gram Jaccard with no df cap
  * (`round(|A∩B|/(|A|+|B|−|A∩B|), 6) >= t` over each doc's own
  * distinct shingles) and seeded sign-LSH banding + exact cosine
  * (collision is a function of the two docs' own signatures) — so
  * pairs(corpus) decomposes exactly into per-batch increments: a pair
  * (a, b) with a ∈ batch_i, b ∈ batch_j (i ≤ j) is mined exactly once,
  * at batch_j, as new×standing (or new×new when i == j). The union
  * over batches equals the one-shot mining bit-for-bit, which is what
  * lets the store-fed queries keep their one-shot DuckDB oracles.
  *
  * Incremental cost: a batch pays |batch shingles| ⋈ standing-index
  * lookups (an equi-join against the persisted gram/signature stores),
  * never a corpus re-scan — the per-doc state rows (hashed grams, LSH
  * signatures, sizes) persist beside the pairs so standing docs are
  * never re-tokenized or re-projected.
  *
  * Layout — five `BatchStore` roots under one path, each with the
  * per-dir `_SUCCESS` contract (staged-swap [[compact]], heal at every
  * entry point):
  * {{{
  *   path/grams       (doc, g)                  hashed-shingle index rows
  *   path/sizes       (doc, n)                  distinct-shingle counts
  *   path/sig         (vec_id, table, bucket)   sign-LSH signatures
  *   path/text_pairs  (doc_a, doc_b, score)     mined Jaccard pairs
  *   path/emb_pairs   (doc_a, doc_b, score)     mined cosine pairs
  * }}}
  * Each signal is one `BatchStore.Group`: `grams` gates `sizes` and
  * `text_pairs`, `sig` gates `emb_pairs`. A step writes the PAIRS
  * first and the gate's STATE rows last, so a crash in between leaves
  * dirs no reader sees and the next writer deletes, and the retry
  * re-mines. Standing reads take the group's generations below the
  * current id, so a crashed attempt never feeds its own retry's mining.
  */
object PairStore {
  private def grams(p: String) = s"$p/grams"
  private def sizes(p: String) = s"$p/sizes"
  private def sig(p: String) = s"$p/sig"
  private def textPairs(p: String) = s"$p/text_pairs"
  private def embPairs(p: String) = s"$p/emb_pairs"

  /** The text signal: the `grams` gate, written last, over its sizes
    * and mined pairs.
    */
  private def textGroup(p: String) =
    BatchStore.Group(grams(p), Seq(textPairs(p), sizes(p)))

  /** The embedding signal: the `sig` gate over its mined pairs. */
  private def embGroup(p: String) = BatchStore.Group(sig(p), Seq(embPairs(p)))

  /** Append one DOC batch: mines the n-gram-Jaccard pairs touching the
    * batch (new×new ∪ new×standing via the persisted gram index) into
    * `text_pairs`, then lands the batch's gram/size state. Batches
    * must partition the corpus by doc (the profile-store contract); a
    * retried committed batch is a no-op. Defaults mirror
    * `Dedup.ngramJaccardPairs`'s q142/q180/q325 configuration.
    */
  def appendDocs(batch: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, k: Int = 3, threshold: Double = 0.5,
      gramHash: Option[HashFamily] = Some(graft.functions.XxHash64Family)): Unit =
    BuildTiming.timed {
      textGroup(path).append(batch.sparkSession, batchId) { standing =>
        // the exploded batch index feeds both mining join sides, the
        // size table, and its own persist — checkpoint or it shingles 4×
        val gNew = Dedup.shingleIndex(batch, idCol, textCol, k,
          maxDf = Int.MaxValue, gramHash = gramHash).localCheckpoint()
        val nNew = gNew.groupBy("doc").agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val gOld0 = standing.before(grams(path), batchId).getOrElse(gNew.limit(0))
        // Bloom-prefilter the STANDING gram scan to (probably) batch
        // grams before its shuffle: the standing index is corpus-scale
        // (the store's fat table) while a batch touches only its own
        // gram vocabulary — without this, every increment shuffles the
        // whole standing index. Map-side codegen might_contain; false
        // positives are dropped by the exact equi-join below, so the
        // mined pairs are unchanged (BloomJoin's contract).
        val gOld = gOld0.filter(BloomJoin.probeColumn(gNew, "g", col("g")))
        val nOld = standing.before(sizes(path), batchId).getOrElse(nNew.limit(0))
        // pairs touching the batch, each exactly once: anchor ∈ new;
        // other ∈ standing (batches are doc-disjoint) or new with
        // anchor < other
        val aNew = gNew.select(col("doc").as("da"), col("g"))
        val hits = aNew
          .join(gOld.select(col("doc").as("db"), col("g")), Seq("g"))
          .select(least(col("da"), col("db")).as("doc_a"),
            greatest(col("da"), col("db")).as("doc_b"))
          .unionByName(aNew
            .join(gNew.select(col("doc").as("db"), col("g")), Seq("g"))
            .filter(col("da") < col("db"))
            .select(col("da").as("doc_a"), col("db").as("doc_b")))
        val common = hits.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
        val allN = nOld.unionByName(nNew)
        val mined = common
          .join(allN.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
          .join(allN.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
          .withColumn("score", round(col("common").cast("double")
            / (col("n_a") + col("n_b") - col("common")), 6))
          .filter(col("score") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("score"))
        // pairs FIRST (a retry re-mines and overwrites them — idempotent),
        // the grams gate LAST (a crash in between must re-mine, never lose
        // the batch from the standing index)
        Seq(mined.write, nNew.write, gNew.write)
      }
    }

  /** Append one EMBEDDING batch: mines the sign-LSH + exact-cosine
    * pairs touching the batch into `emb_pairs`, then lands the batch's
    * signature rows. `vectors` is the lake's embedding table (any
    * frame covering every id appended SO FAR) — only the candidate
    * pairs' two vectors are attached, the store itself never copies
    * embeddings. Defaults mirror `Similarity.lshNeighborPairs`'s
    * q180/q325 configuration.
    */
  def appendEmbeddings(batch: DataFrame, vectors: DataFrame, path: String,
      batchId: Long, threshold: Double = 0.4, bits: Int = 6,
      tables: Int = 8, seed: Long = 42L): Unit =
    BuildTiming.timed {
      val spark = batch.sparkSession
      embGroup(path).append(spark, batchId) { standing =>
        val sNew = Similarity.lshSignatureRows(batch, bits, tables, seed)
          .localCheckpoint() // both mining join sides + its own persist
        val sOld = standing.before(sig(path), batchId).getOrElse(sNew.limit(0))
        val aNew = sNew.select(col("table"), col("bucket"), col("vec_id").as("ia"))
        val cand = aNew
          .join(sOld.select(col("table"), col("bucket"), col("vec_id").as("ib")),
            Seq("table", "bucket"))
          .select(least(col("ia"), col("ib")).as("doc_a"),
            greatest(col("ia"), col("ib")).as("doc_b"))
          .unionByName(aNew
            .join(sNew.select(col("table"), col("bucket"), col("vec_id").as("ib")),
              Seq("table", "bucket"))
            .filter(col("ia") < col("ib"))
            .select(col("ia").as("doc_a"), col("ib").as("doc_b")))
          .dropDuplicates("doc_a", "doc_b")
        val emb = vectors.select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("emb"))
        val mined = cand
          .join(emb.select(col("vec_id").as("doc_a"), col("emb").as("ea")), Seq("doc_a"))
          .join(emb.select(col("vec_id").as("doc_b"), col("emb").as("eb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            round(graft.functions.VectorExpressions.cosineFast(spark)(
              col("ea"), col("eb")), 6).as("score"))
          .filter(col("score") >= threshold)
        Seq(mined.write, sNew.write)
      }
    }

  /** Every committed pair, both signals — what the audit tier reads.
    * A signal whose store has no committed generation yet contributes
    * zero rows (schema pinned), so a docs-only or embeddings-only
    * store still reads.
    */
  def pairs(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType),
      StructField("score", DoubleType), StructField("signal", StringType)))
    def readSignal(group: BatchStore.Group, root: String, signal: String): DataFrame = {
      val committed = group.view(spark)
      if (committed.visible(root).isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else committed.read(root).drop("batch_id")
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
          col("score").cast("double"), lit(signal).as("signal"))
    }
    readSignal(textGroup(path), textPairs(path), "ngram")
      .unionByName(readSignal(embGroup(path), embPairs(path), "emb"))
  }

  /** Fold the TEXT signal's sub-stores (text_pairs/sizes, then the
    * grams gate) into one generation each — what the text stream's own
    * foreachBatch may call. The group drops orphan pair/sizes dirs
    * first, so a crash-window orphan can never be folded into the
    * generation a retry will overwrite.
    */
  def compactText(spark: SparkSession, path: String): Unit =
    BuildTiming.timed {
      textGroup(path).compact(spark)(BatchStore.compact(spark, _))(
        _ => BatchStore.compact(spark, grams(path)))
    }

  /** Fold the EMBEDDING signal's sub-stores (sig/emb_pairs) — the
    * embedding stream's own compaction hook.
    */
  def compactEmbeddings(spark: SparkSession, path: String): Unit =
    BuildTiming.timed {
      embGroup(path).compact(spark)(BatchStore.compact(spark, _))(
        _ => BatchStore.compact(spark, sig(path)))
    }

  /** Fold every sub-store (the `BatchStore.compact` staged-swap
    * contract; identity merge — rows are disjoint across batches by
    * construction). Single-writer discipline applies PER SIGNAL: call
    * this only when NO stream is writing either signal; a live text
    * stream may call [[compactText]] and a live embedding stream
    * [[compactEmbeddings]] — each folds only the stores its own
    * foreachBatch writes, never the sibling stream's.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    compactText(spark, path)
    compactEmbeddings(spark, path)
  }

  /** The doc-side store as a streaming query over a document stream
    * (the embedding side runs the same way off an embedding stream
    * with [[appendEmbeddings]] in its own foreachBatch). Compaction
    * folds ONLY this stream's stores ([[compactText]]) so a sibling
    * embedding stream's committed batches are never swapped out from
    * under it.
    */
  def textPairStream(rows: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    Generations.stream(rows, checkpoint, compactEvery,
      textGroup(storePath).committed(_).size,
      compactText(_, storePath))(
      (batch, batchId) => appendDocs(batch, idCol, textCol, storePath, batchId))
}
