package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{BatchStore, Tables}
import graft.operators.{Dedup, PairStore, Similarity}

/** The persisted near-dup pair store: incremental mining must equal
  * the one-shot operators bit-for-bit (that equivalence is what lets
  * the store-fed audits q142/q180/q325/q329 keep their one-shot DuckDB
  * oracles), retries of committed batches must be no-ops, a crash
  * between the pair and state commits must re-mine instead of losing
  * the batch, and compaction must be invisible to readers.
  */
class PairStoreSpec extends SparkSpecBase {
  private def tmp(): String =
    tempDir("graft_pairstore") + "/store"

  private def docs: DataFrame = Tables.documents(spark, sf("sf0.001"))
  private def emb: DataFrame = Tables.embeddings(spark, sf("sf0.001"))

  private def buildText(path: String, nBatches: Int = 3): Unit =
    (0L until nBatches.toLong).foreach { b =>
      PairStore.appendDocs(docs.filter(col("doc_id") % nBatches === b),
        "doc_id", "text", path, b)
    }

  private def textPairsOf(path: String): Set[(Long, Long, Double)] =
    PairStore.pairs(spark, path).filter(col("signal") === "ngram")
      .select("doc_a", "doc_b", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def oneShotText: Set[(Long, Long, Double)] =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        gramHash = Some(graft.functions.XxHash64Family))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental text mining equals one-shot ngramJaccardPairs") {
    val path = tmp()
    buildText(path)
    val expected = oneShotText
    assert(expected.nonEmpty, "fixture must mine at least one pair")
    assert(textPairsOf(path) === expected)
  }

  test("incremental embedding mining equals one-shot lshNeighborPairs") {
    val path = tmp()
    (0L to 2L).foreach { b =>
      PairStore.appendEmbeddings(emb.filter(col("vec_id") % 3 === b),
        emb, path, b, threshold = 0.4)
    }
    val expected = Similarity.lshNeighborPairs(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture must mine at least one pair")
    val got = PairStore.pairs(spark, path).filter(col("signal") === "emb")
      .select("doc_a", "doc_b", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("a retried committed batch is a no-op") {
    val path = tmp()
    buildText(path)
    val before = textPairsOf(path)
    // re-deliver batch 1 (same rows — the streaming retry contract)
    PairStore.appendDocs(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", path, 1L)
    assert(textPairsOf(path) === before)
  }

  test("crash between sizes and grams commits re-mines on retry") {
    val path = tmp()
    buildText(path, nBatches = 2)
    // simulate the NARROWEST crash window in batch 1's commit sequence
    // (pairs → sizes → grams): pairs AND sizes committed, only the
    // grams gate missing — the retry must treat the committed sizes
    // dir as an orphan (drop + recompute), not as standing state
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams/batch_id=1"), true)
    // retry must re-mine batch 1 (overwriting its pair and sizes dirs)
    // and land the state — NOT skip on the already-committed dirs
    PairStore.appendDocs(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, 1L)
    assert(textPairsOf(path) === oneShotText)
    assert(BatchStore.committedBatches(spark, s"$path/grams") === Seq(0L, 1L))
  }

  test("pairs of a batch whose grams gate never committed stay invisible to readers") {
    val path = tmp()
    buildText(path, nBatches = 2)
    // batch 1 killed after its pair and sizes dirs committed, before grams
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams/batch_id=1"), true))
    val committed = tmp()
    PairStore.appendDocs(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", committed, 0L)
    def rows(p: String) = PairStore.pairs(spark, p).collect().map(_.toString).toSeq.sorted
    assert(rows(path) === rows(committed))
  }

  test("crash-window orphan + compaction + retry preserves every pair") {
    // the aliasing trap, in the narrowest window (only the grams gate
    // missing): pairs/batch_id=1 AND sizes/batch_id=1 committed, then
    // a maintenance compaction folds the stores — without the orphan
    // drop the fold would absorb batch 0's pairs/sizes into the
    // batch_id=1 dirs the retry then OVERWRITES with only batch 1's
    // rows: batch 0's pairs destroyed outright, and batch 0's sizes
    // loss silently empties the retry's standing side so its
    // new×standing pairs vanish from the re-mined batch
    val path = tmp()
    buildText(path, nBatches = 2)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/grams/batch_id=1"), true)
    PairStore.compactText(spark, path) // stream-down maintenance
    // the orphan pair AND sizes generations must be gone (not folded)
    assert(!BatchStore.committedBatches(spark, s"$path/text_pairs").contains(1L))
    assert(!BatchStore.committedBatches(spark, s"$path/sizes").contains(1L))
    PairStore.appendDocs(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, 1L) // streaming retry
    assert(textPairsOf(path) === oneShotText)
  }

  test("compaction killed mid-swap of the grams store heals before the orphan drop") {
    // the state store's OWN compaction crashing between its two swap
    // renames leaves the grams root absent (backup / committed staging
    // pending) — a retry of compactText must heal the gate root BEFORE
    // computing orphans, or it reads zero committed grams generations
    // and deletes every committed pair/sizes dir as an orphan:
    // permanent pair loss, since those docs stay standing in the
    // healed grams store and are never re-mined
    val path = tmp()
    buildText(path, nBatches = 3)
    val expected = oneShotText
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the kill between rename(store → backup) and
    // rename(staging → store): the gate root is missing and only the
    // backup holds the committed generations (the staging-committed
    // variant is equivalent for the drop — both windows read zero
    // committed gate batches until heal runs)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/grams"),
      new org.apache.hadoop.fs.Path(s"$path/grams._old")))
    PairStore.compactText(spark, path) // maintenance retry
    assert(BatchStore.committedBatches(spark, s"$path/grams").nonEmpty,
      "heal must restore the gate store")
    assert(textPairsOf(path) === expected,
      "no committed pair may be dropped as a false orphan")
  }

  test("compaction folds to one generation and is invisible to readers") {
    val path = tmp()
    buildText(path)
    val before = textPairsOf(path)
    PairStore.compact(spark, path)
    assert(BatchStore.committedBatches(spark, s"$path/text_pairs") === Seq(2L))
    assert(BatchStore.committedBatches(spark, s"$path/grams") === Seq(2L))
    assert(textPairsOf(path) === before)
    // a post-compaction increment keeps mining against the folded state:
    // appending an empty batch is a no-op, a fresh higher id works
    PairStore.appendDocs(docs.filter(col("doc_id") < 0), "doc_id", "text",
      path, 3L)
    assert(textPairsOf(path) === before)
  }

  test("text pair stream: micro-batches mine incrementally to the one-shot pair set") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tmp()
    val ckpt = tempDir("graft_ps_ckpt")
    val corpus = docs.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = PairStore.textPairStream(ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", path, ckpt, compactEvery = 2)
    val (h1, h2) = corpus.partition(_._1 % 2 == 0)
    ms.addData(h1.toSeq: _*)
    q.processAllAvailable()
    ms.addData(h2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(textPairsOf(path) === oneShotText)
  }

  test("reader on an empty or half-built store yields typed empties") {
    val path = tmp()
    val empty = PairStore.pairs(spark, path)
    assert(empty.columns.toSeq === Seq("doc_a", "doc_b", "score", "signal"))
    assert(empty.count() === 0L)
    // docs-only store: emb signal contributes zero rows, text reads
    buildText(path, nBatches = 2)
    val half = PairStore.pairs(spark, path)
    assert(half.filter(col("signal") === "emb").count() === 0L)
    assert(half.filter(col("signal") === "ngram").count() > 0L)
  }
}
