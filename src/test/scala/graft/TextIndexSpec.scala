package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.engine.{Tables, Tombstones}
import graft.operators.{TextAnalysis, TextIndex}

/** The persisted inverted text index: I/O-equality with the inline
  * BM25 operator, idempotent batch appends, crash-heal of half-written
  * batches, compaction invariance, partition pruning, and streaming
  * ingestion — the same contract surface as AnnIndexSpec.
  */
class TextIndexSpec extends SparkSpecBase {
  private lazy val docs = Tables.documents(spark, sf("sf0.001")).cache()
  private lazy val corpus = docs.filter(col("source") =!= "src0")
    .select("doc_id", "text").localCheckpoint()
  private lazy val probes = docs
    .filter(col("source") === "src0" && col("doc_id") % 50 === 0)
    .select(col("doc_id").as("query_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext"))
    .localCheckpoint()

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))

  private lazy val inline = TextAnalysis.bm25TopK(
    corpus, "doc_id", "text", probes, "query_id", "qtext", k = 10)
    .collect().map(key)

  private def buildTwoBatches(tag: String): String = {
    val path = tempDir(s"graft_tidx$tag") + "/idx"
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path, batchId = 0L)
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, batchId = 1L)
    path
  }

  test("two-batch index query == inline BM25 on the full corpus") {
    val path = buildTwoBatches("eq")
    val got = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .collect().map(key)
    assert(inline.nonEmpty && got.toSeq == inline.toSeq)
  }

  test("an append after a compaction killed between its swap renames keeps every generation") {
    val path = tempDir("graft_tidx_swapkill") + "/idx"
    Seq(0L, 1L).foreach(b => TextIndex.appendBatch(corpus.filter(col("doc_id") % 3 === b),
      "doc_id", "text", path, batchId = b))
    // the postings fold's first rename parked the live dir in its backup
    val postings = new Path(path + "/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(postings, graft.engine.StagedSwap.backup(postings)))
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", path, batchId = 2L)
    assert(TextIndex.committedBatches(spark, path) == Seq(0L, 1L, 2L),
      "the append recreated the postings beside their backup and lost earlier generations")
    val got = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .collect().map(key)
    assert(got.toSeq == inline.toSeq)
  }

  test("a retried append is a no-op; a half-written batch heals on retry") {
    val path = buildTwoBatches("retry")
    // retry of a committed batch: no change
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, batchId = 1L)
    assert(TextIndex.committedBatches(spark, path) == Seq(0L, 1L))
    // writer killed between postings and stats: batch invisible...
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path + "/stats/batch_id=1"), true)
    assert(TextIndex.committedBatches(spark, path) == Seq(0L))
    // ...and the retry rewrites BOTH pieces
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path, batchId = 1L)
    val got = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .collect().map(key)
    assert(got.toSeq == inline.toSeq)
  }

  private def threeBatches(tag: String): String = {
    val path = tempDir(s"graft_tidx$tag") + "/idx"
    Seq(0L, 1L, 2L).foreach(b => TextIndex.appendBatch(corpus.filter(col("doc_id") % 3 === b),
      "doc_id", "text", path, batchId = b))
    path
  }

  private def top10(path: String) =
    TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10).collect().map(key).toSeq

  test("a compaction killed between the postings and stats folds answers as before, scores included") {
    val path = threeBatches("_foldkill")
    val before = top10(path)
    // the state such a kill leaves: the postings fold committed, the
    // stats fold never ran
    graft.engine.BatchStore.compact(spark, path + "/postings",
      subPartitionCols = Seq("tok_bucket"))
    assert(top10(path) == before)
    TextIndex.compact(spark, path)
    assert(top10(path) == before)
  }

  test("compact drops an append's orphan postings, so the append's retry loses nothing") {
    val path = threeBatches("_orphan")
    // appendBatch(2) killed after its postings committed: no stats dir
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(path + "/stats/batch_id=2"), true))
    TextIndex.compact(spark, path)
    TextIndex.appendBatch(corpus.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", path, batchId = 2L)
    val oneShot = tempDir("graft_tidx_oneshot") + "/idx"
    TextIndex.appendBatch(corpus, "doc_id", "text", oneShot, batchId = 0L)
    assert(top10(path) == top10(oneShot))
  }

  test("compaction folds to one generation with identical query results") {
    val path = buildTwoBatches("cmp")
    TextIndex.compact(spark, path)
    assert(TextIndex.committedBatches(spark, path) == Seq(1L),
      "all generations should fold to the max committed id")
    val got = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .collect().map(key)
    assert(got.toSeq == inline.toSeq)
    // stats folded to a single row (constant size regardless of history)
    assert(spark.read.parquet(path + "/stats").count() == 1)
  }

  test("query scans only the probed token buckets (PartitionFilters on tok_bucket)") {
    val path = buildTwoBatches("prune")
    val plan = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("tok_bucket"))
    assert(scanLine.isDefined,
      s"postings scan carries no tok_bucket partition filter:\n$plan")
  }

  test("phrase search: overlaps counted, duplicate-token phrases, compaction-safe") {
    import spark.implicits._
    val path = tempDir("graft_tidx_phrase") + "/idx"
    val corpus2 = Seq(
      (1L, "a a a a"),        // "a a" occurs at bases 0,1,2 (overlaps)
      (2L, "x a b a b a y"),  // "a b a" at bases 1 and 3
      (3L, "a b c d"),        // no match for either probe
      (4L, "b a a b")         // "a a" once
    ).toDF("doc_id", "text")
    TextIndex.appendBatch(corpus2.filter(col("doc_id") <= 2),
      "doc_id", "text", path, batchId = 0L)
    TextIndex.appendBatch(corpus2.filter(col("doc_id") > 2),
      "doc_id", "text", path, batchId = 1L)
    val qs = Seq((100L, "a a"), (200L, "a b a")).toDF("query_id", "phrase")
    def run() = TextIndex.phraseSearch(spark, path, qs, "query_id", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq((100L, 1L, 3L), (100L, 4L, 1L), (200L, 2L, 2L))
    assert(run() == expected)
    // positions (and the phrase answers) survive the generation fold
    TextIndex.compact(spark, path)
    assert(run() == expected)
  }

  test("phrase search beyond 64 tokens: chunked coverage mask") {
    import spark.implicits._
    val path = tempDir("graft_tidx_long") + "/idx"
    // doc 1 contains the 70-token phrase once (at base 5); doc 2 is a
    // near-miss (one token flipped inside the phrase's SECOND 64-token
    // word — the exact bits a wrapped shift would corrupt); doc 3 is
    // 100 repeats of one token, so a 65-token all-same phrase matches
    // at 36 overlapping bases (duplicate tokens across both words)
    val longToks = (0 until 80).map(i => s"t$i")
    val phrase = longToks.slice(5, 75) // 70 tokens -> words 0 and 1
    val miss = longToks.updated(72, "zz") // tok_idx 67 of the phrase
    val corpus2 = Seq(
      (1L, longToks.mkString(" ")),
      (2L, miss.mkString(" ")),
      (3L, Seq.fill(100)("r").mkString(" "))
    ).toDF("doc_id", "text")
    TextIndex.appendBatch(corpus2, "doc_id", "text", path, batchId = 0L)
    val qs = Seq(
      (100L, phrase.mkString(" ")),
      (200L, Seq.fill(65)("r").mkString(" ")),
      (300L, "t5 t6") // short phrase rides the chunked plan unchanged
    ).toDF("query_id", "phrase")
    val got = TextIndex.phraseSearch(spark, path, qs, "query_id", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq((100L, 1L, 1L), (200L, 3L, 36L),
      (300L, 1L, 1L), (300L, 2L, 1L))
    assert(got == expected)
  }

  test("phrase search over the real corpus matches a brute-force scan") {
    val path = buildTwoBatches("ph2")
    val qs = docs.filter(col("source") === "src0" && col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(col("text"), " "), 2, 3)).as("phrase"))
      .localCheckpoint()
    val got = TextIndex.phraseSearch(spark, path, qs, "query_id", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // brute force: slide each phrase over each corpus doc's tokens
    val corpusRows = corpus.collect().map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val probeRows = qs.collect().map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val expected = (for {
      (qid, ph) <- probeRows
      (did, toks) <- corpusRows
      n = (0 to toks.length - ph.length)
        .count(b => ph.indices.forall(j => toks(b + j) == ph(j)))
      if n > 0
    } yield (qid, did, n.toLong)).sortBy(t => (t._1, t._2)).toSeq
    assert(expected.nonEmpty, "degenerate fixture: no phrase matches at sf0.001")
    assert(got == expected)
  }

  test("streaming ingestion builds the same index as batch appends") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tempDir("graft_tidx_stream") + "/idx"
    val ckpt = tempDir("graft_tidx_ckpt")
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = TextIndex.indexStream(ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", path, ckpt, compactEvery = 2)
    val (front, back) = rows.splitAt(rows.length / 2)
    ms.addData(front.toIndexedSeq)
    q.processAllAvailable()
    ms.addData(back.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val got = TextIndex.query(spark, path, probes, "query_id", "qtext", k = 10)
      .collect().map(key)
    assert(got.toSeq == inline.toSeq)
    assert(TextIndex.committedBatches(spark, path).size == 1,
      "compactEvery=2 should have folded the stream's generations")
  }

  test("tombstone deletes: mask == deep-rank filter; compact re-fits stats == inline on survivors") {
    val path = buildTwoBatches("_del")
    val deadIds = corpus.filter(col("doc_id") % 7 === 0).select("doc_id")
    // pre-delete ranking, deep (k large enough that filtering the dead
    // docs out still leaves 10 per query)
    val deep = TextIndex.query(spark, path, probes, "query_id", "qtext",
      k = 30).collect().map(key)
    TextIndex.delete(deadIds, "doc_id", path)
    val dead = deadIds.collect().map(_.getLong(0)).toSet
    // masked query: stats are stale (Lucene semantics) so surviving
    // docs keep their exact pre-delete scores — the masked top-10 is
    // the pre-delete ranking minus dead docs, ranks renumbered
    val masked = TextIndex.query(spark, path, probes, "query_id", "qtext",
      k = 10).collect().map(key)
    val expect = deep.filterNot(r => dead.contains(r._3))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(_._2).zipWithIndex
          .map { case (r, i) => (r._1, i + 1, r._3, r._4) }.toSeq
      }.filter(_._2 <= 10).sortBy(r => (r._1, r._2))
    assert(masked.toSeq.sortBy(r => (r._1, r._2)) == expect,
      "masked ranking != deep-rank filter of the pre-delete ranking")
    assert(masked.forall(r => !dead.contains(r._3)))
    // the auto-allocated MANUAL id lives at/above 2^40, disjoint from
    // deleteStream's engine batch ids (count from 0) — and a retried
    // tombstone batch id is a no-op
    val manualId = Tombstones.committed(spark, path) match {
      case Seq(id) => assert(id >= (1L << 40),
        "manual tombstone id collided with the engine-id namespace"); id
      case other => fail(s"expected one tombstone batch, got $other")
    }
    TextIndex.delete(deadIds, "doc_id", path, batchId = manualId)
    assert(Tombstones.committed(spark, path) == Seq(manualId))
    // compact: folds minus dead, RE-FITS stats, drains the tombstones
    TextIndex.compact(spark, path)
    assert(Tombstones.committed(spark, path).isEmpty,
      "compaction should drain applied tombstones")
    val survivors = corpus.filter(col("doc_id") % 7 =!= 0)
    val inlineSurv = TextAnalysis.bm25TopK(survivors, "doc_id", "text",
      probes, "query_id", "qtext", k = 10).collect().map(key)
    val afterCompact = TextIndex.query(spark, path, probes, "query_id",
      "qtext", k = 10).collect().map(key)
    assert(afterCompact.toSeq == inlineSurv.toSeq,
      "compacted index != inline BM25 on the surviving corpus")
    // a stale tombstone (already drained id, re-delivered) is harmless
    TextIndex.delete(deadIds, "doc_id", path, batchId = 0L)
    TextIndex.compact(spark, path)
    assert(TextIndex.query(spark, path, probes, "query_id", "qtext",
      k = 10).collect().map(key).toSeq == inlineSurv.toSeq)
  }

  test("tombstone delete on a single-generation index folds under force-compact") {
    val path = tempDir("graft_tidx_del1") + "/idx"
    TextIndex.appendBatch(corpus, "doc_id", "text", path, batchId = 0L)
    TextIndex.delete(corpus.filter(col("doc_id") % 7 === 0)
      .select("doc_id"), "doc_id", path)
    TextIndex.compact(spark, path) // one batch + tombstones must still fold
    assert(Tombstones.committed(spark, path).isEmpty)
    val inlineSurv = TextAnalysis.bm25TopK(
      corpus.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
      probes, "query_id", "qtext", k = 10).collect().map(key)
    assert(TextIndex.query(spark, path, probes, "query_id", "qtext",
      k = 10).collect().map(key).toSeq == inlineSurv.toSeq)
  }

  /** An index whose postings generation lost its commit marker (a
    * rewrite killed mid-way) while tombstones are pending: the postings
    * store holds no committed generation, so the fold has nothing to
    * fold and does not commit.
    */
  private def uncommittedPostingsWithTombstones(tag: String): String = {
    val path = tempDir(s"graft_tidx_$tag") + "/idx"
    TextIndex.appendBatch(corpus, "doc_id", "text", path, batchId = 0L)
    TextIndex.delete(corpus.filter(col("doc_id") % 7 === 0)
      .select("doc_id"), "doc_id", path)
    val marker = new Path(path + "/postings/batch_id=0/_SUCCESS")
    assert(marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false))
    path
  }

  test("tombstones drain when the postings store holds no committed generation") {
    val path = uncommittedPostingsWithTombstones("drain")
    assert(Tombstones.committed(spark, path).nonEmpty)
    TextIndex.compact(spark, path)
    assert(Tombstones.committed(spark, path).isEmpty,
      "tombstones against an empty postings store never drain")
  }

  test("a fold that does not commit leaves the stats store as it was") {
    val path = uncommittedPostingsWithTombstones("stats")
    def stats() = graft.engine.BatchStore.read(spark, path + "/stats")
      .collect().map(_.toString).toSeq.sorted
    val before = stats()
    TextIndex.compact(spark, path)
    assert(stats() == before, "stats re-fit from postings the fold never committed")
  }
}
