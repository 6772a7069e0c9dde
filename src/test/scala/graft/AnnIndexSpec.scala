package graft

import org.apache.spark.sql.functions._
import graft.engine.{Tables, Tombstones}
import graft.operators.{AnnIndex, Similarity}

/** The persisted IVF+PQ index: I/O round-trip equals the inline
  * operator, queries prune unprobed list partitions at the scan, and
  * appended batches are searchable without retraining.
  */
class AnnIndexSpec extends SparkSpecBase {
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))

  test("stored-index query == inline IVF+PQ under the same seeded codebooks") {
    val dir = tempDir("graft_annidx") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key)
    val inline = Similarity.ivfPqTopKSeeded(emb, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(fromIndex.nonEmpty)
    assert(fromIndex.sameElements(inline),
      s"index round-trip diverged: ${fromIndex.take(3).toSeq} vs ${inline.take(3).toSeq}")
  }

  test("query reads only probed list partitions (PartitionFilters on list_id)") {
    val dir = tempDir("graft_annprune") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 3)
    val plan = AnnIndex.query(spark, dir, probes, k = 3, dim = 64, nprobe = 2)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("list_id"))
    assert(scanLine.isDefined,
      s"enc scan carries no list_id partition filter:\n$plan")
  }

  test("stored-index re-ranked query == inline re-ranked operator") {
    val dir = tempDir("graft_annrr") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIndex.queryReranked(spark, dir, probes, emb, k = 3,
      dim = 64).collect().map(key)
    val inline = Similarity.ivfPqTopKReranked(emb, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(fromIndex.nonEmpty && fromIndex.sameElements(inline),
      "re-ranked index round-trip diverged from the inline operator")
  }

  test("index-fed SemDeDup: incremental appends + tombstones feed the same dedup as inline routing") {
    val dir = tempDir("graft_annsd") + "/idx"
    val half0 = emb.filter(col("vec_id") % 2 === 0)
    val half1 = emb.filter(col("vec_id") % 2 =!= 0)
    // codebook derives from the BUILD corpus (half0); the appended half
    // routes through the persisted codebooks — inline equivalent is the
    // full corpus assigned to that same codebook
    AnnIndex.build(half0, dir, dim = 64)
    AnnIndex.appendBatch(half1, dir, dim = 64, batchId = 1L)
    val fromIndex = Similarity.semanticDedupFromIndex(spark, dir, emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val inline = Similarity.semanticDedupWithCodebook(emb, 0.4,
        Similarity.seededCodebook(half0, 8))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(fromIndex.nonEmpty && fromIndex === inline,
      "index-fed dedup diverged from inline routing on the same codebook")
    // tombstoned ids drop out of the assignment feed (the live mask)
    val victim = fromIndex.head._1
    AnnIndex.delete(emb.filter(col("vec_id") === victim).select("vec_id"), dir)
    val masked = AnnIndex.listAssignments(spark, dir)
      .filter(col("neighbor_id") === victim).count()
    assert(masked === 0L, "tombstoned id still visible in listAssignments")
  }

  test("retried batch append is a no-op once committed — no duplicate codes corrupt ADC sums") {
    val dir = tempDir("graft_annretry") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val extra = probes.withColumn("vec_id", col("vec_id") + 10000L)
    AnnIndex.appendBatch(extra, dir, dim = 64, batchId = 1L)
    val first = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key)
    // a foreachBatch retry re-delivers the SAME batch id
    AnnIndex.appendBatch(extra, dir, dim = 64, batchId = 1L)
    val second = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(first.nonEmpty && first.sameElements(second),
      "retried append changed query results")
  }

  test("tombstone delete: masked immediately, physically dropped by compaction, drained tombstones harmless") {
    val dir = tempDir("graft_anndel") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    // expectation: the pre-delete ranking at full depth, deleted ids
    // filtered, re-cut to k — the ADC scores of survivors are
    // untouched by a delete
    val deep = AnnIndex.query(spark, dir, probes, k = n, dim = 64).collect()
    val expect = deep.groupBy(_.getLong(0)).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(_.getInt(1)).filter(_.getLong(2) % 7 != 0).take(3)
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    }.sortBy(r => (r._1, r._3, r._2))
    AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), dir)
    def gotNow() = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._3, r._2)).toSeq
    val masked = gotNow()
    assert(masked == expect, "query-time tombstone mask diverged")
    assert(masked.forall(_._2 % 7 != 0), "a deleted id survived")
    // the auto-allocated MANUAL id lives at/above 2^40, disjoint from
    // deleteStream's engine batch ids (count from 0) — and a retried
    // delete batch id is a no-op
    val manualId = Tombstones.committed(spark, dir) match {
      case Seq(id) => assert(id >= (1L << 40),
        "manual tombstone id collided with the engine-id namespace"); id
      case other => fail(s"expected one tombstone batch, got $other")
    }
    AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
      dir, batchId = manualId)
    assert(Tombstones.committed(spark, dir) == Seq(manualId))
    // compaction drops the rows physically and drains the tombstones
    AnnIndex.compact(spark, dir)
    assert(Tombstones.committed(spark, dir).isEmpty,
      "compaction did not drain applied tombstones")
    assert(gotNow() == expect, "compaction changed the masked ranking")
    // a tombstone for rows already gone is harmless
    AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), dir)
    assert(gotNow() == expect, "stale tombstone changed results")
  }

  test("compact keeps live tombstones when enc holds no committed generation") {
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft_annnoenc") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), dir)
    val live = Tombstones.committed(spark, dir)
    // a build killed inside its encode once the codebooks had committed:
    // the enc generation never got its commit marker
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$dir/enc")).filter(_.isDirectory)
      .foreach(g => assert(fs.delete(new Path(g.getPath, "_SUCCESS"), false)))
    AnnIndex.compact(spark, dir)
    assert(Tombstones.committed(spark, dir) == live,
      "compact drained tombstones that no fold applied")
    // the retried encode rewrites that generation with the deleted ids
    // in it: only the kept tombstones still hide them
    AnnIndex.appendBatch(emb, dir, dim = 64, batchId = 0L)
    val got = AnnIndex.query(spark, dir, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
      .collect()
    assert(got.nonEmpty && got.forall(_.getLong(2) % 7 != 0),
      "a deleted id came back with the retried append")
  }

  test("delete stream: batched tombstones mask like one batch delete; compactEvery drains them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_anndelstream") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val oneShot = {
      val ref = tempDir("graft_anndelref") + "/idx"
      AnnIndex.build(emb, ref, dim = 64)
      AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), ref)
      AnnIndex.query(spark, ref, probes, k = 3, dim = 64).collect().map(key).toSeq
    }
    val ms = MemoryStream[Long]
    val q = AnnIndex.deleteStream(ms.toDF().toDF("vec_id"), dir,
      tempDir("graft_anndelckpt"), compactEvery = 2)
    val dead = emb.filter(col("vec_id") % 7 === 0)
      .select("vec_id").as[Long].collect().toSeq
    val (d1, d2) = dead.splitAt(dead.size / 2)
    ms.addData(d1: _*); q.processAllAvailable()
    ms.addData(d2: _*); q.processAllAvailable()
    q.stop()
    // two streamed tombstone batches == the one-shot delete
    val streamed = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key).toSeq
    assert(streamed == oneShot, "streamed deletes diverged from batch delete")
    // compactEvery = 2 applied + drained the tombstones physically
    assert(Tombstones.committed(spark, dir).isEmpty,
      "delete stream did not compact its tombstones away")
  }

  test("streaming ingestion: first micro-batch builds the index, later ones append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_annstream")
    val dir = s"$base/idx"
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndex.indexStream(ms.toDF().toDF("vec_id", "embedding"),
      dir, s"$base/ckpt", dim = 64)
    try {
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      assert(AnnIndex.exists(spark, dir), "first micro-batch did not build")
      ms.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val probes = emb.filter(col("vec_id") < 10)
    val got = AnnIndex.query(spark, dir, probes, k = 5, dim = 64).collect()
    assert(got.nonEmpty)
    val neighbors = got.map(_.getLong(2)).toSet
    assert(neighbors.exists(_ % 2 == 1),
      s"appended (odd-id) vectors never surface in results: $neighbors")
  }

  test("streaming ingest with rebuildAt retrains once the appended mass crosses the trigger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_annretrain")
    val dir = s"$base/idx"
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    // the retrain source: the caller's raw tier — here the full table
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndex.indexStream(ms.toDF().toDF("vec_id", "embedding"),
      dir, s"$base/ckpt", dim = 64, rebuildAt = 0.9,
      rebuildCorpus = _ => emb)
    try {
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq) // builds (trains)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 4 == 1).toSeq) // ~0.5 appended — quiet
      q.processAllAvailable()
      assert(!AnnIndex.needsRebuild(spark, dir, 0.9),
        "trigger fired below the threshold")
      val fHalf = AnnIndex.appendedFraction(spark, dir)
      assert(fHalf > 0.3, s"append did not register: $fHalf")
      ms.addData(rows.filter(_._1 % 4 == 3).toSeq) // crosses 0.9 — retrains
      q.processAllAvailable()
    } finally q.stop()
    assert(AnnIndex.appendedFraction(spark, dir) === 0.0,
      "the stream-fired rebuild must reset the index age")
    // the retrained index IS a fresh seeded build over the full corpus
    // (codebooks derive from the corpus, batch id is irrelevant)
    val probes = emb.filter(col("vec_id") < 10)
    val fresh = tempDir("graft_annretrain_ref") + "/idx"
    AnnIndex.build(emb, fresh, dim = 64)
    val got = AnnIndex.query(spark, dir, probes, k = 5, dim = 64).collect().map(key)
    val ref = AnnIndex.query(spark, fresh, probes, k = 5, dim = 64).collect().map(key)
    assert(got.nonEmpty && got.sameElements(ref),
      "stream-retrained index diverged from a fresh full-corpus build")
  }

  test("streaming ingest with compactEvery bounds generations without changing results") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_annstreamc")
    val dir = s"$base/idx"
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndex.indexStream(ms.toDF().toDF("vec_id", "embedding"),
      dir, s"$base/ckpt", dim = 64, compactEvery = 2)
    try {
      Seq(0, 1, 2).foreach { third =>
        ms.addData(rows.filter(_._1 % 3 == third).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/enc"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
    assert(batchDirs.length == 1,
      s"auto-compaction left ${batchDirs.toSeq} generations")
    // completeness is exact at the index level: every ingested vector
    // has its codes in the single surviving generation, exactly once
    val encIds = spark.read.parquet(s"$dir/enc")
      .select("neighbor_id").distinct().count()
    val encRows = spark.read.parquet(s"$dir/enc")
      .groupBy("neighbor_id").count().filter(col("count") =!= 8).count()
    assert(encIds == rows.length,
      s"compacted index holds $encIds of ${rows.length} vectors")
    assert(encRows == 0, "a vector's codes were duplicated or truncated")
    val probes = emb.filter(col("vec_id") < 10)
    assert(AnnIndex.query(spark, dir, probes, k = 5, dim = 64).collect().nonEmpty)
  }

  test("rebuild on an existing path drops every stale encoded generation") {
    val dir = tempDir("graft_annrebuild") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    // grow the index, then REBUILD (retrain codebooks) — old codes
    // decoded against new codebooks would silently corrupt ADC sums,
    // so rebuild must drop the appended generation too
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 10000L),
      dir, dim = 64)
    AnnIndex.build(emb, dir, dim = 64)
    val rebuilt = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key)
    val fresh = Similarity.ivfPqTopKSeeded(emb, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(rebuilt.nonEmpty && rebuilt.sameElements(fresh),
      "rebuild left stale codes in the index")
    assert(!rebuilt.exists(_._3 >= 10000L),
      "pre-rebuild appended vectors survived the rebuild")
  }

  test("exists() is false until BOTH codebooks are committed (crashed build self-heals via rebuild)") {
    val dir = tempDir("graft_annpartial") + "/idx"
    assert(!AnnIndex.exists(spark, dir))
    AnnIndex.build(emb, dir, dim = 64)
    assert(AnnIndex.exists(spark, dir))
    // simulate a build killed mid-codebook-write: sub/ lost its commit
    // marker — the index must read as "absent" so a retrying stream
    // rebuilds instead of appending against partial codebooks
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/sub/_SUCCESS"), false)
    assert(!AnnIndex.exists(spark, dir),
      "partial codebooks still read as a committed index")
    intercept[IllegalArgumentException] {
      AnnIndex.appendBatch(emb.limit(1), dir, dim = 64)
    }
    AnnIndex.build(emb, dir, dim = 64) // the retry path
    assert(AnnIndex.exists(spark, dir))
  }

  test("compaction merges batch generations without changing query results") {
    val dir = tempDir("graft_anncompact") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 10000L),
      dir, dim = 64)
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 20000L),
      dir, dim = 64)
    val before = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    AnnIndex.compact(spark, dir)
    val after = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    assert(before.nonEmpty && before.sameElements(after),
      "compaction changed query results")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // merged generation keeps the MAX folded id (2), so a streaming
    // retry of the last engine batch still reads as committed
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/enc"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
    assert(batchDirs.toSeq == Seq("batch_id=2"),
      s"compaction left multiple generations: ${batchDirs.toSeq}")
    // the last-batch retry is a no-op against the compacted generation
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 20000L),
      dir, dim = 64, batchId = 2L)
    val retried = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    assert(retried.sameElements(after),
      "post-compaction retry of the folded last batch re-appended rows")
    // still appendable and prunable afterwards
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 30000L),
      dir, dim = 64)
    val plan = AnnIndex.query(spark, dir, probes, k = 3, dim = 64, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("list_id")),
      "partition pruning lost after compaction")
  }

  test("a compaction killed at any swap step heals to a complete index") {
    import org.apache.hadoop.fs.Path
    val probes = emb.filter(col("vec_id") < 10)
    def freshIndex(tag: String): (String, Array[(Long, Int, Long, Double)]) = {
      val dir = tempDir(s"graft_anncrash$tag") + "/idx"
      AnnIndex.build(emb, dir, dim = 64)
      AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 10000L),
        dir, dim = 64)
      (dir, AnnIndex.query(spark, dir, probes, k = 5, dim = 64).collect().map(key))
    }
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stageCompacted(dir: String): Path = {
      // reproduce compact()'s staging step without its swap (indexes
      // here hold batches 0 and 1, so the merged generation is 1)
      val staging = new Path(s"$dir/enc._compacting")
      spark.read.parquet(s"$dir/enc")
        .withColumn("batch_id", lit(1L))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("batch_id", "list_id").parquet(staging.toString)
      fs.create(new Path(staging, "batch_id=1/_SUCCESS")).close()
      staging
    }
    // state 1: killed BEFORE the first rename (staging complete, enc
    // intact) → heal rolls back the staging; old index serves
    val (d1, r1) = freshIndex("a")
    stageCompacted(d1)
    val h1 = AnnIndex.query(spark, d1, probes, k = 5, dim = 64).collect().map(key)
    assert(h1.sameElements(r1) && !fs.exists(new Path(s"$d1/enc._compacting")))
    // state 2: killed BETWEEN the renames (enc moved to backup, staging
    // complete) → heal rolls FORWARD to the compacted generation
    val (d2, r2) = freshIndex("b")
    stageCompacted(d2)
    assert(fs.rename(new Path(s"$d2/enc"), new Path(s"$d2/enc._old")))
    val h2 = AnnIndex.query(spark, d2, probes, k = 5, dim = 64).collect().map(key)
    assert(h2.sameElements(r2) && !fs.exists(new Path(s"$d2/enc._old")))
    // state 3: killed mid-STAGING-write (no reader gate) after enc was
    // never touched; an uncommitted staging must roll back, and a
    // backup-only state (staging lost) must roll back to the backup
    val (d3, r3) = freshIndex("c")
    val st3 = stageCompacted(d3)
    fs.delete(new Path(st3, "batch_id=1/_SUCCESS"), false)
    assert(fs.rename(new Path(s"$d3/enc"), new Path(s"$d3/enc._old")))
    val h3 = AnnIndex.query(spark, d3, probes, k = 5, dim = 64).collect().map(key)
    assert(h3.sameElements(r3), "uncommitted staging did not roll back to backup")
  }

  test("learned-codebook build: stored query == inline learned operator; recall not below seeded") {
    val dir = tempDir("graft_annlearned") + "/idx"
    AnnIndex.buildLearned(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    val fromIndex = AnnIndex.query(spark, dir, probes, k = 3, dim = 64)
      .collect().map(key)
    val inline = Similarity.ivfPqTopKLearned(emb, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(fromIndex.nonEmpty && fromIndex.sameElements(inline),
      "learned-index round-trip diverged from the inline learned operator")
    // recall@3 vs exact: the Lloyd-refined codebooks must not rank
    // WORSE than the seeded sample they started from
    val exact = Similarity.bruteForceTopK(emb, probes, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(rows: Array[(Long, Int, Long, Double)]): Double =
      rows.count(r => exact.contains((r._1, r._3))).toDouble / exact.size
    val seededDir = tempDir("graft_annseed") + "/idx"
    AnnIndex.build(emb, seededDir, dim = 64)
    val seeded = AnnIndex.query(spark, seededDir, probes, k = 3, dim = 64)
      .collect().map(key)
    assert(recall(fromIndex) >= recall(seeded),
      s"learned recall ${recall(fromIndex)} below seeded ${recall(seeded)}")
  }

  test("a stray enc/_manifest from an older index never changes results") {
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft_annmanifest") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    AnnIndex.appendBatch(probes.withColumn("vec_id", col("vec_id") + 10000L),
      dir, dim = 64)
    val want = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new Path(s"$dir/enc/_manifest")
    def overwrite(txt: String): Unit = {
      val out = fs.create(mf, true)
      out.write(txt.getBytes("UTF-8")); out.close()
    }
    // stale: claims a batch that was never written, misses batch 1
    overwrite("0,999")
    val got1 = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    assert(got1.sameElements(want), "stale manifest changed results")
    // corrupt: unparseable
    overwrite("not-a-manifest")
    val got2 = AnnIndex.query(spark, dir, probes, k = 5, dim = 64)
      .collect().map(key)
    assert(got2.sameElements(want), "corrupt manifest changed results")
  }

  test("appended exact-duplicate vectors become searchable without retraining") {
    val dir = tempDir("graft_annapp") + "/idx"
    AnnIndex.build(emb, dir, dim = 64)
    val probes = emb.filter(col("vec_id") < 10)
    // append copies of the probe vectors under new ids: they quantize
    // to the probes' own codes, so each lands in the probe's own list
    // with the minimal possible ADC distance for that probe
    AnnIndex.appendBatch(
      probes.withColumn("vec_id", col("vec_id") + 10000L), dir, dim = 64)
    val got = AnnIndex.query(spark, dir, probes, k = 3, dim = 64).collect()
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.size),
        s"query $q ranks not dense")
      assert(rows.exists(_.getLong(2) == q + 10000L),
        s"appended duplicate of $q not in its top-3: ${rows.map(_.getLong(2)).toSeq}")
    }
  }

  test("appended-fraction rebuild trigger: tracks mass not batch count, fires at the pinned threshold") {
    // The RecallDecayProbe curve (SCALING.md) shows recall loss under
    // quantize-without-retrain appends tracks the appended FRACTION of
    // the corpus, independent of how many batches deliver it — so the
    // maintenance trigger is the fraction, pinned here at its 1.0
    // default ("appended as much as was trained").
    val dir = tempDir("graft_annfrac") + "/idx"
    val base = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    AnnIndex.build(base, dir, dim = 64)
    assert(AnnIndex.appendedFraction(spark, dir) === 0.0)
    assert(!AnnIndex.needsRebuild(spark, dir))
    // deliver ~the first half of rest in 3 batches: fraction climbs
    // with MASS (same mass in more batches = same fraction), trigger
    // stays quiet below 1.0
    AnnIndex.appendBatch(rest.filter(col("vec_id") % 4 === 1), dir,
      dim = 64, batchId = 1L)
    val fHalf = AnnIndex.appendedFraction(spark, dir)
    assert(fHalf > 0.3 && fHalf < 0.8, s"half-mass fraction off: $fHalf")
    assert(!AnnIndex.needsRebuild(spark, dir),
      "trigger must not fire below the pinned threshold")
    // the remaining mass arrives; appended ~= trained -> trigger fires
    // (asserted at 0.9: an odd corpus makes the even/odd split off by
    // one, so "exactly 1.0" would flake on testdata regeneration)
    AnnIndex.appendBatch(rest.filter(col("vec_id") % 4 === 3), dir,
      dim = 64, batchId = 2L)
    val fFull = AnnIndex.appendedFraction(spark, dir)
    assert(fFull > 0.9, s"full-mass fraction off: $fFull")
    assert(AnnIndex.needsRebuild(spark, dir, maxAppendedFraction = 0.9),
      "trigger must fire once appended mass rivals trained mass")
    // compaction folds generations but must NOT reset index age
    AnnIndex.compact(spark, dir)
    assert(AnnIndex.needsRebuild(spark, dir, maxAppendedFraction = 0.9),
      "compaction is not a retrain — the trigger must survive the fold")
    // a retrain resets the clock
    AnnIndex.build(emb, dir, dim = 64)
    assert(AnnIndex.appendedFraction(spark, dir) === 0.0)
    assert(!AnnIndex.needsRebuild(spark, dir))
  }
}
