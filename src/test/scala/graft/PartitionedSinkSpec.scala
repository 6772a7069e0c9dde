package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.{PartitionedSink, Tables}

class PartitionedSinkSpec extends SparkSpecBase {
  test("date-partitioned sink prunes partitions for watermark predicates") {
    val dir = tempDir("graft_part") + "/events"
    val events = Tables.events(spark, sf("sf0.001"))
    PartitionedSink.writeByDate(events, "ts", dir)

    val filtered = PartitionedSink.readByDate(spark, dir)
      .filter(col("p_date") > lit(java.sql.Date.valueOf("2024-01-20")))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"),
      s"no partition filter:\n$plan")
    // pruning is real: fewer files read than exist
    val expected = events.filter(to_date(col("ts")) > lit(java.sql.Date.valueOf("2024-01-20"))).count()
    assert(filtered.count() == expected)
  }

  test("idempotent append commits atomically: a writer killed mid-publish leaves the old version") {
    import graft.engine.IdempotentSink
    import spark.implicits._
    val dir = tempDir("graft_atomic") + "/t"
    IdempotentSink.appendIfAbsent(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    assert(IdempotentSink.read(spark, dir).count() == 2)
    // writer A: staged batch 1 durably (_SUCCESS on disk) but was
    // killed BEFORE its single commit rename
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$dir/._staging_batch=1")
    // writer B: killed MID-stage (no _SUCCESS)
    Seq((4L, "d")).toDF("k", "v").write.parquet(s"$dir/._staging_batch=2")
    assert(new java.io.File(s"$dir/._staging_batch=2/_SUCCESS").delete())
    // a reader that does NOT heal sees exactly the old committed rows —
    // both staging dirs are invisible (leading-dot paths)
    assert(spark.read.parquet(dir).count() == 2)
    // heal (run by every read/append): durable staging rolls FORWARD,
    // partial staging rolls back — either way the table is complete
    val healed = IdempotentSink.read(spark, dir)
    assert(healed.select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith("._staging")),
      "staging leftovers survived heal")
    // and the next append keeps key-idempotency over the healed state
    IdempotentSink.appendIfAbsent(spark,
      Seq((3L, "dup"), (5L, "e")).toDF("k", "v"), dir, Seq("k"))
    assert(IdempotentSink.read(spark, dir).select("k").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 5L))
  }

  test("a legacy flat-append table migrates into the batch layout on heal") {
    import graft.engine.IdempotentSink
    import spark.implicits._
    val dir = tempDir("graft_legacy") + "/t"
    // pre-batch layout: loose part files at the table root — under the
    // batch contract this reads as "not a table", so an un-migrated
    // append would skip key-dedup and then mix hive/non-hive layouts
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    IdempotentSink.appendIfAbsent(spark,
      Seq((2L, "dup"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    assert(IdempotentSink.read(spark, dir).select("k").as[Long].collect().toSet
      == Set(1L, 2L, 3L), "legacy rows lost or duplicate key admitted")
    val root = new java.io.File(dir)
    assert(!root.listFiles.exists(f => f.isFile && f.getName.startsWith("part-")),
      "loose legacy part files survived migration")
    assert(root.listFiles.count(f => f.isDirectory && f.getName.startsWith("batch=")) == 2,
      "expected the migrated batch plus the appended one")
  }

  test("compaction preserves data and reduces file count") {
    val dir = tempDir("graft_compact") + "/t"
    val events = Tables.events(spark, sf("sf0.001"))
    events.repartition(37).write.parquet(dir) // deliberately fragmented
    def files() = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = files()
    val checksum = spark.read.parquet(dir).agg(sum(col("event_id")), count(lit(1))).head
    PartitionedSink.compact(spark, dir, targetMB = 128)
    assert(files() < before, s"no compaction: $before -> ${files()}")
    val after = spark.read.parquet(dir).agg(sum(col("event_id")), count(lit(1))).head
    assert(checksum == after)
  }

  test("compaction sizes files per partition: a skewed partition splits, small ones stay single") {
    val dir = tempDir("graft_skewc") + "/t"
    // one ~5 MB partition (incompressible md5 payload) + one tiny one
    val big = spark.range(150000).selectExpr(
      "md5(cast(id as string)) AS payload", "DATE '2024-01-01' AS p_date")
    val small = spark.range(100).selectExpr(
      "md5(cast(id as string)) AS payload", "DATE '2024-01-02' AS p_date")
    big.union(small).repartition(8).write.partitionBy("p_date").parquet(dir)
    val total = spark.read.parquet(dir).count()
    PartitionedSink.compact(spark, dir, targetMB = 1)
    def files(sub: String) = new java.io.File(s"$dir/$sub")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(files("p_date=2024-01-01") > 1,
      "oversized partition collapsed into a single file")
    assert(files("p_date=2024-01-02") == 1,
      "small partition fragmented")
    assert(spark.read.parquet(dir).count() == total)
  }

  test("a writer killed at ANY point of the compact swap leaves the table readable") {
    import org.apache.hadoop.fs.Path
    val base = tempDir("graft_atomic")
    val events = Tables.events(spark, sf("sf0.001")).select("event_id", "ts", "value")
    val n = events.count()
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // each scenario = a filesystem state the swap can die in
    def freshTable(name: String): String = {
      val dir = s"$base/$name"
      events.repartition(9).write.parquet(dir)
      dir
    }
    def readable(dir: String): Unit =
      assert(PartitionedSink.readByDate(spark, dir).count() == n, dir)

    // 1. crash AFTER staging written, BEFORE any rename: table intact
    val t1 = freshTable("t1")
    events.coalesce(1).write.parquet(t1 + "._compacting")
    readable(t1)
    assert(!fs.exists(new Path(t1 + "._compacting")), "staging not tidied")

    // 2. crash BETWEEN the renames (table moved to backup, staging
    //    complete): heal must finish the swap forward
    val t2 = freshTable("t2")
    events.coalesce(1).write.parquet(t2 + "._compacting")
    fs.rename(new Path(t2), new Path(t2 + "._old"))
    readable(t2)
    assert(!fs.exists(new Path(t2 + "._old")), "backup not tidied")

    // 3. crash between renames with INCOMPLETE staging (no _SUCCESS):
    //    heal must roll back to the backup
    val t3 = freshTable("t3")
    events.coalesce(1).write.parquet(t3 + "._compacting")
    fs.delete(new Path(t3 + "._compacting/_SUCCESS"), false)
    fs.rename(new Path(t3), new Path(t3 + "._old"))
    readable(t3)

    // 4. crash AFTER second rename, BEFORE backup delete
    val t4 = freshTable("t4")
    fs.rename(new Path(t4), new Path(t4 + "._old"))
    events.coalesce(1).write.parquet(t4)
    readable(t4)
    assert(!fs.exists(new Path(t4 + "._old")), "backup not tidied")
  }

  test("idempotent-sink compaction folds generations; appends and key-dedup continue above the folded id") {
    import graft.engine.IdempotentSink
    import spark.implicits._
    val dir = tempDir("graft_sinkc") + "/t"
    (0 until 5).foreach { i =>
      IdempotentSink.appendIfAbsent(spark,
        Seq((i.toLong, s"v$i"), (i + 100L, s"w$i")).toDF("k", "v"), dir, Seq("k"))
    }
    val before = IdempotentSink.read(spark, dir)
      .as[(Long, String)].collect().toSet
    def batchDirs() = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs().length == 5)
    IdempotentSink.compact(spark, dir)
    assert(batchDirs().toSeq == Seq("batch=4"),
      s"expected one generation at the MAX folded id, got ${batchDirs().toSeq}")
    assert(IdempotentSink.read(spark, dir).as[(Long, String)].collect().toSet
      == before, "compaction changed rows")
    // next append ids continue ABOVE the folded id (never reissued) and
    // key-dedup still sees the folded rows
    IdempotentSink.appendIfAbsent(spark,
      Seq((2L, "dup"), (200L, "new")).toDF("k", "v"), dir, Seq("k"))
    assert(batchDirs().sorted.toSeq == Seq("batch=4", "batch=5"))
    assert(IdempotentSink.read(spark, dir).as[(Long, String)].collect().toSet
      == before + ((200L, "new")), "folded key re-admitted or append lost")
    // a second compact on a single generation is a no-op
    IdempotentSink.compact(spark, dir)
    IdempotentSink.compact(spark, dir)
    assert(batchDirs().toSeq == Seq("batch=5"))
  }

  test("a writer killed at ANY point of the idempotent-sink compact swap heals to a complete table") {
    import graft.engine.IdempotentSink
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = tempDir("graft_sinkck")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshTable(name: String): (String, Set[Long]) = {
      val dir = s"$base/$name"
      (0 until 3).foreach { i =>
        IdempotentSink.appendIfAbsent(spark,
          Seq((i.toLong, "x")).toDF("k", "v"), dir, Seq("k"))
      }
      (dir, Set(0L, 1L, 2L))
    }
    def stage(dir: String): Unit =
      spark.read.parquet(dir).withColumn("batch", lit(2L))
        .write.partitionBy("batch").parquet(dir + "._compacting")
    def keys(dir: String): Set[Long] =
      IdempotentSink.read(spark, dir).select("k").as[Long].collect().toSet

    // 1. staging durable, table intact (killed before first rename):
    //    heal drops the abandoned staging
    val (t1, k1) = freshTable("t1")
    stage(t1)
    assert(keys(t1) == k1)
    assert(!fs.exists(new Path(t1 + "._compacting")), "staging not tidied")

    // 2. killed between the renames (table at backup, staging durable):
    //    staging is the committed truth — heal rolls FORWARD
    val (t2, k2) = freshTable("t2")
    stage(t2)
    fs.rename(new Path(t2), new Path(t2 + "._old"))
    assert(keys(t2) == k2)
    assert(!fs.exists(new Path(t2 + "._old")), "backup not tidied")

    // 3. same position but staging NOT durable (no _SUCCESS): heal
    //    rolls BACK to the intact old table
    val (t3, k3) = freshTable("t3")
    stage(t3)
    fs.delete(new Path(t3 + "._compacting/_SUCCESS"), false)
    fs.rename(new Path(t3), new Path(t3 + "._old"))
    assert(keys(t3) == k3)
    assert(!fs.exists(new Path(t3 + "._compacting")), "partial staging kept")

    // 4. killed after the swap, before backup delete
    val (t4, k4) = freshTable("t4")
    stage(t4)
    fs.rename(new Path(t4), new Path(t4 + "._bak_tmp"))
    fs.rename(new Path(t4 + "._compacting"), new Path(t4))
    fs.rename(new Path(t4 + "._bak_tmp"), new Path(t4 + "._old"))
    assert(keys(t4) == k4)
    assert(!fs.exists(new Path(t4 + "._old")), "backup not tidied")
  }

  test("readAsOf time-travels to each committed batch with partition-pruned scans") {
    import graft.engine.IdempotentSink
    import spark.implicits._
    val dir = tempDir("graft_asof") + "/t"
    (0 until 4).foreach { i =>
      IdempotentSink.appendIfAbsent(spark,
        Seq((i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    }
    (0 until 4).foreach { i =>
      assert(IdempotentSink.readAsOf(spark, dir, i).select("k")
        .as[Long].collect().toSet == (0 to i).map(_.toLong).toSet,
        s"as-of $i wrong")
    }
    // the as-of filter reaches the scan as a partition filter — files
    // outside the asked range are never opened
    val plan = IdempotentSink.readAsOf(spark, dir, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("batch"),
      s"as-of not partition-pruned:\n$plan")
    // after compaction, history granularity is the retained generation:
    // everything folded into batch=3, so as-of 3 is the full table and
    // as-of below the oldest retained generation THROWS — rows existed
    // then, and an empty frame would misreport them as absent
    IdempotentSink.compact(spark, dir)
    assert(IdempotentSink.readAsOf(spark, dir, 3).count() == 4)
    val e = intercept[IllegalArgumentException] {
      IdempotentSink.readAsOf(spark, dir, 2)
    }
    assert(e.getMessage.contains("folded away"), e.getMessage)
  }

  test("additive schema evolution: new columns append, NULL-backfill on read, type change rejected") {
    import graft.engine.IdempotentSink
    import spark.implicits._
    val dir = tempDir("graft_evo") + "/t"
    IdempotentSink.appendIfAbsent(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    // additive: generation 1 carries an extra column
    IdempotentSink.appendIfAbsent(spark,
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), dir, Seq("k"))
    val merged = IdempotentSink.read(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("extra", "k", "v"),
      s"merged schema wrong: ${merged.columns.mkString(",")}")
    val rows = merged.orderBy("k")
      .select("k", "extra").as[(Long, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, Some(30L))),
      s"NULL backfill wrong: $rows")
    // additive the other way: a batch may OMIT a non-key column
    IdempotentSink.appendIfAbsent(spark,
      Seq((4L, "d")).toDF("k", "v"), dir, Seq("k"))
    assert(IdempotentSink.read(spark, dir)
      .filter(col("k") === 4L && col("extra").isNull).count() == 1)
    // readAsOf sees the merged schema too
    assert(IdempotentSink.readAsOf(spark, dir, 0).columns.sorted.toSeq ==
      Seq("extra", "k", "v"))
    // compaction rewrites under the unified schema and keeps the rows
    IdempotentSink.compact(spark, dir)
    val afterCompact = IdempotentSink.read(spark, dir)
    assert(afterCompact.count() == 4 &&
      afterCompact.columns.sorted.toSeq == Seq("extra", "k", "v"))
    assert(afterCompact.filter(col("extra").isNotNull).count() == 1)
    // a TYPE CHANGE on a shared column is rejected loudly at append
    val e = intercept[IllegalArgumentException] {
      IdempotentSink.appendIfAbsent(spark,
        Seq((5L, 99L)).toDF("k", "v"), dir, Seq("k"))
    }
    assert(e.getMessage.contains("type change") && e.getMessage.contains("v"),
      e.getMessage)
    // a batch missing its KEY column is rejected with the key named
    val e2 = intercept[IllegalArgumentException] {
      IdempotentSink.appendIfAbsent(spark,
        Seq(("x", 1L)).toDF("v", "extra"), dir, Seq("k"))
    }
    assert(e2.getMessage.contains("key column") && e2.getMessage.contains("k"),
      e2.getMessage)
  }
}
