package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Watermark}

/** `IdempotentSink`'s commit-carried `_meta`: wherever a table's reads
  * take the meta path they equal the scan path they replace — the same
  * schema (names, order, types, nullability) as the `mergeSchema`
  * read, the same rows and the same `maxOrEpoch` — on fresh, evolved,
  * compacted, legacy-migrated and heal-rolled-forward tables, and a
  * writer killed anywhere around the meta heals to such a table.
  */
class SinkMetaSpec extends SparkSpecBase {
  private def tmp(tag: String) = tempDir(s"graft_meta_$tag") + "/t"

  /** Rows with minute timestamps `from until to`, key `k`, plus columns
    * of the types a parquet round trip normalizes (nullability of
    * fields, array elements and map values).
    */
  private def minutes(from: Int, to: Int): DataFrame =
    spark.range(from, to).selectExpr(
      "timestamp_seconds(id * 60) AS k",
      "concat('v', id) AS v",
      "array(id, id + 1) AS arr",
      "map('a', cast(id AS double)) AS m",
      "named_struct('x', cast(id AS int), 'y', 'z') AS st",
      "cast(id / 3 AS decimal(10, 2)) AS d",
      "date_add(DATE '2024-01-01', cast(id AS int)) AS dt",
      "id % 2 = 0 AS flag")

  private def scanPath(dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir).drop("batch")

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hasMeta(dir: String): Boolean = IdempotentSink.keyMax(spark, dir, "k").isDefined

  /** The meta path (or whatever path the table takes) equals the scan. */
  private def assertSameAsScan(dir: String): Unit = {
    val viaSink = IdempotentSink.read(spark, dir) // heals first
    val scan = scanPath(dir)
    assert(viaSink.schema == scan.schema,
      s"schema differs:\n${viaSink.schema.treeString}\nvs scan\n${scan.schema.treeString}")
    assert(rowsOf(viaSink) == rowsOf(scan), "rows differ")
    assert(Watermark.maxOrEpoch(spark, dir, "k") == Watermark.maxOrEpoch(scan, "k"),
      "maxOrEpoch differs")
  }

  test("fresh table: the meta path equals the scan path and reads run no job") {
    val dir = tmp("fresh")
    IdempotentSink.appendIfAbsent(spark, minutes(0, 20), dir, Seq("k"))
    // a nullable `v` this time: generations differing only in
    // nullability still share one read-back schema
    IdempotentSink.appendIfAbsent(spark,
      minutes(10, 40).withColumn("v", when(col("flag"), col("v"))), dir, Seq("k"))
    assert(hasMeta(dir))
    assertSameAsScan(dir)
    val (_, readJobs) = JobCount(spark)(IdempotentSink.read(spark, dir))
    assert(readJobs == 0, s"a read of a meta'd table ran $readJobs footer job(s)")
    val (wm, wmJobs) = JobCount(spark)(Watermark.maxOrEpoch(spark, dir, "k"))
    assert(wmJobs == 0 && wm == new java.sql.Timestamp(39L * 60 * 1000))
  }

  test("NULL-only and empty batches: maxOrEpoch matches the scan (epoch when no key)") {
    val dir = tmp("nulls")
    IdempotentSink.appendIfAbsent(spark,
      minutes(0, 3).withColumn("k", lit(null).cast("timestamp")), dir, Seq("k"))
    assert(hasMeta(dir))
    assertSameAsScan(dir)
    assert(Watermark.maxOrEpoch(spark, dir, "k") == Watermark.Epoch)
    def generations() = new java.io.File(dir).list().count(_.startsWith("batch="))
    IdempotentSink.appendIfAbsent(spark, minutes(0, 3).filter(lit(false)), dir, Seq("k"))
    assert(generations() == 1, "an empty batch committed a generation")
    assertSameAsScan(dir)
    assert(Watermark.maxOrEpoch(spark, dir, "k") == Watermark.Epoch)
    IdempotentSink.appendIfAbsent(spark, minutes(5, 8), dir, Seq("k"))
    assert(hasMeta(dir))
    assertSameAsScan(dir)
    // a table with no committed generation: epoch, like the empty sink
    assert(Watermark.maxOrEpoch(spark, tmp("none"), "k") == Watermark.Epoch)
  }

  test("additively evolved and then compacted tables equal the scan path") {
    val dir = tmp("evolved")
    IdempotentSink.appendIfAbsent(spark, minutes(0, 5), dir, Seq("k"))
    IdempotentSink.appendIfAbsent(spark,
      minutes(5, 10).withColumn("extra", col("v")), dir, Seq("k"))
    IdempotentSink.appendIfAbsent(spark, minutes(10, 15).drop("flag"), dir, Seq("k"))
    assertSameAsScan(dir)
    IdempotentSink.compact(spark, dir)
    assert(hasMeta(dir), "compaction did not write the merged meta")
    assertSameAsScan(dir)
    val (_, jobs) = JobCount(spark)(IdempotentSink.read(spark, dir))
    assert(jobs == 0, s"a read of the compacted table ran $jobs job(s)")
    // the merged meta: rows summed, min of mins, max of maxes
    val meta = IdempotentSink.Meta.parse(new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/batch=2/_meta")), UTF_8))
    assert(meta.rows == 15)
    assert(meta.ranges("k") == (Some(0L), Some(14L * 60 * 1000000)))
  }

  test("integral keys: the meta max equals the scanned max") {
    val dir = tmp("long")
    IdempotentSink.appendIfAbsent(spark, spark.range(0, 50).toDF("id"), dir, Seq("id"))
    IdempotentSink.appendIfAbsent(spark, spark.range(30, 90).toDF("id"), dir, Seq("id"))
    assert(IdempotentSink.keyMax(spark, dir, "id") == Some(Some(89L)))
    assert(IdempotentSink.read(spark, dir).count() == 90)
  }

  test("a legacy-migrated table takes the scan path and equals it") {
    val dir = tmp("legacy")
    minutes(0, 10).write.parquet(dir)
    IdempotentSink.appendIfAbsent(spark, minutes(5, 15), dir, Seq("k"))
    assert(!hasMeta(dir), "the migrated generation has no meta")
    assertSameAsScan(dir)
    assert(IdempotentSink.read(spark, dir).count() == 15)
  }

  test("a key bound prunes the anti-join to overlapping generations and keeps rows exact") {
    val dir = tmp("bound")
    IdempotentSink.appendIfAbsent(spark, minutes(0, 10), dir, Seq("k"))
    IdempotentSink.appendIfAbsent(spark, minutes(20, 30), dir, Seq("k"))
    def ts(m: Int) = new java.sql.Timestamp(m * 60L * 1000)
    // generation 0 lies below the bound and is pruned; generation 1
    // still dedups the overlap 20..24
    IdempotentSink.appendIfAbsent(spark, minutes(15, 25), dir, Seq("k"), above = Some(ts(14)))
    // rows at or below the bound are dropped even when new
    IdempotentSink.appendIfAbsent(spark, minutes(28, 35), dir, Seq("k"), above = Some(ts(30)))
    val keys = IdempotentSink.read(spark, dir).select("k").collect().map(_.getTimestamp(0)).toSeq
    assert(keys.sorted(Ordering.by((t: java.sql.Timestamp) => t.getTime)) ==
      ((0 until 10) ++ (15 until 30) ++ (31 until 35)).map(ts))
    assertSameAsScan(dir)
  }

  /** A real append to `dir`, then its commit undone to the state a
    * writer killed at `crash` leaves behind.
    */
  private def crashedAppend(dir: String, rows: DataFrame, crash: String): Unit = {
    IdempotentSink.appendIfAbsent(spark, rows, dir, Seq("k"))
    if (crash == "after the rename") return
    val id = new java.io.File(dir).list().filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    val staged = new Path(s"$dir/._staging_batch=$id")
    assert(fs.rename(new Path(s"$dir/batch=$id"), staged))
    val meta = new Path(staged, "_meta")
    crash match {
      case "before _SUCCESS" =>
        fs.delete(meta, false); fs.delete(new Path(staged, "_SUCCESS"), false)
      case "after _SUCCESS, before _meta" => fs.delete(meta, false)
      case "with a partial ._meta" =>
        val text = new String(Files.readAllBytes(java.nio.file.Paths.get(meta.toUri.getPath)), UTF_8)
        fs.delete(meta, false)
        Files.write(java.nio.file.Paths.get(s"${staged.toUri.getPath}/._meta"),
          text.take(text.length / 2).getBytes(UTF_8))
      case "after _meta, before the rename" =>
    }
  }

  Seq("before _SUCCESS" -> true, "after _SUCCESS, before _meta" -> false,
    "with a partial ._meta" -> false, "after _meta, before the rename" -> true,
    "after the rename" -> true).foreach { case (crash, metaPath) =>
    test(s"a writer killed $crash heals to a table whose reads equal the scan path") {
      val dir = tmp("crash")
      IdempotentSink.appendIfAbsent(spark, minutes(0, 10), dir, Seq("k"))
      crashedAppend(dir, minutes(5, 20), crash)
      assertSameAsScan(dir)
      val expected = if (crash == "before _SUCCESS") 10 else 20
      assert(IdempotentSink.read(spark, dir).count() == expected)
      assert(hasMeta(dir) == metaPath,
        s"expected the ${if (metaPath) "meta" else "scan"} path")
      assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith(".")) &&
        new java.io.File(dir).listFiles.filter(_.getName.startsWith("batch="))
          .forall(d => !new java.io.File(d, "._meta").exists),
        "staging or meta temp left behind")
      // appends continue exactly over the healed table
      IdempotentSink.appendIfAbsent(spark, minutes(15, 25), dir, Seq("k"))
      assertSameAsScan(dir)
      assert(IdempotentSink.read(spark, dir).count() == expected + (if (expected == 10) 10 else 5))
    }
  }

  test("a reader heal that deletes compact's staging before the merged meta lands loses no row") {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = "hook://" + tmp("race")
    IdempotentSink.appendIfAbsent(spark, minutes(0, 10), dir, Seq("k"))
    IdempotentSink.appendIfAbsent(spark, minutes(10, 20), dir, Seq("k"))
    val before = rowsOf(IdempotentSink.read(spark, dir))
    val watermark = Watermark.maxOrEpoch(spark, dir, "k")
    // the merged meta is created after the staging write; a reader
    // healing in between finds the table live and drops the staging
    val raced = HookFs.beforeCreate(f =>
        f.getName == "._meta" && f.getParent.getParent.getName.endsWith("._compacting")) {
      IdempotentSink.heal(spark, dir)
    } {
      IdempotentSink.compact(spark, dir)
    }
    assert(raced, "the reader heal never ran")
    assert(rowsOf(IdempotentSink.read(spark, dir)) == before, "the raced compaction lost rows")
    assert(before.size == 20)
    assert(Watermark.maxOrEpoch(spark, dir, "k") == watermark)
  }
}
