package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet layout + small-file compaction — the two
  * storage-layout operators a 100 TB pipeline needs around the
  * medallion sinks.
  *
  * Partitioning by event date turns every watermark predicate
  * (`ts > w`) into directory-level partition pruning (PartitionFilters
  * in the scan — asserted in PartitionedSinkSpec), instead of relying
  * only on row-group min/max stats.
  */
object PartitionedSink {
  /** Write `df` partitioned by the date of `tsCol` (adds a `p_date`
    * partition column; original columns unchanged).
    */
  def writeByDate(df: DataFrame, tsCol: String, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(mode).partitionBy("p_date").parquet(path)

  def readByDate(spark: SparkSession, path: String): DataFrame = {
    heal(spark, path)
    spark.read.parquet(path)
  }

  /** Self-heal a table around an interrupted `compact` swap
    * (`StagedSwap.heal`; parquet's root `_SUCCESS` marks the staging
    * complete), so the table is readable no matter where the writer
    * died.
    */
  def heal(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    StagedSwap.heal(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, StagedSwap.rootSuccess)
  }

  /** Compact a parquet directory to ~`targetMB` files: the streaming /
    * incremental-append small-file remedy. Hive-style partition
    * directories (`col=value`) are detected and PRESERVED — the rewrite
    * re-partitions by the same columns, so partition pruning survives
    * compaction (spec-asserted).
    *
    * Crash-safe publish (`StagedSwap.publish`): the rewrite lands in a
    * staging dir (parquet's `_SUCCESS` marks it complete), then the
    * swap is two atomic renames (table → backup, staging → table) and
    * a backup delete; a staging healed away by a concurrent reader
    * aborts the swap, leaving the table as it was. A writer
    * killed at ANY step leaves the table recoverable by `heal` — which
    * `readByDate` and `compact` both run first — so readers always see
    * a complete table (spec kills the swap mid-way and reads back the
    * full row count).
    *
    * Sizing is PER-PARTITION for hive tables: each leaf partition's
    * byte size (one dir listing) determines its own salt modulus —
    * an oversized partition is split into ~bytes/target files while
    * small partitions keep one, so skewed layouts compact to the
    * requested file size everywhere (spec-asserted on a skewed table).
    */
  def compact(spark: SparkSession, path: String, targetMB: Int = 128): Unit = {
    heal(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // discover the FULL hive partition chain (col1=.../col2=.../...),
    // walking one branch per level — a single level would silently
    // flatten deeper partitioning on rewrite
    val partitionCols = {
      val cols = scala.collection.mutable.ArrayBuffer.empty[String]
      var cur = p
      var descending = true
      while (descending) {
        val partDirs = fs.listStatus(cur).filter(s =>
          s.isDirectory && s.getPath.getName.contains("="))
        if (partDirs.isEmpty) descending = false
        else {
          cols += partDirs.head.getPath.getName.split("=")(0)
          cur = partDirs.head.getPath
        }
      }
      cols.toSeq
    }
    val bytes = fs.getContentSummary(p).getLength
    val targetBytes = targetMB.toLong * 1024 * 1024
    val df = spark.read.parquet(path)
    // partitioned tables: cluster rows by (partition key, salt) so each
    // output partition is written by few tasks (coalesce would spray
    // every partition's rows across all tasks -> parts x n_partitions
    // files). The salt modulus is sized PER PARTITION from that
    // partition's actual bytes (a tiny dir-listing map broadcast and
    // joined on the hive path), so an oversized partition is split
    // into ~bytes/target files while small partitions stay at one —
    // per-partition-exact, not average-based.
    val sized =
      if (partitionCols.nonEmpty) {
        import spark.implicits._
        val moduli = leafPartitionSizes(fs, p, partitionCols.length)
          .map { case (rel, b) => (rel, math.max(1L, (b + targetBytes - 1) / targetBytes)) }
        val parts = math.max(1, moduli.map(_._2).sum.toInt)
        val modDf = broadcast(moduli.toDF("_pkey", "_mod"))
        // rebuild each row's hive path (col=value/...) as the join key;
        // partition values here are dates/strings whose cast-to-string
        // matches the directory rendering
        val pkey = concat_ws("/",
          partitionCols.map(c => concat_ws("=", lit(c), col(c).cast("string"))): _*)
        // Salt must be DETERMINISTIC per row: it feeds repartition, and
        // a task retried after a shuffle-fetch failure must route every
        // recomputed row to the same reducer as the committed attempt
        // (monotonically_increasing_id here could silently lose or
        // duplicate rows on retry). Hash the data columns themselves —
        // identical rows co-locating is harmless for file sizing.
        df.withColumn("_pkey", pkey)
          .join(modDf, Seq("_pkey"), "left")
          .withColumn("_salt", pmod(xxhash64(df.columns.map(col): _*),
            coalesce(col("_mod"), lit(1L))))
          .repartition(parts, (partitionCols.map(col) :+ col("_salt")): _*)
          .drop("_pkey", "_mod", "_salt")
      } else df.coalesce(math.max(1, (bytes / targetBytes).toInt))
    StagedSwap.publish(fs, p) { staging =>
      val writer = sized.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(staging.toString)
    }
  }

  /** (relative hive path like "p_date=2024-01-01", bytes) per leaf
    * partition directory.
    */
  private def leafPartitionSizes(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, depth: Int): Seq[(String, Long)] =
    if (depth == 0) Seq(("", fs.getContentSummary(root).getLength))
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap { d =>
        leafPartitionSizes(fs, d.getPath, depth - 1).map { case (rel, b) =>
          (if (rel.isEmpty) d.getPath.getName else d.getPath.getName + "/" + rel, b)
        }
      }
}
