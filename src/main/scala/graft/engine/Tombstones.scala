package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The delete set of a deletable store (`TextIndex`, `AnnIndex`) — the
  * one tombstone protocol both follow. The reference never deletes
  * (`ON CONFLICT DO NOTHING`, `silver_transform.py:81`); the indexes
  * built on it need takedowns, and a tombstone is how a delete lands
  * without rewriting the store.
  *
  * Layout: `<store>/dead/batch=N`, one id column per dir, committed by
  * parquet's per-dir `_SUCCESS` (`Generations`). Ids are allocated in
  * two disjoint ranges: a streaming delete keys its dirs by the
  * ENGINE's batch id (counting from 0), a manual delete takes the next
  * id at or above [[ManualBase]]. Were they shared, a manual `batch=0`
  * would make the stream's batch 0 hit the committed-retry gate and
  * silently drop its tombstones.
  *
  * Readers take a [[Snapshot]] of the committed dirs and [[Snapshot.mask]]
  * their rows with it. [[compact]] snapshots, runs the store's fold with
  * the mask as its merge, and drains only the snapshotted dirs, and only
  * when the fold proves their ids are gone: a delete that lands
  * mid-compaction stays live for the next one, and a fold that aborted
  * keeps every tombstone it was given. Re-applying a drained tombstone
  * masks rows that no longer exist, so a re-delivered delete is harmless.
  */
object Tombstones {
  /** Floor for auto-allocated manual ids; engine batch ids stay far
    * below 2^40 for any real stream.
    */
  val ManualBase: Long = 1L << 40

  private val Prefix = "batch="

  /** The tombstone root of the store at `path`. */
  def dir(path: String): Path = new Path(path + "/dead")

  /** Committed tombstone batch ids, ascending — per-dir `_SUCCESS`
    * probes (the set stays small by the drain contract).
    */
  def committed(spark: SparkSession, path: String): Seq[Long] = {
    val root = dir(path)
    Generations.committed(Generations.fsOf(spark, root), root, Prefix)
  }

  /** Tombstone the ids in `ids`' first column, idempotently per batch
    * id: a committed `batchId` is a no-op, a partial one is rewritten.
    * `batchId < 0` allocates a manual id (see object doc); a caller
    * passing explicit ids owns the engine-id range and must not mix
    * manual ids into it.
    */
  def add(ids: DataFrame, path: String, batchId: Long = -1L): Unit = {
    val root = dir(path)
    val fs = Generations.fsOf(ids.sparkSession, root)
    val id = if (batchId >= 0) batchId
      else math.max(Generations.nextId(fs, root, Prefix), ManualBase)
    Generations.gate(fs, root, Prefix, id)(d =>
      ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(d.toString))
  }

  /** The committed tombstone dirs of the store at `path`, as of now. */
  def snapshot(spark: SparkSession, path: String): Snapshot =
    new Snapshot(spark, path, committed(spark, path))

  /** A fixed set of committed tombstone dirs. Their ids are read once
    * and checkpointed once, on first use, so every mask of one snapshot
    * reads the same rows and a broadcast of them never sits over a
    * file scan.
    */
  final class Snapshot private[Tombstones] (spark: SparkSession, path: String,
      private[Tombstones] val batches: Seq[Long]) {
    def isEmpty: Boolean = batches.isEmpty

    /** The distinct tombstoned ids, one long column `id`. */
    private lazy val ids: DataFrame = spark.read
      .parquet(batches.map(Generations.dir(dir(path), Prefix, _).toString): _*)
      .select(col("id")).distinct()
      .localCheckpoint()

    /** `df` without the rows whose `key` is tombstoned — `df` itself
      * when the snapshot is empty.
      */
    def mask(df: DataFrame, key: String): DataFrame =
      if (isEmpty) df
      else df.join(ids.withColumnRenamed("id", key), Seq(key), "left_anti")
  }

  /** Apply the store's tombstones physically. `fold` rewrites the store
    * with `snapshot.mask` as its merge (folding even a lone generation
    * when the snapshot is non-empty) and returns its drain proof: true
    * only if no snapshotted id can be left in the store's committed
    * generations. Only then do the snapshotted dirs drain.
    */
  def compact(spark: SparkSession, path: String)(fold: Snapshot => Boolean): Unit = {
    val snap = snapshot(spark, path)
    if (fold(snap) && !snap.isEmpty) {
      val root = dir(path)
      val fs = Generations.fsOf(spark, root)
      snap.batches.foreach(b => fs.delete(Generations.dir(root, Prefix, b), true))
    }
  }
}
