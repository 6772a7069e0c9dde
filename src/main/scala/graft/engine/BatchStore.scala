package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import Generations.fsOf

/** Shared maintenance for the `batch_id=N` micro-batch stores
  * (`StreamingPower`'s sketch and count stores, CDC changelog, dedup
  * index; TextIndex, AnnIndex enc and PairStore generations): each step
  * writes its batch dir directly and gates retries on that dir's
  * `_SUCCESS`, so a long-running stream accretes a directory per
  * micro-batch forever — the same small-file flaw, and the same
  * staged-swap cure, as `IdempotentSink.compact`.
  *
  * [[compact]] folds every committed generation into ONE at the MAX
  * folded id. Engine batch ids are strictly increasing, so ids below
  * the fold are never re-delivered, and a retry of the LAST folded id
  * finds its dir present-and-committed (the folded generation) — still
  * a no-op, exactly the invariant the stores' `_SUCCESS` gate encodes.
  * A MERGEABLE store collapses rows, not just files: count-min sums
  * counters per (r, c), the histogram per bin — after which the folded
  * generation is constant-size no matter how much stream has passed.
  * Such a store is one [[Mergeable]]: its fold is written once and is
  * both the compaction hook and the read-side merge, so folding is
  * invisible to readers by construction. No caller outside the engine
  * and the two deletable stores, `TextIndex` and `AnnIndex` (whose
  * folds apply their `Tombstones`), passes a merge hook to [[compact]]
  * itself.
  *
  * Crash discipline is `StagedSwap`'s: the folded generation is
  * staged beside the store, its per-dir `_SUCCESS` marker — created
  * LAST — is the commit point, and the swap is two atomic renames.
  * [[heal]], run by every step ([[commitStep]]) and reader, rolls a
  * kill at any point forward (staging committed) or back (old store
  * intact in the backup). Single-writer-per-store, like every mutation
  * here: call [[compact]] from the store's own foreachBatch
  * ([[Mergeable.stream]]'s `compactEvery`), never beside a live writer.
  */
object BatchStore {
  private[graft] val Prefix = "batch_id="

  /** Committed generation ids: `batch_id=N` dirs carrying `_SUCCESS`. */
  def committedBatches(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    Generations.committed(fsOf(spark, p), p, Prefix)
  }

  /** Read the store restricted to COMMITTED generations (per-dir
    * `_SUCCESS`): a crashed step leaves a partial `batch_id=N` dir
    * whose rows are garbage pending the retry's overwrite — a bare
    * `spark.read.parquet(path)` would silently fold them into every
    * read-side merge (fatal for the sum-state stores: partial moment /
    * count-min rows corrupt totals, they don't just waste work). Every
    * report reader goes through here.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    heal(spark, path)
    spark.read.parquet(path)
      .filter(col("batch_id").isin(committedBatches(spark, path): _*))
  }

  /** Fold committed generations into one (see object doc). Uncommitted
    * dirs are garbage pending their retry's overwrite — dropped.
    */
  def compact(spark: SparkSession, path: String,
      merge: DataFrame => DataFrame = identity,
      subPartitionCols: Seq[String] = Nil,
      force: Boolean = false): Unit = {
    compactWithSignal(spark, path, merge, subPartitionCols, force); ()
  }

  /** [[compact]] returning TRUE iff the folded generation was
    * COMMITTED (the swap's renames completed): callers whose merge
    * hook has side conditions (TextIndex and AnnIndex draining the
    * tombstones their folds applied) branch on the signal instead of
    * re-scanning the store to verify — a no-op or race-aborted fold
    * returns false and the caller must leave its pending state
    * (tombstones) in place.
    */
  private[graft] def compactWithSignal(spark: SparkSession, path: String,
      merge: DataFrame => DataFrame = identity,
      subPartitionCols: Seq[String] = Nil,
      force: Boolean = false): Boolean = {
    heal(spark, path)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return false
    val batches = committedBatches(spark, path)
    // `force` folds even a lone generation — callers whose merge hook
    // must rewrite rows regardless of batch count (the indexes applying
    // tombstone deletes) opt in; the plain fold is a no-op on
    // a single batch by definition
    if (batches.isEmpty || (batches.size <= 1 && !force)) return false
    val genId = batches.max
    StagedSwap.publish(fs, p) { staging =>
      val folded = merge(
        spark.read.parquet(path)
          .filter(col("batch_id").isin(batches: _*))
          .drop("batch_id"))
        .withColumn("batch_id", lit(genId))
      // stores with a pruning sub-layout under each generation
      // (TextIndex's tok_bucket, AnnIndex's list_id) keep it through the
      // fold, so partition pruning survives compaction — and are
      // CLUSTERED by it before the partitioned write (the appendBatch
      // discipline): a merge hook that shuffles (a tombstone anti-join)
      // otherwise leaves every reduce task holding rows of every
      // sub-partition value, and
      // the write fans out tasks x values small files per fold — the
      // small-file problem compaction exists to fix, reintroduced by
      // the fold itself.
      val clustered =
        if (subPartitionCols.isEmpty) folded
        else folded.repartition(subPartitionCols.map(col): _*)
      clustered.write.mode(SaveMode.Overwrite)
        .partitionBy("batch_id" +: subPartitionCols: _*)
        .parquet(staging.toString)
      // the steps gate retries on the BATCH DIR's _SUCCESS (they write
      // their dirs directly, so parquet puts the marker inside); the
      // partitioned staging write only marks its root — add the per-dir
      // marker, LAST, as the staging commit point
      Generations.markCommitted(fs, staging, Prefix, genId)
    }
  }

  /** Recover around an interrupted [[compact]] swap (`StagedSwap.heal`;
    * the staging rolls forward only once its per-dir `_SUCCESS` exists).
    */
  def heal(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    StagedSwap.heal(fsOf(spark, p), p,
      StagedSwap.generationSuccess(Prefix))
  }

  /** One `batch_id=N` generation of a micro-batch store — the prologue
    * every `foreachBatch` step shares: heal, then skip a COMMITTED
    * retry (the dir's `_SUCCESS`) before `rows` is even built, else
    * write `rows` over the dir (a partial earlier attempt is
    * overwritten). `rows` is by-name, so a committed retry computes
    * nothing, and a step that reads its own store first does so inside
    * it.
    */
  def commitStep(spark: SparkSession, path: String, batchId: Long)(
      rows: => DataFrame): Unit = {
    heal(spark, path)
    val p = new Path(path)
    Generations.gate(fsOf(spark, p), p, Prefix, batchId)(dir =>
      rows.write.mode("overwrite").parquet(dir.toString))
  }

  /** A mergeable micro-batch store: `fold` maps any union of the
    * store's rows (batch id dropped) to the same schema, and folding
    * twice changes nothing a reader sees — sums per key, max per
    * register, distinct, or the identity for stores that keep rows.
    * Every use of the store goes through these four methods, so the
    * fold that compacts the store is the fold every read applies.
    */
  final case class Mergeable(fold: DataFrame => DataFrame) {
    /** Commit `rows` as generation `batchId` ([[commitStep]]: a
      * committed retry builds nothing). A step that reads its own
      * store does so inside `rows`.
      */
    def append(spark: SparkSession, path: String, batchId: Long)(
        rows: => DataFrame): Unit =
      commitStep(spark, path, batchId)(rows)

    /** Fold every committed generation into one ([[BatchStore.compact]]). */
    def compact(spark: SparkSession, path: String): Unit =
      BatchStore.compact(spark, path, fold)

    /** The store's committed generations, folded. */
    def read(spark: SparkSession, path: String): DataFrame =
      fold(BatchStore.read(spark, path).drop("batch_id"))

    /** The store as a streaming query over `src`: each micro-batch
      * appends `rows(batch)` under the engine's batch id, then, with
      * `compactEvery = n > 0`, compacts once ≥ n generations have
      * committed; 0 = never (`Generations.stream`).
      */
    def stream(src: DataFrame, path: String, checkpoint: String,
        compactEvery: Int = 0)(rows: DataFrame => DataFrame): StreamingQuery =
      Generations.stream(src, checkpoint, compactEvery,
        committedBatches(_, path).size, compact(_, path)) { (batch, batchId) =>
        append(batch.sparkSession, path, batchId)(rows(batch))
      }
  }
}
