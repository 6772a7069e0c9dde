package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
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
  * A generation that spans several roots (TextIndex, PairStore) is a
  * [[Group]]'s: it commits with its gate root, written last — the
  * reference's one-transaction load (`bronze_ingest.py:7-11`).
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
  def read(spark: SparkSession, path: String): DataFrame =
    Group(path, Nil).view(spark).read(path)

  /** The committed generations strictly BEFORE `batchId`, batch id
    * dropped — the standing side of an increment (`None` when there is
    * none). A fold keeps the MAX folded id and ids are never reissued,
    * so the bound holds across folds, and no crashed attempt feeds a
    * retry.
    */
  def before(spark: SparkSession, path: String, batchId: Long): Option[DataFrame] =
    Group(path, Nil).view(spark).before(path, batchId)

  /** Generations `ids` of the store at `path`, `batch_id` kept, as one
    * static `isin` literal (a scan PartitionFilter).
    */
  private def readIds(spark: SparkSession, path: String, ids: Seq[Long]): DataFrame =
    spark.read.parquet(path).filter(col("batch_id").isin(ids: _*))

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
      val folded = merge(readIds(spark, path, batches).drop("batch_id"))
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
    * it. A one-root [[Group]].
    */
  def commitStep(spark: SparkSession, path: String, batchId: Long)(
      rows: => DataFrame): Unit =
    Group(path, Nil).append(spark, batchId)(_ => Seq(rows.write))

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

  /** One generation written across several `batch_id=N` roots: the
    * `dependents` in order, then the `gate` LAST. The gate's committed
    * ids G are the group's committed generations. Readers ([[View]]) see
    * the gate's generations in G and a dependent's committed ones whose
    * id is in G. Writers ([[append]], [[compact]]) heal every root first
    * (a gate parked in its swap backup reads as G = ∅), then delete the
    * dependent generations outside G — orphans of a writer killed before
    * its gate committed, which a fold must not absorb into the
    * generation their retry overwrites. Readers never delete: a
    * concurrent writer's next generation is not in G yet. Single writer
    * per group.
    */
  final case class Group(gate: String, dependents: Seq[String]) {
    private def roots: Seq[String] = dependents :+ gate

    /** Heal every root, then take G. */
    def view(spark: SparkSession): View = {
      roots.foreach(heal(spark, _))
      new View(spark, this, committedBatches(spark, gate))
    }

    /** G, ascending. */
    def committed(spark: SparkSession): Seq[Long] = view(spark).ids

    /** [[view]], then delete the orphans. */
    private def settle(spark: SparkSession): View = {
      val v = view(spark)
      dependents.foreach { root =>
        val p = new Path(root)
        val fs = fsOf(spark, p)
        Generations.ids(fs, p, Prefix).filterNot(v.ids.contains)
          .foreach(id => fs.delete(Generations.dir(p, Prefix, id), true))
      }
      v
    }

    /** Commit generation `batchId`, a no-op when it is in G (so a
      * committed retry builds nothing): `rows(view)` gives one writer per
      * root, dependents then gate, and each overwrites its `batchId` dir.
      */
    def append(spark: SparkSession, batchId: Long)(
        rows: View => Seq[DataFrameWriter[Row]]): Unit = {
      val v = settle(spark)
      if (!v.ids.contains(batchId)) {
        val writers = rows(v)
        require(writers.size == roots.size, s"one writer per root of $roots")
        roots.zip(writers).foreach { case (root, w) =>
          w.mode(SaveMode.Overwrite)
            .parquet(Generations.dir(new Path(root), Prefix, batchId).toString)
        }
      }
    }

    /** Fold each dependent with `foldDependent(root)`, then the gate
      * with `foldGate` given the dependents' results — only once every
      * dependent holds nothing but G's max id, the one generation the
      * gate's fold leaves, so a kill between folds leaves dependents
      * inside G and an aborted dependent fold hides no rows. Returns the
      * dependents' results, in order.
      */
    def compact[T](spark: SparkSession)(foldDependent: String => T)(
        foldGate: Seq[T] => Unit): Seq[T] = {
      val g = settle(spark).ids
      val folds = dependents.map(foldDependent)
      if (g.nonEmpty && dependents.forall(committedBatches(spark, _).forall(_ == g.max)))
        foldGate(folds)
      folds
    }
  }

  /** A [[Group]]'s G as of one moment, so every root read through it
    * agrees on G.
    */
  final class View private[BatchStore] (spark: SparkSession, group: Group,
      val ids: Seq[Long]) {
    /** The generations of `root` readers see. */
    def visible(root: String): Seq[Long] =
      if (root == group.gate) ids
      else committedBatches(spark, root).filter(ids.contains)

    /** `root`'s visible generations, `batch_id` kept. */
    def read(root: String): DataFrame = readIds(spark, root, visible(root))

    /** [[BatchStore.before]] over `root`'s visible generations. */
    def before(root: String, batchId: Long): Option[DataFrame] = {
      val earlier = visible(root).filter(_ < batchId)
      if (earlier.isEmpty) None else Some(readIds(spark, root, earlier).drop("batch_id"))
    }
  }
}
