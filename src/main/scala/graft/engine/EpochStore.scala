package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import Generations.fsOf

/** Rebuild-per-corpus-generation store for artifacts that are NOT
  * incrementally decomposable — signals whose value for one document
  * depends on the WHOLE corpus, so no append/fold sequence can be
  * exact (`PairStore`'s incremental mining contract explicitly
  * excludes them): MinHash-LSH pair sets under corpus-dependent
  * hot-bucket caps, DF-capped shingle indexes, anything with a
  * "drop tokens seen in > maxDf docs" rule. Those artifacts are mined
  * ONCE per corpus EPOCH (a named generation of the corpus — a crawl
  * snapshot, a nightly cut) by the existing one-shot operators and
  * then read by every audit of that epoch, instead of re-mined per
  * query.
  *
  * Layout and crash discipline: each epoch is a complete sibling dir
  * `epoch=N` written directly (so parquet's `_SUCCESS` lands inside
  * it — created last, the per-dir commit marker, exactly the
  * BatchStore step gate). Readers take the NEWEST committed epoch and
  * ignore everything else, so a crashed rebuild's partial dir is
  * invisible garbage pending its retry's overwrite; a retry of a
  * COMMITTED epoch is a no-op (the mine closure is never evaluated).
  * After a commit, strictly-older committed epochs drain — the store
  * holds one generation at steady state. No staged swap is needed:
  * unlike a compaction, a rebuild never rewrites the dir a reader is
  * gated on, it publishes a NEW dir and commits it atomically via the
  * marker. Single writer per store, like every mutation in the
  * engine; readers may run concurrently with a rebuild (they can't
  * see it until the marker lands, and the old epoch drains only
  * after the new one is committed).
  *
  * At 100 TB this is the difference between paying the
  * corpus-dependent mining once per corpus generation and paying it
  * once per governance query: the epoch build is the amortizable
  * `build_s` cost (`BuildTiming`), the audits read a committed
  * artifact.
  */
object EpochStore {
  private val Prefix = "epoch="

  /** Committed epoch ids: `epoch=N` dirs carrying `_SUCCESS`. */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    Generations.committed(fsOf(spark, p), p, Prefix)
  }

  /** The newest committed epoch, if any. */
  def currentEpoch(spark: SparkSession, path: String): Option[Long] =
    committedEpochs(spark, path).lastOption

  /** Mine and publish epoch `epochId`. `mine` is evaluated only when
    * the epoch is not already committed (retry of a committed rebuild
    * is a strict no-op — epoch ids are never reissued, the BatchStore
    * id contract). The dir write is the commit (marker inside, last);
    * only after it lands do strictly-older committed epochs drain.
    */
  def rebuild(spark: SparkSession, path: String, epochId: Long,
      mine: => DataFrame): Unit = BuildTiming.timed {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    // Overwrite handles a crashed attempt's partial dir; the new
    // marker is created by the parquet commit, after the data files
    Generations.gate(fs, p, Prefix, epochId)(dir =>
      mine.write.mode(SaveMode.Overwrite).parquet(dir.toString))
    committedEpochs(spark, path).filter(_ < epochId)
      .foreach(e => fs.delete(Generations.dir(p, Prefix, e), true))
  }

  /** Read the newest committed epoch. Throws when no epoch has ever
    * committed — an epoch store with no generation is a wiring bug,
    * not an empty corpus (an empty corpus commits an empty epoch).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val cur = currentEpoch(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed epoch at $path"))
    spark.read.parquet(Generations.dir(new Path(path), Prefix, cur).toString)
  }
}
