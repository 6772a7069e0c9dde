package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The `<prefix>N` generation dirs every append-style store commits —
  * the directory stand-in for the reference's one incremental-load
  * cursor (`bronze_ingest.py:7-13`): `batch_id=N` (BatchStore and the
  * stores built on it: TextIndex postings and stats, AnnIndex enc,
  * PairStore), `batch=N` (IdempotentSink, and `Tombstones`, the indexes'
  * delete sets) and `epoch=N` (EpochStore). This is the one definition
  * of a generation, so every reader and writer of a store agrees on
  * which generations exist and which are committed.
  *
  * A generation is a dir directly under the store root named `prefix`
  * followed by a decimal id. It is COMMITTED once parquet's `_SUCCESS`
  * sits inside it: the writer creates that marker last, so a writer
  * killed mid-write leaves an uncommitted dir that readers skip and
  * the retry overwrites (IdempotentSink, whose commit is the rename
  * into place, reads every one of its `ids` as committed). Anything else under the root — a leading-dot
  * staging sibling (`._staging_batch=N`), a plain file, another
  * prefix's dir — is not a generation of `prefix`. File-system calls
  * only: nothing here runs a Spark job.
  */
object Generations {
  /** The file system holding `p`, under the session's Hadoop conf. */
  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation `id`'s dir under `root`. */
  def dir(root: Path, prefix: String, id: Long): Path = new Path(root, s"$prefix$id")

  /** Every generation id under `root`, committed or not, ascending. */
  def ids(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(_.getPath.getName.stripPrefix(prefix).toLongOption)
      .sorted

  /** The committed generation ids under `root`, ascending. */
  def committed(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    ids(fs, root, prefix).filter(isCommitted(fs, root, prefix, _))

  /** Whether generation `id` is committed: one marker probe. */
  def isCommitted(fs: FileSystem, root: Path, prefix: String, id: Long): Boolean =
    fs.exists(new Path(dir(root, prefix, id), "_SUCCESS"))

  /** Commit generation `id` by creating its marker — for a writer
    * whose partitioned write marks only its own root.
    */
  def markCommitted(fs: FileSystem, root: Path, prefix: String, id: Long): Unit =
    fs.create(new Path(dir(root, prefix, id), "_SUCCESS")).close()

  /** The id after every generation under `root`, committed or not, or
    * 0 for none. An uncommitted dir counts: its id belongs to a writer
    * whose retry will overwrite it, so it is never handed out again.
    */
  def nextId(fs: FileSystem, root: Path, prefix: String): Long =
    ids(fs, root, prefix).lastOption.fold(0L)(_ + 1)

  /** The retry gate: a committed generation `id` is left untouched,
    * otherwise `write` runs over its dir (overwriting a partial earlier
    * attempt) and must leave `_SUCCESS` there last.
    */
  def gate(fs: FileSystem, root: Path, prefix: String, id: Long)(
      write: Path => Unit): Unit =
    if (!isCommitted(fs, root, prefix, id)) write(dir(root, prefix, id))

  /** A store maintained by a streaming query over `rows`: each
    * micro-batch runs `step(batch, batchId)`, then, with
    * `compactEvery = n > 0`, runs `fold` once the store counts
    * `generations` ≥ n; 0 = never. Folding inside the same micro-batch
    * is safe because the stream is the store's single writer.
    */
  def stream(rows: DataFrame, checkpoint: String, compactEvery: Int,
      generations: SparkSession => Int, fold: SparkSession => Unit)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, batchId)
        val spark = batch.sparkSession
        if (compactEvery > 0 && generations(spark) >= compactEvery) fold(spark)
      }
      .start()
}
