package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EpochStore, Tables}
import graft.functions.Md5Family
import graft.operators.Dedup

/** The rebuild-per-corpus-generation EPOCH store for the
  * non-decomposable pair signals (corpus-dependent caps — q21's
  * MinHash-LSH pairs, q62's DF-capped gram index): a committed epoch
  * read must equal inline mining bit-for-bit (that equivalence is
  * what lets the store-fed audits q91/q92 keep their one-shot DuckDB
  * oracles), an uncommitted epoch dir must be invisible, a retry of a
  * committed epoch must be a no-op that never re-evaluates the mine,
  * and committing a new epoch must drain the old one.
  */
class EpochStoreSpec extends SparkSpecBase {
  private def tmp(): String =
    tempDir("graft_epochstore") + "/store"

  private def docs: DataFrame = Tables.documents(spark, sf("sf0.001"))

  private def minePairs: DataFrame =
    Dedup.minhashLshPairs(docs, "doc_id", "text", hashes = Md5Family)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("committed epoch read equals inline mining") {
    val path = tmp()
    EpochStore.rebuild(spark, path, 0L, minePairs)
    val expected = pairSet(minePairs)
    assert(expected.nonEmpty, "fixture must mine at least one pair")
    assert(pairSet(EpochStore.read(spark, path)) === expected)
    assert(EpochStore.currentEpoch(spark, path) === Some(0L))
  }

  test("capped gram index epoch equals inline shingleIndex") {
    val path = tmp()
    val mine = Dedup.shingleIndex(docs, "doc_id", "text", k = 3,
      maxDf = 50, gramHash = Some(Md5Family))
    EpochStore.rebuild(spark, path, 0L, mine)
    val expected = mine.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    val got = EpochStore.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("retry of a committed epoch is a no-op and never re-mines") {
    val path = tmp()
    var mines = 0
    def counted: DataFrame = { mines += 1; minePairs }
    EpochStore.rebuild(spark, path, 0L, counted)
    assert(mines === 1)
    val before = pairSet(EpochStore.read(spark, path))
    EpochStore.rebuild(spark, path, 0L, counted) // streaming-style retry
    assert(mines === 1, "a committed epoch's mine must not re-evaluate")
    assert(pairSet(EpochStore.read(spark, path)) === before)
  }

  test("a crashed rebuild's partial dir is invisible; the retry lands it") {
    val path = tmp()
    EpochStore.rebuild(spark, path, 0L, minePairs)
    val epoch0 = pairSet(EpochStore.read(spark, path))
    // epoch 1 commits, then its marker is torn off — the on-disk state
    // of a rebuild killed between the data files and the commit marker
    EpochStore.rebuild(spark, path, 1L,
      minePairs.filter(col("doc_a") % 2 === 0))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/epoch=1/_SUCCESS"), false)
    // ...except epoch 0 already drained when 1 committed, so recommit
    // 0 first to give readers a standing generation for the window
    EpochStore.rebuild(spark, path, 0L, minePairs)
    assert(EpochStore.currentEpoch(spark, path) === Some(0L),
      "the partial epoch 1 dir must be invisible to readers")
    assert(pairSet(EpochStore.read(spark, path)) === epoch0)
    // the retry overwrites the partial dir and commits
    val filtered = pairSet(minePairs.filter(col("doc_a") % 2 === 0))
    EpochStore.rebuild(spark, path, 1L,
      minePairs.filter(col("doc_a") % 2 === 0))
    assert(EpochStore.currentEpoch(spark, path) === Some(1L))
    assert(pairSet(EpochStore.read(spark, path)) === filtered)
  }

  test("committing a new epoch drains strictly-older generations") {
    val path = tmp()
    EpochStore.rebuild(spark, path, 0L, minePairs)
    EpochStore.rebuild(spark, path, 3L,
      minePairs.filter(col("doc_a") % 2 === 0))
    assert(EpochStore.committedEpochs(spark, path) === Seq(3L))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/epoch=0")),
      "the old epoch dir must drain after the new commit")
  }

  test("reading a store with no committed epoch throws") {
    val path = tmp()
    intercept[IllegalStateException] { EpochStore.read(spark, path) }
  }
}
