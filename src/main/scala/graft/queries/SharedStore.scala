package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import graft.engine.TempDirs

/** One session-shared persisted store: built ONCE per (JVM, sf dir) on
  * first use and then READ by every query whose [[Query]] entry lists
  * it in `needs` — the ingest-once discipline (q326) applied to the
  * suite's indexes and pair graphs. Store reads answer exactly like the
  * one-shot inline operators (each store's spec pins it), so every
  * consumer keeps its one-shot DuckDB oracle. Builds are
  * BuildTiming-accounted (amortizable `build_s`), and Bench and Verify
  * [[SharedStore.prewarm]] them outside any timed window or wave.
  *
  * The store names no queries: a query declares the stores it reads in
  * its own entry, and QueriesSmokeSpec fails when a query builds a
  * store it does not declare.
  */
final class SharedStore private (
    val label: String,
    tempPrefix: String,
    leaf: String,
    build: (SparkSession, String, String) => Unit) {

  private val byDir = new ConcurrentHashMap[String, String]()

  /** The store's root for the tables under `dir`, built on first use
    * in a temp dir deleted at JVM exit (`TempDirs`); concurrent first
    * callers block on the one build.
    */
  def path(s: SparkSession, dir: String): String =
    byDir.computeIfAbsent(dir, _ => {
      val tmp = TempDirs.deleteOnExit(
        java.nio.file.Files.createTempDirectory(tempPrefix))
      val root = tmp.toString + "/" + leaf
      build(s, dir, root)
      root
    })

  /** Whether this JVM holds a built store for `dir`. */
  def isBuilt(dir: String): Boolean = byDir.containsKey(dir)
}

object SharedStore {
  /** The POSITIONAL text index over the q139 corpus split (source !=
    * src0, two disjoint even/odd-doc_id batches) — serves BM25 and
    * phrase search alike. Its fresh build is q161's timed entry.
    */
  val textIndex: SharedStore = new SharedStore("index",
    "graft_shared_tidx", "idx",
    (s, dir, root) => TextQueries.buildCorpusIndex(s, dir, root))

  /** The NEAR-DUP PAIR STORE: both signals mined in three doc-disjoint
    * increments (exercising new×new ∪ new×standing), so store pairs ≡
    * one-shot mining bit-for-bit (the PairStore decomposition
    * argument). Its fresh build is q334's timed entry.
    */
  val pairStore: SharedStore = new SharedStore("pair-store",
    "graft_shared_pairs", "store",
    (s, dir, root) => DedupQueries.buildPairStore(s, dir, root))

  /** The EPOCH store for the pair signals that are NOT incrementally
    * decomposable and so can never join the PairStore: q21's MinHash-
    * LSH pair set (corpus-dependent hot-bucket cap) and q62's DF-capped
    * hashed shingle index (corpus-dependent hot list), each mined once
    * per corpus generation by the unchanged inline operator and
    * published as a committed `epoch=N` dir. Its fresh build is q337's
    * timed entry.
    */
  val epochStore: SharedStore = new SharedStore("epoch-store",
    "graft_epoch_store", "store",
    (s, dir, root) => DedupQueries.buildEpochStore(s, dir, root))

  /** Every shared store, in prewarm order. */
  val all: Seq[SharedStore] = Seq(textIndex, pairStore, epochStore)

  /** Build, for the tables under `dir`, each of `stores`. A failed
    * build is logged under `tag` and skipped: its consumers then build
    * on first use, or fail on their own.
    */
  def prewarm(spark: SparkSession, dir: String, stores: Set[SharedStore],
      tag: String): Unit =
    all.filter(stores).foreach { st =>
      try st.path(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${st.label} prewarm failed: $e") }
    }
}
