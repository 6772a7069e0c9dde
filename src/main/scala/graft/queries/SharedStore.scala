package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.{EpochStore, Tables, TempDirs}
import graft.functions.Md5Family
import graft.operators.{Dedup, PairStore}

/** One session-shared persisted store: built ONCE per (JVM, sf dir) on
  * first use and then READ by every query named in `consumers` — the
  * ingest-once discipline (q326) applied to the suite's indexes and
  * pair graphs. Store reads answer exactly like the one-shot inline
  * operators (each store's spec pins it), so every consumer keeps its
  * one-shot DuckDB oracle. Builds are BuildTiming-accounted
  * (amortizable `build_s`), and Bench and Verify [[SharedStore.prewarm]]
  * them outside any timed window or wave.
  *
  * `consumers` is the declaration both mains prewarm from:
  * QueriesSmokeSpec fails when a declared name is not registered, or
  * when an undeclared query builds a shared store.
  */
final class SharedStore private (
    val label: String,
    val consumers: Set[String],
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
    Set("q140_text_index", "q144_phrase_search", "q338_index_hybrid"),
    "graft_shared_tidx", "idx",
    (s, dir, root) => TextQueries.buildCorpusIndex(s, dir, root))

  /** The NEAR-DUP PAIR STORE: both signals mined in three doc-disjoint
    * increments (exercising new×new ∪ new×standing), so store pairs ≡
    * one-shot mining bit-for-bit (the PairStore decomposition
    * argument). Its fresh build is q334's timed entry.
    */
  val pairStore: SharedStore = new SharedStore("pair-store",
    Set("q57_dedup_clusters", "q59_canonical_corpus", "q74_embedding_dedup",
      "q120_source_dedup_report", "q130_incremental_canon",
      "q142_cluster_split", "q171_quality_canonical", "q180_ensemble_split",
      "q325_temporal_leakage", "q329_pair_store", "q333_cluster_balance"),
    "graft_shared_pairs", "store",
    (s, dir, root) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      (0L to 2L).foreach { b =>
        PairStore.appendDocs(docs.filter(col("doc_id") % 3 === b),
          "doc_id", "text", root, b)
        PairStore.appendEmbeddings(emb.filter(col("vec_id") % 3 === b),
          emb, root, b, threshold = 0.4)
      }
    })

  /** The EPOCH store for the pair signals that are NOT incrementally
    * decomposable and so can never join the PairStore: q21's MinHash-
    * LSH pair set (corpus-dependent hot-bucket cap) and q62's DF-capped
    * hashed shingle index (corpus-dependent hot list), each mined once
    * per corpus generation by the unchanged inline operator and
    * published as a committed `epoch=N` dir. Its fresh build is q337's
    * timed entry.
    */
  val epochStore: SharedStore = new SharedStore("epoch-store",
    Set("q91_split_leakage", "q92_source_overlap"),
    "graft_epoch_store", "store",
    (s, dir, root) => {
      val docs = Tables.documents(s, dir)
      EpochStore.rebuild(s, s"$root/minhash_pairs", 0L,
        Dedup.minhashLshPairs(docs, "doc_id", "text", hashes = Md5Family))
      EpochStore.rebuild(s, s"$root/capped_grams", 0L,
        Dedup.shingleIndex(docs, "doc_id", "text", k = 3, maxDf = 50,
          gramHash = Some(Md5Family)))
    })

  /** Every shared store, in prewarm order. */
  val all: Seq[SharedStore] = Seq(textIndex, pairStore, epochStore)

  /** Build, for the tables under `dir`, every store that one of the
    * `selected` queries consumes. A failed build is logged under `tag`
    * and skipped: its consumers then build on first use, or fail on
    * their own.
    */
  def prewarm(spark: SparkSession, dir: String, selected: Seq[String],
      tag: String): Unit =
    all.filter(st => selected.exists(st.consumers)).foreach { st =>
      try st.path(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${st.label} prewarm failed: $e") }
    }
}
