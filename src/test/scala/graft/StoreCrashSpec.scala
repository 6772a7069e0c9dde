package graft

import java.io.File
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{BatchStore, Tables, Tombstones}
import graft.operators.{AnnIndex, Dedup, PairStore, TextIndex}

/** Crash windows of the persisted stores: each [[Window]] builds a
  * tiny store, then its operation is killed at its k-th mutating
  * file-system call for every k until one run completes
  * (`HookFs.killedAt`). After each kill the read (which heals first)
  * must equal the state before the operation or the one-shot state
  * after it, and so must it after the store's plain compaction; after a
  * retry of the operation it must equal the one-shot state. Stores are
  * tiny, so each k costs a few small Spark jobs.
  */
class StoreCrashSpec extends SparkSpecBase {
  /** `body` with logging off: every kill makes Spark log the failed
    * task's and job's stack traces, thousands of lines per store.
    */
  private def quietly[T](body: => T): T = {
    val level = LogManager.getRootLogger.getLevel
    Configurator.setRootLevel(Level.OFF)
    try body finally Configurator.setRootLevel(level)
  }

  /** One crash window. `build` makes the store at a local path; `op` is
    * the operation killed, `read` the state compared and `compact` the
    * store's plain compaction. `oneShot(template)` is the read once `op`
    * has completed, computed without running it where it can be.
    * `afterOp(k, path)` asserts what must hold after every attempt,
    * killed or not, and `afterDone(k, path)` what must hold once `op`
    * has completed, and once the plain compaction after a kill has.
    */
  private final case class Window(name: String, build: String => Unit,
      op: String => Unit, read: String => Seq[Any], compact: String => Unit,
      oneShot: String => Seq[Any],
      afterOp: (Int, String) => Unit = (_, _) => (),
      afterDone: (Int, String) => Unit = (_, _) => ())

  /** Run `w`'s kill loop on fresh copies of its store. Returns the
    * number of kills.
    */
  private def killEveryStep(w: Window): Int = {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val template = tempDir("graft_crash_t") + "/store"
    w.build(template)
    def copy(): String = {
      val local = tempDir("graft_crash_k") + "/store"
      org.apache.commons.io.FileUtils.copyDirectory(new File(template), new File(local))
      "hook://" + local
    }
    val pre = w.read(template)
    val want = w.oneShot(template)
    var k = 0
    var killed = true
    while (killed) {
      k += 1
      val path = copy()
      killed = quietly(HookFs.killedAt(k)(w.op(path)))
      w.afterOp(k, path)
      if (killed) {
        val got = w.read(path)
        assert(got == pre || got == want,
          s"k=$k: the read after the kill is neither the state before the op nor after it")
        w.compact(path)
        val healed = w.read(path)
        assert(healed == pre || healed == want,
          s"k=$k: the read after the kill and a plain compact is neither the state " +
            "before the op nor after it")
        w.afterDone(k, path)
        w.op(path)
      }
      assert(w.read(path) == want, s"k=$k: the read differs from the one-shot state")
      w.afterDone(k, path)
    }
    assert(k > 2, s"${w.name} completed after ${k - 1} mutating calls: the kill never landed")
    k - 1
  }

  /** A deletable store's compaction with tombstone batch b holding the
    * ids `dead(b)`: a tombstone may be gone only if the committed
    * generations (`stored`) hold none of its ids, and none may be left
    * once the compaction completed. The masked query is unchanged.
    */
  private def tombstoneWindow(name: String, build: String => Unit,
      dead: Map[Long, Set[Long]], compact: String => Unit,
      stored: String => Set[Long], masked: String => Seq[Any]): Window =
    Window(name,
      build = p => {
        build(p)
        assert(Tombstones.committed(spark, p).toSet == dead.keySet)
      },
      op = compact, read = masked, compact = compact, oneShot = masked,
      afterOp = (k, path) => {
        val gone = dead.keySet -- Tombstones.committed(spark, path)
        if (gone.nonEmpty) {
          val left = stored(path)
          gone.foreach(b => assert((dead(b) & left).isEmpty,
            s"k=$k: tombstone batch $b drained while the store still holds ${dead(b) & left}"))
        }
      },
      afterDone = (k, path) => assert(Tombstones.committed(spark, path).isEmpty,
        s"k=$k: a completed compact left tombstones"))

  // --- the text index: 24 docs over a 6-word vocabulary, 2 buckets ---

  private lazy val textDocs: DataFrame = {
    import spark.implicits._
    val vocab = Seq("grid", "load", "meter", "power", "solar", "wind")
    (0L until 24L).map(i =>
      (i, s"${vocab((i % 6).toInt)} ${vocab((i % 4).toInt)} doc$i")).toDF("doc_id", "text")
      .coalesce(1)
  }

  private def appendText(path: String, b: Long, of: Long): Unit =
    TextIndex.appendBatch(textDocs.filter(col("doc_id") % of === b),
      "doc_id", "text", path, batchId = b, buckets = 2)

  /** The full BM25 ranking of two probes, scores included. */
  private def textQuery(path: String): Seq[Any] = {
    import spark.implicits._
    val probes = Seq((1L, "grid power"), (2L, "wind load meter")).toDF("query_id", "qtext")
    TextIndex.query(spark, path, probes, "query_id", "qtext", k = 100, buckets = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
  }

  /** The text query of one index built in a single append. */
  private def oneShotText(): Seq[Any] = {
    val path = tempDir("graft_crash_one") + "/idx"
    TextIndex.appendBatch(textDocs, "doc_id", "text", path, batchId = 0L, buckets = 2)
    textQuery(path)
  }

  // --- the pair store: 8 topics x 3 docs, each doc its topic plus one word ---

  private lazy val pairDocs: DataFrame = {
    import spark.implicits._
    (0L until 24L).map { i =>
      val topic = i % 8
      (i, ((0 until 8).map(w => s"t${topic}w$w") :+ s"tail$i").mkString(" "))
    }.toDF("doc_id", "text").coalesce(1)
  }

  private def appendPairs(path: String, b: Long): Unit =
    PairStore.appendDocs(pairDocs.filter(col("doc_id") % 3 === b),
      "doc_id", "text", path, b)

  private def pairsOf(path: String): Seq[Any] =
    PairStore.pairs(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq.sorted

  private val windows: Seq[Window] = Seq(
    {
      import spark.implicits._
      val dead = Map(0L -> Set(0L, 3L, 6L), 1L -> Set(9L, 13L))
      val probes = Seq((1L, "grid power"), (2L, "wind load meter"))
      tombstoneWindow("TextIndex.compact killed at every mutating call keeps its deletes",
        build = p => {
          Seq(0L, 1L).foreach(appendText(p, _, 2))
          dead.foreach { case (b, ids) =>
            TextIndex.delete(ids.toSeq.toDF("doc_id"), "doc_id", p, batchId = b) }
        },
        dead, TextIndex.compact(spark, _),
        p => BatchStore.read(spark, p + "/postings").select("doc").distinct()
          .collect().map(_.getLong(0)).toSet,
        // membership, not scores: a completed compact re-fits the stats
        p => TextIndex.query(spark, p, probes.toDF("query_id", "qtext"), "query_id",
            "qtext", k = 100, buckets = 2)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted)
    },
    {
      import spark.implicits._
      val dead = Map(0L -> Set(1L, 5L, 33L), 1L -> Set(8L, 40L))
      lazy val emb = Tables.embeddings(spark, sf("sf0.001")).filter(col("vec_id") < 48)
        .localCheckpoint()
      tombstoneWindow("AnnIndex.compact killed at every mutating call keeps its deletes",
        build = p => {
          AnnIndex.build(emb.filter(col("vec_id") < 32), p, dim = 64, nlists = 2,
            numCodes = 4)
          AnnIndex.appendBatch(emb.filter(col("vec_id") >= 32), p, dim = 64, batchId = 1L)
          dead.foreach { case (b, ids) =>
            AnnIndex.delete(ids.toSeq.toDF("vec_id"), p, batchId = b) }
        },
        dead, AnnIndex.compact(spark, _),
        p => BatchStore.read(spark, p + "/enc").select("neighbor_id").distinct()
          .collect().map(_.getLong(0)).toSet,
        p => AnnIndex.query(spark, p, emb.filter(col("vec_id") < 4), k = 5, dim = 64,
            nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
    },
    Window("TextIndex.appendBatch killed at every mutating call commits all or nothing",
      build = p => Seq(0L, 1L).foreach(appendText(p, _, 3)),
      op = appendText(_, 2L, 3), read = textQuery,
      compact = TextIndex.compact(spark, _), oneShot = _ => oneShotText()),
    Window("TextIndex.compact without tombstones killed at every mutating call is invisible",
      build = p => Seq(0L, 1L, 2L).foreach(appendText(p, _, 3)),
      op = TextIndex.compact(spark, _), read = textQuery,
      compact = TextIndex.compact(spark, _), oneShot = textQuery),
    Window("PairStore.appendDocs killed at every mutating call commits all or nothing",
      build = p => Seq(0L, 1L).foreach(appendPairs(p, _)),
      op = appendPairs(_, 2L), read = pairsOf,
      compact = PairStore.compact(spark, _),
      oneShot = _ => {
        val oneShot = Dedup.ngramJaccardPairs(pairDocs, "doc_id", "text",
            gramHash = Some(graft.functions.XxHash64Family))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), "ngram")).toSeq.sorted
        assert(oneShot.size == 24, s"the fixture mines 3 pairs per topic, got $oneShot")
        oneShot
      }),
    Window("PairStore.compactText killed at every mutating call is invisible",
      build = p => Seq(0L, 1L, 2L).foreach(appendPairs(p, _)),
      op = PairStore.compactText(spark, _), read = pairsOf,
      compact = PairStore.compact(spark, _), oneShot = pairsOf))

  windows.foreach { w =>
    test(w.name) {
      info(s"${killEveryStep(w)} kill points")
    }
  }
}
