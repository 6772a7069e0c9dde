package graft

import java.io.File
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.functions._
import graft.engine.{BatchStore, Tables, Tombstones}
import graft.operators.{AnnIndex, TextIndex}

/** Crash windows of the deletable stores' compaction: with live
  * tombstones, `compact` is killed at its k-th mutating file-system call
  * for every k until one run completes (`HookFs.killedAt`). After each
  * kill, a tombstone may be gone only if the committed generations hold
  * none of its ids, and the masked query (which heals first) equals the
  * masked query before the attempt; so does it after the next plain
  * `compact`. Stores are tiny, so each k costs a few small Spark jobs.
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

  /** Kill `compact` at every k on a fresh copy of the local store
    * `template`, whose tombstone batch b holds the ids `dead(b)`;
    * `stored` reads the ids left in the store's committed generations
    * and `masked` the query compared. Returns the number of kills.
    */
  private def killEveryStep(template: String, dead: Map[Long, Set[Long]])(
      compact: String => Unit, stored: String => Set[Long],
      masked: String => Seq[Any]): Int = {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    assert(Tombstones.committed(spark, template).toSet == dead.keySet)
    val want = masked(template)
    var k = 0
    var killed = true
    while (killed) {
      k += 1
      val local = tempDir("graft_crash_k") + "/store"
      org.apache.commons.io.FileUtils.copyDirectory(new File(template), new File(local))
      val path = "hook://" + local
      killed = quietly(HookFs.killedAt(k)(compact(path)))
      val gone = dead.keySet -- Tombstones.committed(spark, path)
      if (gone.nonEmpty) {
        val left = stored(path)
        gone.foreach(b => assert((dead(b) & left).isEmpty,
          s"k=$k: tombstone batch $b drained while the store still holds ${dead(b) & left}"))
      }
      if (killed) {
        assert(masked(path) == want, s"k=$k: the masked query changed after the kill")
        compact(path)
      }
      assert(masked(path) == want, s"k=$k: the masked query changed across a killed compact")
      assert(Tombstones.committed(spark, path).isEmpty,
        s"k=$k: a completed compact left tombstones")
    }
    assert(k > 2, s"compact completed after ${k - 1} mutating calls: the kill never landed")
    k - 1
  }

  test("TextIndex.compact killed at every mutating call keeps its deletes") {
    import spark.implicits._
    val path = tempDir("graft_crash_text") + "/idx"
    val vocab = Seq("grid", "load", "meter", "power", "solar", "wind")
    val docs = (0L until 24L).map(i =>
      (i, s"${vocab((i % 6).toInt)} ${vocab((i % 4).toInt)} doc$i")).toDF("doc_id", "text")
    val probes = Seq((1L, "grid power"), (2L, "wind load meter")).toDF("query_id", "qtext")
    Seq(0L, 1L).foreach(b => TextIndex.appendBatch(docs.filter(col("doc_id") % 2 === b),
      "doc_id", "text", path, batchId = b, buckets = 2))
    val dead = Map(0L -> Set(0L, 3L, 6L), 1L -> Set(9L, 13L))
    dead.foreach { case (b, ids) =>
      TextIndex.delete(ids.toSeq.toDF("doc_id"), "doc_id", path, batchId = b) }
    // membership, not scores: a completed compact re-fits the stats
    def masked(p: String): Seq[Any] =
      TextIndex.query(spark, p, probes, "query_id", "qtext", k = 100, buckets = 2)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    val kills = killEveryStep(path, dead)(TextIndex.compact(spark, _),
      p => BatchStore.read(spark, p + "/postings").select("doc").distinct()
        .collect().map(_.getLong(0)).toSet,
      masked)
    info(s"$kills kill points")
  }

  test("AnnIndex.compact killed at every mutating call keeps its deletes") {
    val path = tempDir("graft_crash_ann") + "/idx"
    val emb = Tables.embeddings(spark, sf("sf0.001")).filter(col("vec_id") < 48)
      .localCheckpoint()
    AnnIndex.build(emb.filter(col("vec_id") < 32), path, dim = 64, nlists = 2,
      numCodes = 4)
    AnnIndex.appendBatch(emb.filter(col("vec_id") >= 32), path, dim = 64, batchId = 1L)
    val dead = Map(0L -> Set(1L, 5L, 33L), 1L -> Set(8L, 40L))
    import spark.implicits._
    dead.foreach { case (b, ids) =>
      AnnIndex.delete(ids.toSeq.toDF("vec_id"), path, batchId = b) }
    val probes = emb.filter(col("vec_id") < 4)
    def masked(p: String): Seq[Any] =
      AnnIndex.query(spark, p, probes, k = 5, dim = 64, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val kills = killEveryStep(path, dead)(AnnIndex.compact(spark, _),
      p => BatchStore.read(spark, p + "/enc").select("neighbor_id").distinct()
        .collect().map(_.getLong(0)).toSet,
      masked)
    info(s"$kills kill points")
  }
}
