package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{BatchStore, Tables}
import graft.engine.BatchStore.Mergeable
import graft.operators._
import graft.streaming.StreamingPower

/** The fold rule, checked for every `Mergeable` store kind in
  * `StreamingPower`: three batches appended (plus a re-delivery of a
  * committed id) read out exactly like the kind's rows over the whole
  * input, and compaction — the same fold, written to disk — changes
  * nothing a reader sees.
  */
class MergeableSpec extends SparkSpecBase {
  private lazy val events = Tables.events(spark, sf("sf0.001"))
  private lazy val docs = Tables.documents(spark, sf("sf0.001"))
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))

  /** A store kind: its three input batches and their store rows
    * (`rows(batch, storePath)` — the EWMA rows read their own store).
    */
  private case class Kind(name: String, store: Mergeable,
      batch: Int => DataFrame, rows: (DataFrame, String) => DataFrame)

  private def thirds(df: => DataFrame, idCol: String): Int => DataFrame =
    b => df.filter(col(idCol) % 3 === b)

  // built without touching the session: batches are by-name
  private val kinds = Seq(
    Kind("countMin", StreamingPower.countMin, thirds(docs, "doc_id"),
      (b, _) => StreamingPower.tokenSketchRows(b, "text")),
    Kind("profile", StreamingPower.profile, thirds(docs, "doc_id"),
      (b, _) => Profile.valueHistogram(b, Seq("lang", "source"))),
    Kind("hll", StreamingPower.hll, thirds(docs, "doc_id"),
      (b, _) => Sketches.hllRegisters(b, col("text"))),
    Kind("quantile", StreamingPower.quantile(64), thirds(events, "event_id"),
      (b, _) => Sketches.quantileSample(b, "event_type", "event_id", "value", 64)),
    Kind("funnel", StreamingPower.funnel, thirds(docs, "doc_id"),
      (b, _) => StreamingPower.funnelRows(b, "doc_id", "text")),
    Kind("psi", StreamingPower.psi, thirds(events, "event_id"),
      (b, _) => StatTests.psiBinCounts(b, "value", "event_type", "click",
        "view", 0.0, 500.0, 10)),
    Kind("fingerprint", StreamingPower.fingerprint,
      b => Multimodal.withPatternedImagePayload(thirds(docs, "doc_id")(b)),
      (b, _) => StreamingPower.fingerprintRows(Multimodal.dHash(b))),
    Kind("trend", StreamingPower.trend, thirds(events, "event_id"),
      (b, _) => Sessions.dailyCounts(b, "event_type", "ts")),
    Kind("seasonal", StreamingPower.seasonal, thirds(events, "event_id"),
      (b, _) => StreamingPower.seasonalRows(b, "ts")),
    // the EWMA contract: batches in event-time order per key
    Kind("ewma", StreamingPower.ewma,
      b => events.filter(col("user_id") < 50).filter(Seq(
        col("ts") < lit("2024-01-11").cast("timestamp"),
        col("ts") >= lit("2024-01-11").cast("timestamp")
          && col("ts") < lit("2024-01-21").cast("timestamp"),
        col("ts") >= lit("2024-01-21").cast("timestamp"))(b)),
      (b, path) => StreamingPower.ewmaRows(b, "user_id", "ts", "value",
        300000L, path)),
    Kind("dsir", StreamingPower.dsir,
      thirds(docs.withColumn("tgt", (col("source") === "src0").cast("int")),
        "doc_id"),
      (b, _) => Sampling.dsirBucketStats(b, "doc_id", "text", "tgt", 64)),
    Kind("histogram", StreamingPower.histogram, thirds(events, "event_id"),
      (b, _) => Sketches.fixedHistogram(b, "value", 0.0, 500.0, 50)),
    Kind("calibration", StreamingPower.calibration,
      thirds(events.filter(col("value").isNotNull)
        .withColumn("_hit", (col("event_type") === "purchase").cast("int")),
        "event_id"),
      (b, _) => StreamingPower.calibrationRows(b, "value", "_hit", 16, 8.0)),
    Kind("cadence", StreamingPower.cadence, thirds(events, "event_id"),
      (b, _) => StreamingPower.cadenceRows(b, "user_id", "ts", 3600L)),
    Kind("moment", StreamingPower.moment, thirds(emb, "vec_id"),
      (b, _) => StreamingPower.momentRows(b, "embedding")),
    Kind("cdc", StreamingPower.cdc,
      thirds(events.select("event_id", "event_type", "value"), "event_id"),
      (b, _) => b))

  /** Rows as an order-free multiset, columns in `cols` order. */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  test("every Mergeable in StreamingPower has a row in the table") {
    val declared = StreamingPower.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        m.getReturnType == classOf[Mergeable]).map(_.getName).toSet
    assert(declared + "quantile" == kinds.map(_.name).toSet)
  }

  kinds.foreach { k =>
    test(s"${k.name}: read == one-shot rows; re-delivery and compaction invisible") {
      val path = tempDir(s"graft_mergeable_${k.name}") + "/store"
      def append(id: Long, b: Int): Unit =
        k.store.append(spark, path, id)(k.rows(k.batch(b), path))
      append(0L, 0)
      append(1L, 1)
      val cols = k.store.read(spark, path).columns.toSeq
      def read() = rowsOf(k.store.read(spark, path), cols)
      val twoBatches = read()
      // a committed id re-delivered with OTHER rows is a no-op
      append(1L, 2)
      assert(read() == twoBatches, "re-appending a committed id changed the store")
      append(2L, 2)
      val whole = (0 until 3).map(k.batch).reduce(_ unionByName _)
      val oneShot = rowsOf(
        k.rows(whole, tempDir(s"graft_mergeable_${k.name}_oneshot") + "/store"),
        cols)
      val streamed = read()
      assert(streamed == oneShot, "three folded batches != the whole input's rows")
      k.store.compact(spark, path)
      assert(BatchStore.committedBatches(spark, path) == Seq(2L))
      assert(read() == streamed, "compaction changed what a reader sees")
    }
  }
}
