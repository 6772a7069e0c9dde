package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-derived watermark semantics.
  *
  * The reference persists an incremental cursor (dlt,
  * `bronze_ingest.py:13`) for ingest and recomputes per-layer watermarks
  * as `SELECT COALESCE(MAX(time_id), '1970-01-01'::TIMESTAMP)`
  * (`silver_transform.py:54-58`, `gold_aggr.py:59-63`). Over an
  * `IdempotentSink` table the max comes from the generations' commit
  * metadata (each `_meta` records its key columns' max): a listing and
  * a few tiny file reads, no job, whatever the sink's size. A table
  * with a generation lacking meta, or a non-key column, falls back to
  * the probe over a frame: a tiny ungrouped-max action, partial max per
  * partition, single combine at the driver.
  */
object Watermark {
  val Epoch: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")

  /** `COALESCE(MAX(c), epoch)` as a driver-side scalar (A1). */
  def maxOrEpoch(sink: DataFrame, c: String): Timestamp =
    Option(sink.agg(max(col(c))).head.getTimestamp(0)).getOrElse(Epoch)

  /** [[maxOrEpoch]] of the `IdempotentSink` table at `path` (epoch for
    * a table with no committed generation): from the metas when they
    * all record `c`, else by the probe over the table.
    */
  def maxOrEpoch(spark: SparkSession, path: String, c: String): Timestamp =
    IdempotentSink.keyMax(spark, path, c) match {
      case Some(Some(t: Timestamp)) => t
      case Some(None) => Epoch
      case _ =>
        if (IdempotentSink.exists(spark, path)) maxOrEpoch(IdempotentSink.read(spark, path), c)
        else Epoch
    }

  /** True when the metas of the sink at `path` prove that no row's `c`
    * is past `w` — a layer reading only rows past `w` from it would
    * emit nothing. False when that is not known without a scan.
    */
  def nothingPast(spark: SparkSession, path: String, c: String, w: Timestamp): Boolean =
    IdempotentSink.keyMax(spark, path, c) match {
      case Some(Some(t: Timestamp)) => !t.after(w)
      case Some(None) => true
      case _ => false
    }

  /** Rows strictly past the watermark (P4) — the reference's
    * incremental predicate (`silver_transform.py:80,103`). Parquet
    * min/max stats + partition pruning make this a metadata-only skip
    * of already-processed data at scale.
    */
  def pastWatermark(df: DataFrame, c: String, w: Timestamp): DataFrame =
    df.filter(col(c) > lit(w))

  /** Watermark minus a lookback, for window-frame warm-up
    * (`gold_aggr.py:98`: re-read 4 minutes before the watermark so
    * trailing frames are warm, then trim to rows past the watermark).
    */
  def lookback(w: Timestamp, minutes: Long): Timestamp =
    Timestamp.from(w.toInstant.minusSeconds(minutes * 60))

  /** Cursor formatted as the reference's API param
    * (`bronze_ingest.py:25-30`, strftime "%Y-%m-%dT%H:%M").
    */
  def cursorString(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm")
}
