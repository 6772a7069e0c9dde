package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{IdempotentSink, Watermark}

/** End-to-end bronze → silver → gold orchestration over parquet-dir
  * tables — the reference's three `__main__` scripts
  * (`bronze_ingest.py:85-90`, `silver_transform.py:123-124`,
  * `gold_aggr.py:224-255`) as one rerunnable increment. Each layer is
  * watermark-driven and idempotent (rerun with no new data = no-op),
  * matching dlt-cursor + ON-CONFLICT-DO-NOTHING semantics.
  */
object PowerPipeline {
  case class Paths(base: String) {
    val bronze = s"$base/bronze/power_system_raw"
    val dim = s"$base/silver/dim_time"
    val fact = s"$base/silver/fact_power_system"
    val gold = s"$base/gold/power_system_5min_avg"
    val mlCsv = s"$base/export/ml_features"
  }

  /** One incremental run: ingest `batch` into bronze, propagate through
    * silver and gold. Safe to call repeatedly / with overlapping
    * batches.
    *
    * Each layer emits only rows past its own sink's watermark, so a
    * layer whose upstream holds nothing past that watermark (proved by
    * the upstream's commit metadata) is skipped exactly, and each
    * append is bounded by the watermark its rows were filtered past:
    * a no-op rerun runs only bronze's (empty) staging write and commits
    * nothing.
    */
  def runIncrement(spark: SparkSession, batch: DataFrame, paths: Paths): Unit = {
    // bronze (S1-S3): cursor filter + PK dedup + append-if-absent
    val cursor = Watermark.maxOrEpoch(spark, paths.bronze, "minutes1_utc")
    IdempotentSink.appendIfAbsent(spark, Bronze.newRows(batch, cursor),
      paths.bronze, Seq("minutes1_utc"), above = Some(cursor))

    // silver (S4-S7): watermark from fact sink, dim + fact upserts
    val silverWm = Watermark.maxOrEpoch(spark, paths.fact, "time_id")
    if (!Watermark.nothingPast(spark, paths.bronze, "minutes1_utc", silverWm)) {
      val bronze = IdempotentSink.read(spark, paths.bronze)
      IdempotentSink.appendIfAbsent(spark, Silver.dimTime(bronze, silverWm),
        paths.dim, Seq("time_id"), above = Some(silverWm))
      IdempotentSink.appendIfAbsent(spark, Silver.fact(bronze, silverWm),
        paths.fact, Seq("time_id"), above = Some(silverWm))
    }

    // gold (J1, W1-W18, lookback+trim): watermark from gold sink
    val goldWm = Watermark.maxOrEpoch(spark, paths.gold, "time_id")
    if (!Watermark.nothingPast(spark, paths.fact, "time_id", goldWm)) {
      val fact = IdempotentSink.read(spark, paths.fact)
      val dim = IdempotentSink.read(spark, paths.dim)
      IdempotentSink.appendIfAbsent(spark, Gold.features(fact, dim, goldWm),
        paths.gold, Seq("time_id"), above = Some(goldWm))
    }
  }

  def exportCsv(spark: SparkSession, paths: Paths): Unit =
    Gold.exportMlFeatures(IdempotentSink.read(spark, paths.gold), paths.mlCsv)
}
