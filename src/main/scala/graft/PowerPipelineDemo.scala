package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import graft.medallion.{PowerPipeline, PowerSchemas}

/** Runnable end-to-end demo of the medallion pipeline — the library
  * consumer's view of Bronze→Silver→Gold: two incremental feed batches
  * (the reference's run-again-for-new-data contract,
  * bronze_ingest.py:86-89), an idempotent rerun, a third increment
  * delivered as a JSON payload drop through the `graft-feed`
  * DataSource V2 source (the reference's actual transport), and the
  * CSV export.
  *
  *   sbt "runMain graft.PowerPipelineDemo /tmp/power_demo"
  */
object PowerPipelineDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/power_demo")
    val spark = GraftSession.local(4)

    def feed(fromMin: Int, toMin: Int) = {
      val rows = (fromMin until toMin).map { i =>
        Row.fromSeq(Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00") +:
          Seq.tabulate(15)(c => 100.0 + i + c))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), PowerSchemas.raw)
    }

    val paths = PowerPipeline.Paths(base)
    println(s"== increment 1: minutes [0, 20) -> $base")
    PowerPipeline.runIncrement(spark, feed(0, 20), paths)
    println(s"== increment 2: minutes [15, 35) (overlapping — dupes must drop)")
    PowerPipeline.runIncrement(spark, feed(15, 35), paths)
    println(s"== rerun of increment 2 (must be a no-op)")
    PowerPipeline.runIncrement(spark, feed(15, 35), paths)

    // increment 3 arrives the way the reference's really does: a JSON
    // response payload (records under "records", Minutes1UTC-style
    // string cursor) read through the graft-feed DataSource V2 source
    // with inferred schema, then normalized into the bronze contract.
    println(s"== increment 3: minutes [35, 50) as a JSON payload drop (graft-feed)")
    val feedDir = new java.io.File(base, "feed")
    feedDir.mkdirs()
    val recs = (35 until 50).map { i =>
      val ts = f"2024-01-01T${i / 60}%02d:${i % 60}%02d:00"
      val metrics = PowerSchemas.metricCols.zipWithIndex
        .map { case (c, k) => s""""$c": ${100.0 + i + k}""" }.mkString(", ")
      s"""{"minutes1_utc": "$ts", $metrics}"""
    }
    java.nio.file.Files.write(feedDir.toPath.resolve("drop-000.json"),
      s"""{"records": [${recs.mkString(",")}]}""".getBytes("UTF-8"))
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val fromFeed = spark.read.format("graft-feed")
      .option("endpoint", feedDir.getPath)
      .option("cursorField", "minutes1_utc")
      .load()
      .withColumn("minutes1_utc", to_timestamp(col("minutes1_utc")))
      .select(PowerSchemas.raw.fieldNames.toSeq.map(col): _*)
    PowerPipeline.runIncrement(spark, fromFeed, paths)
    PowerPipeline.exportCsv(spark, paths)

    val fact = graft.engine.IdempotentSink.read(spark, paths.fact)
    val gold = graft.engine.IdempotentSink.read(spark, paths.gold)
    println(s"fact rows: ${fact.count()} (expect 50, unique minutes)")
    println(s"gold rows: ${gold.count()} (expect 50)")
    gold.orderBy("time_id")
      .select("time_id", "avg_co2_emission", "production_volatility",
        "wind_solar_ratio", "day_of_week", "season")
      .show(8, truncate = false)
    val csv = spark.read.option("header", "true").csv(paths.mlCsv)
    println(s"ml_features.csv rows: ${csv.count()}, columns: ${csv.columns.length}")
    spark.stop()
  }
}
