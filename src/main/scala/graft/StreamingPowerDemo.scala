package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import graft.medallion.{PowerPipeline, PowerSchemas}
import graft.streaming.StreamingPower

/** Runnable demo of the streaming-driven medallion: feed files arrive,
  * Structured Streaming micro-batches them through the full
  * bronze→silver→gold increment (checkpointed offsets replace the
  * reference's manual cursor).
  *
  *   sbt "runMain graft.StreamingPowerDemo /tmp/stream_demo"
  */
object StreamingPowerDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/stream_demo")
    val spark = GraftSession.local(4)

    val feedDir = s"$base/feed"
    val paths = PowerPipeline.Paths(s"$base/tables")
    def feed(fromMin: Int, toMin: Int): Unit = {
      val rows = (fromMin until toMin).map { i =>
        Row.fromSeq(Timestamp.valueOf(f"2024-01-01 00:$i%02d:00") +:
          Seq.tabulate(15)(c => 10.0 + i + c))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), PowerSchemas.raw)
        .write.mode("append").parquet(feedDir)
    }
    def goldCount =
      spark.read.parquet(paths.gold).count()

    println("== feed batch 1 arrives (minutes [0,10)) -> stream run 1")
    feed(0, 10)
    StreamingPower.medallionStream(spark, feedDir, s"$base/ckpt", paths)
      .awaitTermination(120000)
    println(s"gold rows after stream run 1: $goldCount (expect 10)")

    println("== feed batch 2 arrives (minutes [10,17)) -> stream run 2 (resumes checkpoint)")
    feed(10, 17)
    StreamingPower.medallionStream(spark, feedDir, s"$base/ckpt", paths)
      .awaitTermination(120000)
    println(s"gold rows after stream run 2: $goldCount (expect 17)")
    spark.read.parquet(paths.gold).orderBy("time_id")
      .select("time_id", "avg_co2_emission", "production_volatility")
      .show(5, truncate = false)
    spark.stop()
  }
}
