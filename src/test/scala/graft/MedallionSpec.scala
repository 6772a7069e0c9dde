package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import graft.engine.Watermark
import graft.medallion._

/** Medallion-layer differential tests on the FIXTURES.md A.1 recipe:
  * 12 consecutive minutes spanning the Dec→Jan season boundary and a
  * Sunday→Monday weekend boundary, with a duplicate timestamp, a NULL
  * timestamp, a zero-production row and a zero-solar row. Expected
  * values come from an independent plain-Scala evaluation of the
  * reference SQL semantics (gold_aggr.py:66-221).
  */
class MedallionSpec extends SparkSpecBase {
  private def ts(s: String) = Timestamp.valueOf(s)

  /** minute index → metric value generators (simple but not constant). */
  private val minutes: Seq[String] = (55 to 59).map(m => f"2023-12-31 23:$m%02d:00") ++
    (0 to 6).map(m => f"2024-01-01 00:0$m%01d:00")

  private def rawRow(i: Int, t: String): Row = {
    val co2 = 100.0 + 3 * i
    val large = if (i == 6) 0.0 else 500.0 + 10 * i // 00:01 zero production
    val small = if (i == 6) 0.0 else 200.0 + 5 * i
    val solar = if (i == 7) 0.0 else 50.0 + i // 00:02 zero solar
    Row(ts(t), co2, large, small, solar, 120.0 + i, 80.0 + i,
      30.0 + i, 10.0 + i, 5.0 + i, 7.0 + i, 3.0 + i, 2.0 + i, 4.0 + i, 6.0 + i, 1.0 + i)
  }

  private lazy val fixture: DataFrame = {
    val rows = minutes.zipWithIndex.map { case (t, i) => rawRow(i, t) } ++
      Seq(rawRow(2, minutes(2)), // exact duplicate timestamp (23:57)
        Row(null, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), PowerSchemas.raw)
  }

  test("bronze newRows: cursor filter drops old rows, dedups PK, drops null ts") {
    val out = Bronze.newRows(fixture, ts("2023-12-31 23:56:00"))
    val got = out.select("minutes1_utc").collect().map(_.getTimestamp(0)).sorted
    assert(got.length == 10) // 12 minutes - 2 before/at cursor, dup+null gone
    assert(got.head == ts("2023-12-31 23:57:00"))
    assert(!got.contains(null))
  }

  test("silver dim_time: season/weekend/DOW across year boundary") {
    val dim = Silver.dimTime(fixture, Watermark.Epoch)
    val byId = dim.collect().map(r => r.getTimestamp(0) -> r).toMap
    assert(byId.size == 12)
    val dec = byId(ts("2023-12-31 23:59:00"))
    assert(dec.getInt(2) == 23 && dec.getInt(3) == 59) // hour, minute
    assert(dec.getInt(4) == 0) // Sunday = 0 (DuckDB convention)
    assert(dec.getBoolean(5)) // weekend
    assert(dec.getInt(6) == 0) // December -> Winter
    val jan = byId(ts("2024-01-01 00:00:00"))
    assert(jan.getInt(4) == 1 && !jan.getBoolean(5)) // Monday, not weekend
    assert(jan.getInt(6) == 0) // January -> Winter
  }

  test("silver fact: renames and exchange sums") {
    val fact = Silver.fact(fixture, Watermark.Epoch)
    assert(fact.columns.toSeq == PowerSchemas.fact.fieldNames.toSeq)
    val r = fact.filter(org.apache.spark.sql.functions.col("time_id") ===
      ts("2023-12-31 23:55:00")).head
    assert(r.getDouble(2) == 500.0) // production_large_plants <- ge100
    assert(r.getDouble(8) == 10.0 + 5.0) // exchange_germany = dk1_de + dk2_de
    assert(r.getDouble(12) == 4.0 + 6.0) // exchange_sweden = dk1_se + dk2_se
  }

  /** Independent plain-Scala evaluation of the gold window semantics. */
  private def expectedGold(): Seq[(Timestamp, Double, Double, Option[Double], Double)] = {
    val series = minutes.zipWithIndex.map { case (t, i) =>
      val co2 = 100.0 + 3 * i
      val large = if (i == 6) 0.0 else 500.0 + 10 * i
      val small = if (i == 6) 0.0 else 200.0 + 5 * i
      val solar = if (i == 7) 0.0 else 50.0 + i
      val total = large + small
      val offshore = 120.0 + i; val onshore = 80.0 + i
      val wind = offshore + onshore
      val renew = if (total > 0) (solar + offshore + onshore) / total else 0.0
      val windSolar = if (solar > 0) wind / solar else 1.0
      (ts(t), co2, total, renew, windSolar)
    }
    series.indices.map { i =>
      val frame = series.slice(math.max(0, i - 4), i + 1)
      val co2s = frame.map(_._2)
      val avgCo2 = co2s.sum / co2s.size
      val avgRenew = frame.map(_._4).sum / frame.size
      val vol =
        if (frame.size < 2) None
        else {
          val tots = frame.map(_._3)
          val m = tots.sum / tots.size
          Some(math.sqrt(tots.map(x => (x - m) * (x - m)).sum / (tots.size - 1)))
        }
      (series(i)._1, avgCo2, avgRenew, vol, series(i)._5)
    }
  }

  test("gold features: moving avg, sample stddev, ratio guards vs independent eval") {
    // bronze's PK dedup runs first, as in the pipeline (the reference
    // dedups via the advisory PK + ON CONFLICT, never in the SELECT)
    val bronze = Bronze.newRows(fixture, Watermark.Epoch)
    val fact = Silver.fact(bronze, Watermark.Epoch)
    val dim = Silver.dimTime(bronze, Watermark.Epoch)
    val gold = Gold.features(fact, dim, Watermark.Epoch)
      .orderBy("time_id").collect()
    val exp = expectedGold()
    assert(gold.length == exp.length)
    gold.zip(exp).foreach { case (row, (t, avgCo2, avgRenew, vol, windSolar)) =>
      assert(row.getTimestamp(0) == t)
      assert(math.abs(row.getDouble(row.fieldIndex("avg_co2_emission")) - avgCo2) < 1e-9)
      assert(math.abs(row.getDouble(row.fieldIndex("avg_renewable_ratio")) - avgRenew) < 1e-9)
      val gotVol = Option(row.get(row.fieldIndex("production_volatility")))
        .map(_.asInstanceOf[Double])
      (gotVol, vol) match {
        case (Some(g), Some(e)) => assert(math.abs(g - e) < 1e-9)
        case (None, None) => // 1-row frame: both NULL (sample stddev)
        case other => fail(s"volatility mismatch at $t: $other")
      }
      assert(math.abs(row.getDouble(row.fieldIndex("wind_solar_ratio")) - windSolar) < 1e-9)
    }
    // zero-production row: renewable_ratio guard -> avg includes 0 contribution
    // zero-solar row: wind_solar_ratio = 1 exactly
    val zeroSolar = gold.find(_.getTimestamp(0) == ts("2024-01-01 00:02:00")).get
    assert(zeroSolar.getDouble(zeroSolar.fieldIndex("wind_solar_ratio")) == 1.0)
  }

  test("gold partitioned (100TB form) == reference-faithful global form") {
    val bronze = Bronze.newRows(fixture, Watermark.Epoch)
    val fact = Silver.fact(bronze, Watermark.Epoch)
    val dim = Silver.dimTime(bronze, Watermark.Epoch)
    val global = Gold.features(fact, dim, Watermark.Epoch)
      .orderBy("time_id").collect()
    val parted = Gold.featuresPartitioned(fact, dim, Watermark.Epoch)
      .orderBy("time_id").collect()
    assert(global.length == parted.length)
    global.zip(parted).foreach { case (g, p) => assert(g == p) }
  }

  test("gold partitioned == global across a MISSING day (gap-safe warm-up routing)") {
    // Dec 31 rows + Jan 2 rows, nothing on Jan 1: warm-up tails must
    // reach the next POPULATED bucket, not calendar-day+1.
    val gapMinutes = (55 to 59).map(m => f"2023-12-31 23:$m%02d:00") ++
      (0 to 6).map(m => f"2024-01-02 00:0$m%01d:00")
    val rows = gapMinutes.zipWithIndex.map { case (t, i) => rawRow(i, t) }
    val gapped = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), PowerSchemas.raw)
    val fact = Silver.fact(gapped, Watermark.Epoch)
    val dim = Silver.dimTime(gapped, Watermark.Epoch)
    val global = Gold.features(fact, dim, Watermark.Epoch).orderBy("time_id").collect()
    val parted = Gold.featuresPartitioned(fact, dim, Watermark.Epoch)
      .orderBy("time_id").collect()
    assert(global.length == 12 && parted.length == 12)
    global.zip(parted).foreach { case (g, p) => assert(g == p) }
  }

  test("bronze cursor string is UTC regardless of JVM default timezone") {
    // fixture built from an Instant, NOT Timestamp.valueOf, so the test
    // is independent of the default TZ on the parse side too
    val instant = java.sql.Timestamp.from(java.time.Instant.parse("2024-06-15T21:30:00Z"))
    val sink = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row.fromSeq(instant +: Seq.fill(15)(1.0)))),
      PowerSchemas.raw)
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      assert(Bronze.nextCursorString(sink) == "2024-06-15T21:30")
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("gold partitioned == global with SPARSE buckets (fewer than 4 rows in a day)") {
    // Dec 30: 5 rows, Dec 31: 2 rows, Jan 2: 5 rows (Jan 1 missing) —
    // Jan 2's warm-up must span BOTH Dec 31 and Dec 30.
    val minutesSparse =
      (0 to 4).map(m => f"2023-12-30 10:0$m%d:00") ++
        Seq("2023-12-31 09:00:00", "2023-12-31 09:01:00") ++
        (0 to 4).map(m => f"2024-01-02 08:0$m%d:00")
    val rows = minutesSparse.zipWithIndex.map { case (t, i) => rawRow(i, t) }
    val sparse = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), PowerSchemas.raw)
    val fact = Silver.fact(sparse, Watermark.Epoch)
    val dim = Silver.dimTime(sparse, Watermark.Epoch)
    val global = Gold.features(fact, dim, Watermark.Epoch).orderBy("time_id").collect()
    val parted = Gold.featuresPartitioned(fact, dim, Watermark.Epoch)
      .orderBy("time_id").collect()
    assert(global.length == 12 && parted.length == 12)
    global.zip(parted).foreach { case (g, p) => assert(g == p) }
  }

  test("pipeline end-to-end: incremental == full, rerun is a no-op") {
    val dirFull = tempDir("graft_full")
    val dirInc = tempDir("graft_inc")
    val (b1, b2) = {
      val cut = ts("2024-01-01 00:00:30")
      (fixture.filter(org.apache.spark.sql.functions.col("minutes1_utc") <= cut),
        fixture.filter(org.apache.spark.sql.functions.col("minutes1_utc") > cut
          || org.apache.spark.sql.functions.col("minutes1_utc").isNull))
    }
    PowerPipeline.runIncrement(spark, fixture, PowerPipeline.Paths(dirFull))
    PowerPipeline.runIncrement(spark, b1, PowerPipeline.Paths(dirInc))
    PowerPipeline.runIncrement(spark, b2, PowerPipeline.Paths(dirInc))
    // rerun with already-seen data: must change nothing
    def batchDirs(): Map[String, Int] = Seq("bronze/power_system_raw", "silver/dim_time",
      "silver/fact_power_system", "gold/power_system_5min_avg").map { t =>
      t -> new java.io.File(s"$dirInc/$t").list().count(_.startsWith("batch="))
    }.toMap
    val dirsBefore = batchDirs()
    val (_, rerunJobs) = JobCount(spark)(
      PowerPipeline.runIncrement(spark, b2, PowerPipeline.Paths(dirInc)))
    // silver and gold hold nothing past their watermarks' upstream: both
    // layers are skipped, so they gain no generation and run no job;
    // bronze stages zero rows and commits nothing either
    assert(batchDirs() == dirsBefore, s"rerun committed generations: ${batchDirs()}")
    // the bronze layer's jobs: its append's dedup shuffle stage and its
    // staging write (the cursor, the anti-join and the watermarks are
    // answered by the sinks' commit metadata)
    val bronzeLayerJobs = 2
    assert(rerunJobs <= bronzeLayerJobs,
      s"rerun ran $rerunJobs jobs, more than the bronze layer's $bronzeLayerJobs")

    def goldOf(dir: String) = graft.engine.IdempotentSink
      .read(spark, s"$dir/gold/power_system_5min_avg")
      .orderBy("time_id").collect().toSeq
    val full = goldOf(dirFull)
    val inc = goldOf(dirInc)
    assert(full.size == 12)
    assert(full == inc)

    PowerPipeline.exportCsv(spark, PowerPipeline.Paths(dirFull))
    val csv = spark.read.option("header", "true")
      .csv(s"$dirFull/export/ml_features")
    assert(csv.count() == 12)
    assert(csv.columns.length == 14)
    assert(csv.columns.head == "time_id")
  }
}
