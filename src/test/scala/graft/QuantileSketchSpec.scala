package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.Sketches

/** Bottom-k (KMV-style) mergeable quantile sketch: the exact merge
  * identity (with re-delivery), the advertised 3-sigma rank-error
  * bound against EXACT percentiles, and streamed-store ≡ one-shot.
  */
class QuantileSketchSpec extends SparkSpecBase {

  test("merge identity: per-slice sketches fold to the one-shot sketch; re-delivery is a no-op") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val k = 64
    def sk(df: org.apache.spark.sql.DataFrame) =
      Sketches.quantileSample(df, "event_type", "event_id", "value", k)
    val oneShot = sk(ev)
    // slice 1 re-delivers all of slice 0 — the at-least-once overlap
    val merged = Sketches.mergeQuantileSamples(
      Seq(ev.filter(col("event_id") % 3 === 0),
        ev.filter(col("event_id") % 3 <= 1),
        ev.filter(col("event_id") % 3 === 2))
        .map(sk).reduce(_ unionByName _), k)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "merged per-slice sketches differ from the one-shot sketch")
    // the sketch really is bounded
    val sizes = oneShot.groupBy("group").count().collect()
    assert(sizes.forall(_.getLong(1) <= k))
  }

  test("quantile estimates stay inside the rank-error bound vs exact") {
    val ev = Tables.events(spark, sf("sf0.01"))
      .filter(col("value").isNotNull).localCheckpoint()
    val k = 256
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val est = Sketches.sampledGroupQuantiles(ev, "event_type", "event_id",
      "value", k, qs).collect()
    val nByGroup = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.length == nByGroup.size * qs.size)
    // Per-cell: 5σ + the n/k sample-rank quantization margin. The
    // order-statistic rank is Beta-distributed — LEFT-SKEWED beyond
    // the normal approximation at extreme q (k·(1−q) ≈ 2.5 misses at
    // q = 0.99), and this loop asserts |groups|·|qs| cells per
    // testdata regeneration, so a bare 3σ per cell flakes (~observed
    // 3.7σ excursions). The 3σ claim itself is validated in
    // aggregate: mean |rank error| over all cells ≤ 2× the mean σ
    // (E|N(0,σ)| ≈ 0.8σ — 2× leaves honest room, and a broken
    // sampler is off by ×10, not ×2).
    val errsAndSigmas = est.map { r =>
      val (g, q, v) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val n = nByGroup(g)
      val rank = ev.filter(col("event_type") === g &&
        col("value").cast("double") <= v).count()
      val sigma = n * math.sqrt(q * (1 - q) / k)
      val err = math.abs(rank - q * n)
      val bound = 5.0 * sigma + n.toDouble / k + 1
      assert(err <= bound,
        s"group $g q=$q: rank $rank vs target ${q * n} exceeds bound $bound")
      (err, sigma)
    }
    val meanErr = errsAndSigmas.map(_._1).sum / errsAndSigmas.length
    val meanSigma = errsAndSigmas.map(_._2).sum / errsAndSigmas.length
    assert(meanErr <= 2.0 * meanSigma,
      s"mean rank error $meanErr exceeds 2x mean sigma $meanSigma — " +
        "the sample is not behaving like a uniform draw")
  }

  test("streamed quantile store ≡ one-shot readout (compaction included)") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val k = 64
    val store = tempDir("graft_qtile_spec") + "/q"
    val sample = graft.streaming.StreamingPower.quantile(k)
    def append(slice: org.apache.spark.sql.Column, batchId: Long): Unit =
      sample.append(spark, store, batchId)(Sketches.quantileSample(
        ev.filter(slice), "event_type", "event_id", "value", k))
    append(col("event_id") % 3 === 0, 0L)
    // committed retry of batch 0 must be a no-op
    append(col("event_id") % 3 === 0, 0L)
    append(col("event_id") % 3 <= 1, 1L)
    append(col("event_id") % 3 === 2, 2L)
    sample.compact(spark, store)
    val streamed = Sketches.quantilesFromSample(sample.read(spark, store))
    val oneShot = Sketches.sampledGroupQuantiles(ev, "event_type",
      "event_id", "value", k)
    assert(streamed.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(streamed).count() == 0,
      "streamed store readout differs from one-shot")
  }
}
