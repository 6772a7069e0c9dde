package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Native

/** Bloom runtime-filter join — the generic form of the prefilter
  * `Decontamination.contaminatedBloom` uses: build a Bloom filter over
  * the SMALL side's join keys (a distributed, mergeable aggregate →
  * ~100 MB even at 10^8 keys), embed it as a literal in a map-side
  * `might_contain` probe on the LARGE side, and only then run the
  * exact join. Rows that cannot match never leave their map task —
  * at 100 TB the join's shuffle carries ~selectivity + fpp of the big
  * table instead of all of it. False positives only cost wasted
  * shuffle (the exact join drops them); false negatives are
  * impossible — the RESULT is bit-identical to the plain join, which
  * is what lets the same SQL oracle check the optimized plan.
  *
  * This is the hand-rolled twin of Spark's own runtime row-level
  * filtering (`spark.sql.optimizer.runtime.bloomFilter.enabled`),
  * made explicit so it applies where the optimizer's heuristics
  * don't reach (non-broadcast-able small sides, pre-aggregated keys,
  * cross-source pipelines).
  */
object BloomJoin {

  /** A map-side membership probe for `keyExpr ∈ small.smallKey`,
    * built distributed via Catalyst's `bloom_filter_agg` (codegen
    * `might_contain`, no UDF in the hot path; a Scala-UDF fallback
    * guards the internal registration ever moving). Both ends hash
    * with xxhash64, so any key type works.
    */
  def probeColumn(small: DataFrame, smallKey: String, keyExpr: Column,
      fpp: Double = 0.01): Column =
    probeFor(
      small.select(col(smallKey).as("_bj_key")).distinct().localCheckpoint(),
      keyExpr, fpp)

  /** `large ⋉ small` (left-semi) with the Bloom prefilter ahead of
    * the shuffle. Result == the plain semi join.
    */
  def semiJoin(large: DataFrame, small: DataFrame, largeKey: String,
      smallKey: String, fpp: Double = 0.01): DataFrame = {
    val keys = small.select(col(smallKey).as("_bj_key")).distinct()
      .localCheckpoint()
    large.filter(probeFor(keys, col(largeKey), fpp))
      .join(keys, col(largeKey) === col("_bj_key"), "leftsemi")
  }

  /** Probe against a checkpointed single-column `_bj_key` frame. */
  private def probeFor(keys: DataFrame, keyExpr: Column, fpp: Double): Column = {
    val expected = math.max(1L, keys.count())
    try builtinProbe(keys, expected, fpp, keyExpr)
    catch { case _: Throwable => udfProbe(keys, expected, fpp, keyExpr) }
  }

  /** Codegen Bloom probe: `BloomFilterAggregate` over xxhash64(key)
    * (distributed, mergeable), the serialized filter embedded as a
    * binary literal, probed with `BloomFilterMightContain` over the
    * SAME hash (the aggregate stores longs) — both as the
    * `graft_bloom_*` rows of [[graft.functions.Native]].
    */
  private def builtinProbe(keys: DataFrame, expected: Long, fpp: Double,
      keyExpr: Column): Column = {
    val spark = keys.sparkSession
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expected, fpp)
    val filterBytes = keys
      .agg(Native.call(spark, "graft_bloom_agg", xxhash64(col("_bj_key")),
        lit(expected), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    Native.call(spark, "graft_bloom_might_contain", lit(filterBytes),
      xxhash64(keyExpr))
  }

  /** Fallback probe: `stat.bloomFilter` over the hashed keys + a
    * broadcast Scala UDF on the same hash.
    */
  private def udfProbe(keys: DataFrame, expected: Long, fpp: Double,
      keyExpr: Column): Column = {
    val spark = keys.sparkSession
    val bloom = keys.select(xxhash64(col("_bj_key")).as("_h"))
      .stat.bloomFilter("_h", expected, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    mightContain(xxhash64(keyExpr))
  }
}
