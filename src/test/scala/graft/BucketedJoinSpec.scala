package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.Bucketing

/** Bucketing evidence for the 100 TB design: two tables bucketed on
  * the join key join WITHOUT a shuffle (no Exchange above either scan)
  * — the co-located join strategy the scale notes promise for
  * repeatedly-joined big tables.
  */
class BucketedJoinSpec extends SparkSpecBase {
  test("join of co-bucketed tables has no shuffle") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val lineitem = Tables.lineitem(spark, sf("sf0.001"))
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("lineitem_b")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), Seq("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum(col("l_quantity")).as("q"))
      joined.collect() // force final (AQE) plan
      val plan = joined.queryExecution.executedPlan.toString
      val joinPart = plan.split("HashAggregate").last
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n$plan")
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("Bucketing.colocatedJoin: exchange-free SMJ, one file per bucket, answer == plain join") {
    val tmp = tempDir("graft_bktspec")
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, sf("sf0.001"))
      .select("c_custkey", "c_mktsegment")
    val (ot, ct) = ("bkt_spec_orders", "bkt_spec_customer")
    try {
      Bucketing.writeBucketed(spark, orders, ot, s"$tmp/o", 8, Seq("o_custkey"))
      Bucketing.writeBucketed(spark, cust, ct, s"$tmp/c", 8, Seq("c_custkey"))

      // layout: the pre-write repartition lands each bucket in ONE file
      val partFiles = new java.io.File(s"$tmp/o").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(partFiles <= 8, s"expected <=8 bucket files, got $partFiles")

      val j = Bucketing.colocatedJoin(spark, ot, ct, "o_custkey", "c_custkey")
      j.collect() // force the final AQE plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"merge hint ignored:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-located join still shuffles:\n$plan")

      // the layout changes the plan, never the answer
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 6).as("rev"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = orders.join(cust, col("o_custkey") === col("c_custkey"))
      assert(agg(j) == agg(plain))
      // bucket pruning: an equality filter on the bucket key reads 1/8
      // of the buckets — file skipping without any sort or stats.
      // autoBucketedScan drops bucket info when no exchange benefits,
      // so pin it off for the pruning read (a real pipeline does the
      // same for point-lookup-heavy tables).
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.get(autoKey)
      val prunedPlan =
        try {
          spark.conf.set(autoKey, "false")
          spark.table(ot).filter(col("o_custkey") === 42L)
            .queryExecution.executedPlan.toString
        } finally spark.conf.set(autoKey, prevAuto)
      assert(prunedPlan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing:\n$prunedPlan")

      // aggregation on the bucket key also needs no exchange: the
      // scan's hash distribution already satisfies the group-by
      val aggOnKey = spark.table(ot).groupBy("o_custkey")
        .agg(sum("o_totalprice").as("rev"))
      aggOnKey.collect()
      val aggPlan = aggOnKey.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"bucketed group-by still shuffles:\n$aggPlan")
    } finally {
      Bucketing.dropTables(spark, ot, ct)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
