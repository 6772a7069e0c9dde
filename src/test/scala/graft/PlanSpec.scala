package graft

import org.apache.spark.sql.functions._
import graft.engine.{Tables, Watermark}
import graft.medallion.{Gold, Silver}
import graft.queries.ParityQueries

/** Physical-plan assertions — the scale contract, not just results:
  * filters/projections reach the parquet scan, small dims broadcast,
  * and the 18 same-frame gold aggregates collapse into ONE Window node
  * (one sort), as SURVEY §4 requires.
  */
class PlanSpec extends SparkSpecBase {
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Flatten a physical plan, descending through AQE wrappers the way
    * TreeNode.collect can't (AdaptiveSparkPlanExec holds its input plan
    * as a field, not a child).
    */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }

  test("scan+filter pushes predicate and prunes columns into parquet scan") {
    val plan = planOf(ParityQueries.queries("q01_scan_filter")(spark, sf("sf0.001")))
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), s"no shipdate pushdown:\n$plan")
    assert(plan.contains("GreaterThan(l_quantity"), s"no quantity pushdown:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice"), "column pruning failed")
  }

  test("star join broadcasts the small dimension tables") {
    val plan = planOf(ParityQueries.queries("q05_star_join")(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact table should not shuffle:\n$plan")
  }

  test("gold's 18 same-frame window aggregates collapse to one Window node") {
    // non-empty input: Catalyst folds empty relations away entirely
    val rows = (0 until 3).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00") +:
          Seq.fill(15)(1.0 * i))
    }
    val bronze = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), graft.medallion.PowerSchemas.raw)
    val gold = Gold.features(
      Silver.fact(bronze, Watermark.Epoch),
      Silver.dimTime(bronze, Watermark.Epoch), Watermark.Epoch)
    // AdaptiveSparkPlanExec keeps its input plan as a field, not a
    // child, so TreeNode.collect can't see it — count nodes textually.
    val plan = planOf(gold)
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
  }

  test("scaled moving-average window is partitioned by bucket (no global sort of events)") {
    val plan = planOf(ParityQueries.queries("q45_moving_avg_scaled")(spark, sf("sf0.001")))
    // the avg/stddev window over the EVENT data must be keyed by the
    // day bucket (WindowRepair's bucket-table bookkeeping windows are
    // one-row-per-day and may legitimately be single-partition)
    assert("Window \\[avg\\(value.*bucket".r.findFirstIn(plan).isDefined,
      s"event window not partitioned by bucket:\n$plan")
    assert(plan.contains("hashpartitioning(bucket"),
      s"event data not hash-partitioned on bucket:\n$plan")
  }

  test("anti-join keys are column-pruned from the existing side") {
    val plan = planOf(ParityQueries.queries("q06_anti_join")(spark, sf("sf0.001")))
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
  }

  test("events filter pushes down through the nanos-conversion projection") {
    // The ts DIV 1000 conversion must not block pushdown of other cols.
    val plan = planOf(Tables.events(spark, sf("sf0.001"))
      .filter(col("user_id") === 7).select("event_id", "user_id"))
    assert(plan.contains("EqualTo(user_id,7)"), s"user_id pushdown lost:\n$plan")
  }

  test("decontamination joins the benchmark shingles via broadcast (train side never shuffles)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Decontamination.contaminated(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"train shingles shuffled:\n$plan")
  }

  test("bloom decontamination probes via codegen might_contain — no UDF node in the hot path") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Decontamination.contaminatedBloom(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text"))
    assert(plan.contains("might_contain"),
      s"builtin bloom probe missing (fell back to the UDF?):\n$plan")
    assert(!plan.contains("UDF"), s"UDF node in the hot path:\n$plan")
  }

  test("hash-split is a pure map-side projection (no exchange)") {
    val plan = planOf(graft.operators.Sampling.split(
      Tables.documents(spark, sf("sf0.001")), "doc_id"))
    assert(!plan.contains("Exchange"), s"split should not shuffle:\n$plan")
  }

  test("bucketed range join plans as a hash equi-join, not a nested loop") {
    import org.apache.spark.sql.functions.expr
    val ev = Tables.events(spark, sf("sf0.001"))
    val sessions = graft.operators.Sessions
      .sessionize(ev.filter(col("event_type") =!= "purchase"), gapMinutes = 240)
      .select(col("user_id"), col("session_start"), col("session_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val plan = planOf(graft.operators.RangeJoin.pointInInterval(
      purchases, sessions, Seq("user_id"), "ts", "session_start", "session_end"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join:\n$plan")
    // and the bucketed form == the naive range-condition join
    val naive = purchases.join(sessions, Seq("user_id"))
      .filter(expr("ts >= session_start AND ts <= session_end"))
      .select("event_id", "user_id", "ts", "session_start")
      .collect().map(_.toSeq).toSet
    val bucketed = graft.operators.RangeJoin.pointInInterval(
      purchases, sessions, Seq("user_id"), "ts", "session_start", "session_end")
      .select("event_id", "user_id", "ts", "session_start")
      .collect().map(_.toSeq).toSet
    assert(naive.nonEmpty && bucketed == naive, "bucketed result != naive range join")
  }

  test("shard packing never single-partitions the data (only the offsets table)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val packed = graft.operators.Packing.packByTokenBudget(
      docs, "doc_id", "text", budgetTokens = 5000L, numParts = 7)
    val plan = packed.queryExecution.executedPlan.toString
    // the doc-level running sum must be a Window PARTITIONED by _pid —
    // an unpartitioned window (empty partition spec) would sort the
    // whole corpus in one task. The per-partition-totals window is the
    // only allowed unpartitioned one and it aggregates _ptok, never
    // n_tokens.
    val docWindows = plan.linesIterator.filter(l =>
      l.contains("Window [sum(n_tokens")).toSeq
    assert(docWindows.nonEmpty, s"doc-level window missing:\n${plan.take(2000)}")
    assert(docWindows.forall(_.contains("[_pid#")),
      s"doc-level window not partitioned by _pid:\n${docWindows.mkString("\n")}")
  }

  test("unigram log-prob broadcasts the vocabulary (token stream never shuffles for the join)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"token stream shuffled for the join:\n$plan")
  }

  test("ngram DF cap drops hot shingles via broadcast ANTI join (no skewed shuffle)") {
    // the index step pre-checkpoint — ngramJaccardPairs localCheckpoints
    // it, which would hide the join from the final plan
    val plan = planOf(graft.operators.Dedup.shingleIndex(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text", k = 3, maxDf = 50))
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"hot-shingle removal is not a broadcast anti join:\n$plan")
  }

  test("chunking is map-side up to its output sort (one exchange, the range sort)") {
    val plan = planOf(graft.operators.Chunking.chunkByTokens(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text"))
    // scan → project → generate → project → final orderBy: the ONLY
    // exchange allowed is the rangepartitioning for the output sort
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"chunking shuffled before its output sort:\n${exchanges.mkString("\n")}")
    assert(plan.contains("Generate"), s"expected generator:\n$plan")
  }

  test("scrub is a pure projection (no exchange except the output sort)") {
    val plan = planOf(graft.operators.TextAnalysis.scrub(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text",
      Seq(("numbers", "[0-9]{4,}", "<NUM>"))))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"scrub shuffled:\n${exchanges.mkString("\n")}")
  }

  test("count-min readout joins the sketch via broadcast (token stream never shuffles for it)") {
    val tok = Tables.documents(spark, sf("sf0.001"))
      .select(explode(split(col("text"), " ")).as("token"))
    val plan = planOf(graft.operators.Sketches.countMinTopK(tok, "token"))
    assert(plan.contains("BroadcastHashJoin"), s"sketch join not broadcast:\n$plan")
    // top-k must be TakeOrdered (scale-safe), not a global-window sort
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$plan")
  }

  test("z-value is computed without any exchange before the range layout") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val plan = planOf(li.withColumn("z",
      graft.operators.ZOrder.interleave(col("l_partkey"), col("l_suppkey"))))
    assert(!plan.contains("Exchange"), s"z projection should not shuffle:\n$plan")
  }

  test("pruning stats is one hash aggregate (map-side partials, no join)") {
    val plan = planOf(graft.operators.ZOrder.pruningStats(
      Tables.lineitem(spark, sf("sf0.001")), "l_partkey", "l_suppkey",
      100, 300, 10, 20))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected 1 exchange:\n${exchanges.mkString("\n")}")
    assert(exchanges.head.contains("hashpartitioning(file"),
      s"exchange not on the file key:\n${exchanges.head}")
    assert(!plan.contains("Join"), s"stats report should not join:\n$plan")
  }

  test("temperature sample joins its rate table via broadcast (corpus never shuffles)") {
    val plan = planOf(graft.operators.Sampling.temperatureSample(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "lang"))
    assert(plan.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the rates:\n$plan")
    // the only hash exchanges are the per-group count aggregate (tiny)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(doc_id")),
      s"corpus rows shuffled:\n$plan")
  }

  test("token masking is a pure projection (no exchange except the output sort)") {
    val plan = planOf(graft.operators.TextAnalysis.maskTokens(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text"))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"masking shuffled:\n${exchanges.mkString("\n")}")
  }

  test("PQ ADC path: codebook and probe tables join via broadcast, no cartesian scoring") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Similarity.pqTopKSeeded(
      emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64))
    assert(!plan.contains("CartesianProduct"),
      s"PQ scored a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"ADC join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"encoded corpus shuffled for the ADC join:\n$plan")
  }

  test("kNN label noise broadcasts only checkpointed probe-bounded artifacts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Similarity.knnLabelNoise(
      emb, emb.filter(col("vec_id") < 10), k = 5)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val broadcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, "expected broadcast exchanges in the kNN plan")
    broadcasts.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-scale file scan under a broadcast (q102 regression class):\n$b")
    }
  }

  test("semantic decontamination broadcasts only checkpointed probe-bounded artifacts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Decontamination.semanticContaminated(
      emb.filter(col("vec_id") % 50 =!= 0),
      emb.filter(col("vec_id") % 50 === 0), tau = 0.4)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val broadcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty,
      "expected broadcast exchanges in the decontamination plan")
    // allowed broadcasts: the codebook centroids (local relation) and
    // the checkpointed routed-bench probes — never a plan re-scanning
    // the training corpus (q102 regression class)
    broadcasts.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-scale file scan under a broadcast:\n$b")
    }
  }

  test("IVF+PQ broadcasts only probe-bounded artifacts; corpus meets its codes via shuffle equi-join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Similarity.ivfPqTopKSeeded(
      emb, emb.filter(col("vec_id") < 10), k = 3, dim = 64)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val broadcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, "expected broadcast exchanges in the IVF+PQ plan")
    // every broadcast input must be a bounded pre-materialized artifact
    // (probe routing, probe ADC tables, codebooks) — a file scan under
    // a BroadcastExchange means corpus-scale data is being broadcast,
    // the O(corpus) candidate-set regression this plan shape forbids
    broadcasts.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-scale file scan under a broadcast:\n$b")
    }
    // and the O(N)-vs-O(N) meet (codes ⋈ list assignment) stays a
    // shuffle equi-join — never a broadcast at either side
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      s"codes/list-assignment join is not a shuffle hash join:\n${df.queryExecution.executedPlan}")
  }

  test("token-budget cap is one exchange on the group key (partitioned running sum, no global sort)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"))
    val plan = planOf(graft.operators.Sampling.capGroupsByTokens(
      docs, "doc_id", "lang", "n_tokens", 500L))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected 1 exchange:\n${exchanges.mkString("\n")}")
    assert(exchanges.head.contains("hashpartitioning(lang"),
      s"exchange not on the group key:\n${exchanges.head}")
    assert(!plan.contains("rangepartitioning"),
      s"token cap must not global-sort:\n$plan")
  }

  test("epoch shuffle is one exchange on the shard key (no global sort)") {
    val plan = planOf(graft.operators.Sampling.epochShuffle(
      Tables.documents(spark, sf("sf0.001")), "doc_id", epoch = 1, numShards = 8))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected 1 exchange:\n${exchanges.mkString("\n")}")
    assert(exchanges.head.contains("hashpartitioning(shard"),
      s"exchange not on shard:\n${exchanges.head}")
    assert(!plan.contains("rangepartitioning"),
      s"epoch shuffle must not global-sort:\n$plan")
  }

  test("segment dedup drops hot segments via broadcast anti-join (no skewed shuffle)") {
    val plan = planOf(graft.operators.Dedup.segmentDedup(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text"))
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined,
      s"hot-segment filter not a broadcast anti-join:\n$plan")
  }

  test("rolling active users trims the fan-out via broadcast semi-join, no range join") {
    val plan = planOf(graft.operators.Retention.rollingActiveUsers(
      Tables.events(spark, sf("sf0.001")), "user_id", "ts"))
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(plan).isDefined,
      s"day trim not a broadcast semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"rolling window fell back to a range join:\n$plan")
  }

  test("incremental canonicalization broadcasts only the bounded relabel map (label table never shuffles corpus-scale)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L))
      .toDF("doc_id", "cluster_id")
    val pairs = Seq((2L, 11L), (11L, 10L)).toDF("a", "b")
    val df = graft.operators.Dedup.assignToExistingClusters(labels, pairs, "a", "b")
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val broadcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, "expected the relabel map to broadcast")
    // the relabel map is a checkpointed bounded artifact — a file scan
    // under a broadcast would mean corpus-scale data in the broadcast
    // (same regression class the IVF+PQ assertion guards)
    broadcasts.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"file scan under the relabel broadcast:\n$b")
    }
  }

  test("global weighted sample plans a distributed top-k, not a single-partition window") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("n_chars"))
    val plan = planOf(graft.operators.Sampling.weightedSample(
      docs, "doc_id", "n_chars", k = 5))
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k not a per-partition heap merge:\n$plan")
  }

  test("MMR broadcasts only checkpointed probe-bounded artifacts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Similarity.mmrTopK(
      emb, emb.filter(col("vec_id") < 5), k = 3, m = 8)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    // every greedy input is a checkpointed probe-bounded artifact, so
    // the final assembly must not touch corpus files at all — which
    // also makes a corpus scan under a broadcast (q102 class) impossible
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      "the greedy MMR phase re-scanned corpus files")
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-scale file scan under a broadcast (q102 regression class):\n$b")
    }
  }

  test("DSIR sample: distributed top-n, model table broadcast without a corpus rescan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val docs = Tables.documents(spark, sf("sf0.001"))
      .withColumn("tgt", when(col("source").isin("src0", "src1"), 1).otherwise(0))
    val df = graft.operators.Sampling.importanceResample(
      docs, "doc_id", "text", "tgt", n = 20)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"Gumbel top-n not a per-partition heap merge:\n$plan")
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus scan re-run under the model broadcast:\n$b")
    }
  }

  test("logistic training: weight/metric broadcasts never re-scan the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val docs = Tables.documents(spark, sf("sf0.001"))
      .withColumn("y", when(col("lang") === "en", 1).otherwise(0))
    val df = graft.operators.Classifier.trainLogistic(
      docs, "doc_id", "text", "y", buckets = 32, iters = 2)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus scan under a broadcast in the training plan:\n$b")
    }
  }

  test("kNN pagerank final plan runs entirely off checkpoints (no corpus rescan)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val df = graft.operators.Similarity.knnPagerank(emb, k = 3,
      nlists = graft.operators.Similarity.autoNlists(emb), iterations = 2)
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    // edges, nodes, and every round's ranks are localCheckpointed —
    // the final assembly joins ids+longs only and must never return
    // to corpus files (which also rules out the q102 broadcast class)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      "pagerank's final assembly re-scanned corpus files")
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-scale file scan under a broadcast:\n$b")
    }
  }

  test("PSI pushes the slice filter to the events scan; skew report broadcasts only folded aggregates") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val plan = planOf(graft.operators.StatTests.psi(
      Tables.events(spark, sf("sf0.001")), "value", "event_type",
      "click", "view", lo = 0.0, hi = 500.0))
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      s"slice filter not pushed to the scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"psi planned a cartesian:\n$plan")
    val skew = graft.operators.Profile.keySkewReport(
      Tables.lineitem(spark, sf("sf0.001")), "l_orderkey")
    val nodes = flattenPlan(skew.queryExecution.executedPlan)
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"key-cardinality data under a broadcast in the skew report:\n$b")
    }
  }

  test("pipeline funnel dedups on digests and broadcasts only the 1-row total") {
    val df = graft.queries.ExtensionQueries.queries("q132_pipeline_funnel")(
      spark, sf("sf0.001"))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"funnel planned a cartesian:\n$plan")
    // the exact-dedup aggregate keys on the md5 digest, never the raw
    // document body — the body must not appear as a grouping key
    assert("HashAggregate.*keys=\\[text#".r.findFirstIn(plan).isEmpty,
      s"dedup grouped by raw text (body-sized shuffle):\n$plan")
    assert(plan.contains("text_key"), s"digest key missing from the plan:\n$plan")
  }

  test("pmi collocations: vocabulary joins broadcast, wedge/pair joins never go cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val pmi = graft.operators.TextAnalysis.pmiCollocations(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text",
      topV = 20, minPairDf = 2L)
    val plan = planOf(pmi)
    assert(!plan.contains("CartesianProduct"), s"pmi planned a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"top-V vocabulary not broadcast:\n$plan")
    // triangles: the wedge self-join and the closing join are
    // equi-joins off the checkpointed edge list — no cartesian, no
    // file scan under any broadcast
    val tri = graft.operators.Similarity.knnTriangles(
      Tables.embeddings(spark, sf("sf0.001")), k = 3, nlists = 4)
    val tplan = tri.queryExecution.executedPlan
    assert(!tplan.toString.contains("CartesianProduct"),
      s"triangles planned a cartesian:\n$tplan")
    flattenPlan(tplan).collect {
      case b: BroadcastExchangeExec => b
    }.foreach { b =>
      assert(!flattenPlan(b.child).exists(_.isInstanceOf[FileSourceScanExec]),
        s"corpus-sized broadcast in the triangle plan:\n$b")
    }
  }

  test("curriculum/rendezvous stay shuffle-lean: per-bin window only, rendezvous is map-side") {
    // rendezvous: pure projection — the only exchange is the
    // presentation orderBy's range partitioning
    val rv = graft.operators.Sampling.rendezvousShards(
      Tables.documents(spark, sf("sf0.001")).select("doc_id"), "doc_id", 8)
    val rvPlan = planOf(rv)
    val rvExchanges = "Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(rvPlan).size
    assert(rvExchanges == 0,
      s"rendezvous shuffled beyond the output sort:\n$rvPlan")
    // curriculum: exactly one hash exchange (the per-bin window);
    // the interleave rank itself is arithmetic, not a global sort
    val cur = graft.operators.Sampling.curriculumInterleave(
      Tables.documents(spark, sf("sf0.001"))
        .withColumn("bin", least(expr("n_chars div 256"), lit(9L)) + lit(1L)),
      "doc_id", "bin", nBins = 10)
    val curPlan = planOf(cur)
    val curHash = "Exchange hashpartitioning\\(bin".r.findAllIn(curPlan).size
    assert(curHash >= 1 && !curPlan.contains("CartesianProduct"),
      s"curriculum window not partitioned by bin:\n$curPlan")
    val globalWindows = "Window \\[row_number".r.findAllIn(curPlan).size
    assert(globalWindows == 1, s"unexpected extra windows:\n$curPlan")
  }

  test("Q2-shape correlated subquery decorrelates: no cartesian, dims broadcast, region filter pushed") {
    val plan = planOf(
      ParityQueries.queries("q283_min_cost_supplier")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"),
      s"correlated min subquery planned a cartesian:\n$plan")
    // decorrelation: the subquery's per-(part, region) min shows up as
    // a real aggregate joined back in, not a per-row re-execution
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate from the rewritten scalar subquery:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected the dim joins broadcast, got $bhj:\n$plan")
    // the region-name literal reaches the region scan
    assert(plan.contains("EqualTo(r_name,EUROPE)"),
      s"region filter not pushed to the scan:\n$plan")
  }

  test("Q21-shape multi-EXISTS decorrelates to semi/anti joins, no cartesian") {
    val plan = planOf(
      ParityQueries.queries("q284_lonely_failures")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"),
      s"existential subqueries planned a cartesian:\n$plan")
    assert(plan.contains("LeftSemi"), s"EXISTS not a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$plan")
    // the returnflag/orderstatus literals reach their scans
    assert(plan.contains("EqualTo(l_returnflag,R)") &&
      plan.contains("EqualTo(o_orderstatus,F)"),
      s"predicate pushdown missing:\n$plan")
  }

  test("rank<=k filters plan a WindowGroupLimit (partial per-partition top-k)") {
    // Spark's InferWindowGroupLimit inserts a per-partition group
    // limit BELOW the shuffle for row_number()<=k patterns — the
    // reason the engine's pervasive top-k-per-key shape survives
    // skewed keys at 100 TB: each map task forwards at most k rows
    // per group instead of the whole group.
    // (q13's global ORDER BY+LIMIT already plans TakeOrderedAndProject;
    // the per-KEY shape is the ANN ranking's row_number()<=k filter)
    val emb = graft.engine.Tables.embeddings(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 5), k = 3))
    assert(plan.contains("WindowGroupLimit"),
      s"per-key top-k did not get a group-limit pushdown:\n$plan")
    val global = planOf(
      ParityQueries.queries("q13_topk")(spark, sf("sf0.001")))
    assert(global.contains("TakeOrderedAndProject"),
      s"global top-k not a TakeOrderedAndProject:\n$global")
  }

  test("Q13-shape outer join keeps its non-equi predicate in the join, no cartesian") {
    val plan = planOf(
      ParityQueries.queries("q287_cust_distribution")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftOuter"), s"outer join lost:\n$plan")
    // the priority predicate must live in the JOIN (a WHERE would drop
    // order-less customers); it still reaches the orders scan as a
    // pushed filter because the preserved side is customer
    assert(plan.contains("o_orderpriority"), s"join predicate missing:\n$plan")
  }

  test("Q22-shape: scalar subqueries decorrelate, NOT EXISTS is an anti join") {
    val plan = planOf(
      ParityQueries.queries("q288_dormant_rich")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$plan")
    // the date bound reaches the orders scan under the anti join
    assert(plan.contains("o_orderdate"), s"date predicate missing:\n$plan")
  }

  test("Q18-shape IN-over-grouped-HAVING decorrelates to a semi join on the aggregate") {
    val plan = planOf(
      ParityQueries.queries("q299_big_order_customers")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
    // the IN becomes a left-semi join against the HAVING-filtered
    // aggregate — evaluated ONCE, not per outer row
    assert(plan.contains("LeftSemi"), s"IN subquery not a semi join:\n$plan")
    // the inner aggregate exists as a real (partial+final) aggregate
    // over lineitem, and the HAVING threshold survives as a filter
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate from the grouped subquery:\n$plan")
    assert(plan.contains("200"), s"HAVING threshold lost:\n$plan")
  }

  test("Q20-shape two-level nested IN + correlated aggregate decorrelates, no cartesian") {
    val plan = planOf(
      ParityQueries.queries("q300_promising_suppliers")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
    // outer IN -> semi join; the part-name IN -> another semi join; the
    // two-column-correlated scalar aggregate -> an aggregate joined back
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"nested INs not planned as semi joins:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"correlated aggregate not decorrelated:\n$plan")
    // the part-name filter reaches the part scan
    assert(plan.contains("p_name"), s"part filter missing:\n$plan")
  }

  test("Q4/Q11/Q15/Q16 shapes decorrelate: semi/anti joins, scalar aggregates, no cartesian") {
    // Q4: EXISTS -> one left-semi join; the date range reaches the scan
    val p303 = planOf(
      ParityQueries.queries("q303_order_priority_check")(spark, sf("sf0.001")))
    assert(!p303.contains("CartesianProduct"), p303)
    assert(p303.contains("LeftSemi"), s"EXISTS not a semi join:\n$p303")
    assert(p303.contains("o_orderdate"), s"date range not pushed:\n$p303")
    // Q11: grouped HAVING vs two uncorrelated scalar subqueries over
    // the same aggregate — scalars evaluate once, never per row
    val p304 = planOf(
      ParityQueries.queries("q304_important_parts")(spark, sf("sf0.001")))
    assert(!p304.contains("CartesianProduct"), p304)
    assert(p304.contains("HashAggregate") || p304.contains("SortAggregate"),
      s"no aggregate in the Q11 shape:\n$p304")
    // Q15: aggregate equated to MAX of the same aggregate
    val p305 = planOf(
      ParityQueries.queries("q305_top_supplier")(spark, sf("sf0.001")))
    assert(!p305.contains("CartesianProduct"), p305)
    // Q16: NOT IN -> anti join (null-aware; degenerates to plain anti
    // on the non-null key), COUNT(DISTINCT) above it
    val p306 = planOf(
      ParityQueries.queries("q306_part_supplier_count")(spark, sf("sf0.001")))
    assert(!p306.contains("CartesianProduct"), p306)
    assert(p306.contains("LeftAnti"), s"NOT IN not an anti join:\n$p306")
  }

  test("impact-pruned BM25: the token prune plans a WindowGroupLimit, no cartesian") {
    // the report query's final plan hides the prune behind its
    // localCheckpoints, so pin the standalone prune operator (the
    // exact frame bm25TopKPruned scores) plus the report's own plan
    val docs = Tables.documents(spark, sf("sf0.001"))
      .filter(col("source") =!= "src0").select("doc_id", "text")
    val prune = planOf(graft.operators.TextAnalysis
      .impactPrunedPostings(docs, "doc_id", "text", topM = 8))
    // the rank<=topM prune must push a per-partition group limit below
    // the token shuffle — each map task forwards at most topM postings
    // per token, which is what makes the prune itself scan-shaped
    assert(prune.contains("WindowGroupLimit"),
      s"token prune did not get a group-limit pushdown:\n$prune")
    val report = planOf(graft.queries.ExtensionQueries
      .queries("q307_bm25_pruned")(spark, sf("sf0.001")))
    assert(!report.contains("CartesianProduct"), report)
  }

  test("Q3/Q7/Q10 shapes: dims broadcast, top-k is TakeOrderedAndProject, no cartesian") {
    // Q3: the segment-filtered customer dim broadcasts; LIMIT 10 over
    // the exact revenue plans a TakeOrderedAndProject (partial top-k
    // per partition, never a global sort)
    val p308 = planOf(
      ParityQueries.queries("q308_shipping_priority")(spark, sf("sf0.001")))
    assert(!p308.contains("CartesianProduct"), p308)
    assert(p308.contains("TakeOrderedAndProject"),
      s"Q3 top-k not a TakeOrderedAndProject:\n$p308")
    assert(p308.contains("BroadcastHashJoin"), s"no broadcast dim:\n$p308")
    // Q7: nation joined twice under different roles — two broadcast
    // joins of the same tiny dim, the disjunctive pair predicate
    // evaluated above them, never a cartesian
    val p310 = planOf(
      ParityQueries.queries("q310_nation_volume")(spark, sf("sf0.001")))
    assert(!p310.contains("CartesianProduct"), p310)
    assert("BroadcastHashJoin".r.findAllIn(p310).size >= 2,
      s"nation aliases not broadcast:\n$p310")
    // Q10: returnflag filter reaches the lineitem scan; top-20 by the
    // exact integer is a TakeOrderedAndProject
    val p312 = planOf(
      ParityQueries.queries("q312_returned_items")(spark, sf("sf0.001")))
    assert(!p312.contains("CartesianProduct"), p312)
    assert(p312.contains("TakeOrderedAndProject"),
      s"Q10 top-k not a TakeOrderedAndProject:\n$p312")
    assert(p312.contains("l_returnflag"), s"returnflag not pushed:\n$p312")
  }

  test("Q6-shape scan: all three predicates push to the lineitem scan") {
    val plan = planOf(
      ParityQueries.queries("q309_forecast_revenue")(spark, sf("sf0.001")))
    assert(!plan.contains("Join"), s"Q6 must be join-free:\n$plan")
    val pushed = "PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(plan)
    assert(pushed.isDefined, s"discount band not pushed to the scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(plan).isDefined,
      s"quantity cap not pushed:\n$plan")
  }

  test("Q19-shape OR-of-conjunctions pushes per-side partial filters") {
    val plan = planOf(
      ParityQueries.queries("q293_disjunctive_revenue")(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
    // Catalyst extracts the side-local disjunctions: the part scan
    // sees the brand/size OR, the lineitem scan the quantity-band OR
    assert(plan.contains("p_brand"), s"no part-side pushdown:\n$plan")
    val pushedQty = "PushedFilters: \\[[^\\]]*l_quantity".r
      .findFirstIn(plan).isDefined || plan.contains("Or(And(")
    assert(pushedQty, s"no lineitem-side disjunctive filter:\n$plan")
  }

  test("regional revenue: dimensions ride broadcast joins, only lineitem⋈orders shuffles") {
    val plan = planOf(
      ParityQueries.queries("q262_regional_revenue")(spark, sf("sf0.001")))
    // all 4 dimension joins broadcast; at sf0.001 the planner may
    // broadcast the orders side of the fact join too (hence >= 4)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj:\n$plan")
    val shuffled = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shuffled <= 1,
      s"only lineitem⋈orders may shuffle, got $shuffled:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the date filter reaches the orders scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"orderdate pushdown missing:\n$plan")
  }

  test("AnnIndex.listAssignments prunes the enc scan to the routing columns") {
    // the index-fed SemDeDup/decontamination claim: reading the coarse
    // routing touches two small columns — the PQ code rows (m, code_id)
    // must be pruned out of the parquet read (list_id/batch are
    // partition values, not file columns)
    val dir = tempDir("graft_plan_enc") + "/idx"
    graft.operators.AnnIndex.build(
      Tables.embeddings(spark, sf("sf0.001")), dir, dim = 64)
    val plan = planOf(graft.operators.AnnIndex.listAssignments(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("neighbor_id"), s"missing routing col:\n$plan")
    assert(!readSchema.contains("code_id") && !readSchema.contains("m:"),
      s"PQ code columns not pruned from the enc scan:\n$readSchema")
  }

  test("store-fed pair reads stay scan-shaped: no mining joins in the consumer plan") {
    // q329's whole plan is a committed-batch read + union: no shingle
    // explode, no gram self-join, no vector attach — the mining cost
    // lives in the store build, not the audit
    val plan = planOf(graft.queries.ExtensionQueries
      .queries("q329_pair_store")(spark, sf("sf0.001")))
    assert(!plan.contains("Generate"), // explode = shingling leaked in
      s"pair-store read re-tokenizes:\n$plan")
    val joins = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(joins == 0, s"pair-store read plans $joins shuffled joins:\n$plan")
  }
}
