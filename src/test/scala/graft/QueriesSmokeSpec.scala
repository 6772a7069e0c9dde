package graft

import graft.queries.{ExtensionQueries, SharedStore}

/** Every registered query runs and returns rows at sf0.001, and every
  * oracle key refers to a real query — the structural contract the
  * driver's rows-only check relies on.
  */
class QueriesSmokeSpec extends SparkSpecBase {
  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The queries whose entries declare a shared store in `needs`. */
  private lazy val declared: Set[String] =
    SparkEntry.all.filter(_.needs.nonEmpty).map(_.name).toSet

  /** A second path to the sf0.001 tables with the same base name. The
    * queries that declare no shared store in `needs` read through it,
    * so a store built for it betrays an undeclared consumer.
    */
  private lazy val alias: String = {
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(tempDir("graft_alias"), "sf0.001"),
      java.nio.file.Paths.get(sf("sf0.001"))).toString
  }

  /** Every registered query built ONCE at sf0.001 — its executed plan,
    * then its row count — so the store builds and checkpoints its
    * construction runs are paid once for every check below. Built as
    * Verify builds them: in waves of 4 concurrent queries, checkpoints
    * released at each barrier.
    */
  private lazy val built: Seq[(String, String, Long)] = {
    val before = queryScratchDirs()
    // read on the wave threads, so forced here: this lazy val holds the
    // spec's lock, which their own lazy initializers would wait on
    val (s, consumers, aliasDir) = (spark, declared, alias)
    val out = GraftSession.inWaves(s, 4, SparkEntry.queries.toSeq) { case (name, fn) =>
      val df = fn(s, if (consumers(name)) sf("sf0.001") else aliasDir)
      (name, df.queryExecution.executedPlan.toString, df.count())
    }
    leftScratch = queryScratchDirs() -- before
    out
  }

  /** The `graft_q<digits>_…` dirs (query scratch stores) under the
    * temp dir, and those the build above left behind.
    */
  private def queryScratchDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.matches("graft_q\\d+_.*")).toSet)
  private var leftScratch = Set.empty[String]

  test("every query is non-empty at sf0.001") {
    built.foreach { case (name, _, n) =>
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("no registered query leaves its scratch dir behind") {
    assert(built.nonEmpty)
    assert(leftScratch.isEmpty, s"query scratch dirs left: $leftScratch")
  }

  test("no registered query plans a CartesianProduct") {
    // a cartesian is O(n²) by construction — a scale-killer no suite
    // query may contain. (BroadcastNestedLoopJoin over an explicitly
    // bounded broadcast side — probe sets, centroid tables — is the
    // intentional cross-join form and stays legal.) The exact all-pairs
    // verifiers (thresholdPairs, single-task union-find) live in specs,
    // not the registry, precisely because of this rule.
    built.foreach { case (name, plan, _) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${plan.take(3000)}")
    }
  }

  test("only the declared consumers build the session-shared stores") {
    // Bench and Verify prewarm exactly the stores the selected queries
    // declare in `needs`; an undeclared consumer would pay the build
    // inside its timed window (and stall Verify's wave-mates at the
    // barrier)
    assert(built.nonEmpty)
    SharedStore.all.foreach { st =>
      assert(!st.isBuilt(alias), s"a query not declared in SharedStore " +
        s"built the ${st.label} store: declare it as a consumer")
    }
    val unknown = declared -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"declared consumers that are not registered: $unknown")
  }

  test("portable HLL estimates stay within error bounds on both branches") {
    // columns: exact_parts, exact_orders, hll_parts, hll_orders
    val r = SparkEntry.queries("q47_approx_distinct")(spark, sf("sf0.01")).head
    def relErr(exact: Long, approx: Double) = math.abs(approx - exact) / exact
    // 4096 registers → ~1.04/sqrt(4096) ≈ 1.6% typical error; 10% is a
    // loose determinism-independent sanity bound
    assert(relErr(r.getLong(0), r.getDouble(2)) < 0.1, "parts estimate off")
    assert(relErr(r.getLong(1), r.getDouble(3)) < 0.1, "orders estimate off")
  }

  test("every query name is registered exactly once") {
    // a name listed twice would keep only one of its builders in the
    // derived maps, silently
    val names = SparkEntry.all.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"query names registered more than once: $dups")
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (no silent rows-only fallbacks)") {
    // the full surface is hash-verified today; a new query landing
    // without an oracle would silently weaken the correctness gate
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }

  test("domain registries are disjoint and cover the extension surface") {
    // a name in two domains' lists would keep only one binding in the
    // derived maps
    val doms = ExtensionQueries.domains.toSeq
    for {
      Seq((na, (qa, _)), (nb, (qb, _))) <- doms.combinations(2)
    } {
      val overlap = qa.keySet.intersect(qb.keySet)
      assert(overlap.isEmpty, s"domains $na and $nb both register: $overlap")
    }
    doms.foreach { case (n, (q, o)) =>
      assert(q.keySet == o.keySet, s"domain $n query/oracle key mismatch")
    }
    val union = doms.map(_._2._1.keySet).reduce(_ ++ _)
    assert(union == ExtensionQueries.queries.keySet)
  }
}
