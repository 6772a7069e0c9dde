package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtensionQueries, ParityQueries, Query, SharedStore}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator family from
  * SURVEY.md §2 (+ the LLM-pipeline extensions); `oracleSql` holds the
  * equivalent DuckDB SQL for every query whose semantics are
  * SQL-expressible — the driver hash-compares the two at sf0.01. Both
  * are derived once from [[all]], where each query is written once.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full gold composite: dim join + guarded ratios + 5-row trailing
    * window aggregates + watermark trim in one plan (SURVEY §3.3).
    */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("q16_gold_composite")(spark, "/root/testdata/sf0.001")

  /** Every registered query, in its query file's order. */
  val all: Seq[Query] = ParityQueries.all ++ ExtensionQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(all)

  /** The registered query names, sorted; `SPARK_GRAFT_ONLY=q1,q2`
    * restricts them for local iteration and targeted checks (driver
    * runs set no filter).
    */
  def selected: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  val oracleSql: Map[String, String] = Query.oracles(all)

  /** The session-shared stores the named queries read. */
  def needs(names: Seq[String]): Set[SharedStore] = {
    val named = names.toSet
    all.filter(q => named(q.name)).flatMap(_.needs).toSet
  }
}
