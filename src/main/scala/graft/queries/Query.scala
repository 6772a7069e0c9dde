package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark builder over the tables
  * under an sf dir, its DuckDB oracle SQL, and the session-shared
  * stores it reads (`needs`, what Bench and Verify prewarm).
  *
  * Each query file lists its queries once, as `all: Seq[Query]`, and
  * every name-keyed map of the driver contract (`queries`, `oracleSql`)
  * is derived from those lists. A file places `all` after every builder
  * it names: a `val` builder declared below the list is still null when
  * the list is built.
  */
final case class Query(name: String, build: Query.Q, oracle: String,
    needs: Set[SharedStore] = Set.empty)

object Query {
  type Q = (SparkSession, String) => DataFrame

  def builds(qs: Seq[Query]): Map[String, Q] = qs.map(q => q.name -> q.build).toMap

  def oracles(qs: Seq[Query]): Map[String, String] = qs.map(q => q.name -> q.oracle).toMap
}
