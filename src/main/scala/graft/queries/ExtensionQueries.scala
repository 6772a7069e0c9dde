package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** North-star extension queries (BASELINE.json): the LLM-training-data
  * pipeline operators — dedup, similarity search, text analysis,
  * sessionization, JSON extraction, multimodal plumbing — over the
  * documents/embeddings/events tables. DuckDB oracles wherever the
  * semantics are SQL-expressible — including the hash-based operators,
  * registered with the md5-derived `Md5Family` so both engines compute
  * identical hashes (golden specs additionally cover the xxhash64
  * production default).
  *
  * Registration is split by domain ([[DedupQueries]], [[AnnQueries]],
  * [[TextQueries]], [[EventStoreQueries]], [[StatsQueries]]); this
  * object re-aggregates every domain map, so the driver contract
  * (`SparkEntry.queries`/`oracleSql`) and external callers are
  * unchanged. Domain key sets are disjoint by construction
  * (QueriesSmokeSpec asserts it), so the `++` order is immaterial.
  */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The per-domain registries, in one place for suite-wide checks. */
  val domains: Map[String, (Map[String, Q], Map[String, String])] = Map(
    "dedup" -> ((DedupQueries.queries, DedupQueries.oracleSql)),
    "ann" -> ((AnnQueries.queries, AnnQueries.oracleSql)),
    "text" -> ((TextQueries.queries, TextQueries.oracleSql)),
    "events" -> ((EventStoreQueries.queries, EventStoreQueries.oracleSql)),
    "stats" -> ((StatsQueries.queries, StatsQueries.oracleSql)))

  val queries: Map[String, Q] = domains.values.map(_._1).reduce(_ ++ _)

  val oracleSql: Map[String, String] = domains.values.map(_._2).reduce(_ ++ _)
}
