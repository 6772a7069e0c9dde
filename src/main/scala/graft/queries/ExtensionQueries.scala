package graft.queries

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
  * [[TextQueries]], [[EventStoreQueries]], [[StatsQueries]]), each one
  * `all: Seq[Query]` list; this object concatenates them and derives
  * the name-keyed maps. A name registered twice would silently keep
  * one binding in those maps — QueriesSmokeSpec asserts every name is
  * registered exactly once.
  */
object ExtensionQueries {
  type Q = Query.Q

  /** The per-domain registries, in one place for suite-wide checks. */
  val domains: Map[String, (Map[String, Q], Map[String, String])] = Map(
    "dedup" -> ((DedupQueries.queries, DedupQueries.oracleSql)),
    "ann" -> ((AnnQueries.queries, AnnQueries.oracleSql)),
    "text" -> ((TextQueries.queries, TextQueries.oracleSql)),
    "events" -> ((EventStoreQueries.queries, EventStoreQueries.oracleSql)),
    "stats" -> ((StatsQueries.queries, StatsQueries.oracleSql)))

  val all: Seq[Query] = DedupQueries.all ++ AnnQueries.all ++ TextQueries.all ++
    EventStoreQueries.all ++ StatsQueries.all

  val queries: Map[String, Q] = Query.builds(all)

  val oracleSql: Map[String, String] = Query.oracles(all)
}
