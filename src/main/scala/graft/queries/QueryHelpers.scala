package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Tables}
import graft.functions.Md5Family
import graft.operators._

/** Shared helpers for the domain query registries: the DuckDB-side
  * renderings of the repo's hash families and LSH/z-order CTE builders,
  * plus small runtime utilities. `private[queries]` — the public surface
  * stays [[ExtensionQueries]].
  */
private[queries] object QueryHelpers {


  def deleteRecursively(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A query over scratch stores: `body` gets a fresh temp dir named
    * `prefix…`, its result is `localCheckpoint`ed ONCE (materialized
    * before the stores it reads go), and the dir is deleted — also
    * when `body` throws, so a failing query leaks nothing under the
    * temp dir.
    */
  def withScratch(s: SparkSession, prefix: String)(
      body: String => DataFrame): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(scratch).localCheckpoint()
    finally deleteRecursively(s, scratch)
  }

  /** Run independent store-build chains CONCURRENTLY and wait for all
    * (the guide's overlap-independent-jobs rule): Spark happily runs
    * several jobs at once inside one application, and two chains that
    * write DISJOINT store roots (e.g. a pair store's text vs embedding
    * signal, or two fact tables' key sketches) have no ordering
    * contract between them — only within each chain. Each chain runs
    * on its own thread so the next chain's jobs back-fill cores the
    * current chain's tail leaves idle; failures rethrow after all
    * chains settle. BuildTiming's union accounting keeps build_s a
    * wall-clock share (never the sum of overlapped threads).
    */
  def inParallel(chains: (() => Unit)*): Unit =
    graft.engine.Par.inParallel(chains: _*)


  /** DuckDB rendering of `Md5Family.hash` — must stay in lockstep with
    * graft.functions.Md5Family (top 15 hex chars of md5 as a bigint).
    */
  def md5l(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"


  /** q26's oracle inlines the SAME seeded hyperplanes the Spark plan
    * uses (`Similarity.hyperplanes` is deterministic on (dim, n, seed))
    * as literal DOUBLE[] rows, so the sign-LSH bucket routing is
    * reproduced exactly in DuckDB via list_dot_product (sign(cosine) ==
    * sign(dot): norms are positive).
    */
  /** Shared CTE block rendering the sign-LSH candidate generation
    * (planes → signatures → bucket-collision candidates) — used by the
    * q26 oracle and, composed with a recursive closure, by q74's.
    */
  def lshCandCtes: String = {
    val bits = 6; val tables = 8
    val planes = Similarity.hyperplanes(64, bits * tables, 42L)
    val rows = (0 until tables).flatMap { t =>
      (0 until bits).map { b =>
        s"($t, $b, [${planes(t * bits + b).mkString(",")}]::DOUBLE[])"
      }
    }.mkString(", ")
    s"""planes(tbl, bit, pl) AS (VALUES $rows),
       |emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sig AS (SELECT vec_id, tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(e, pl) >= 0
       |             THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM emb CROSS JOIN planes GROUP BY vec_id, tbl),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sig a JOIN sig b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin
  }


  def annLshOracle: String =
    s"""WITH $lshCandCtes
       |SELECT id_a, id_b, ROUND(list_cosine_similarity(ea.e, eb.e), 6) AS cosine
       |FROM cand JOIN emb ea ON ea.vec_id = id_a JOIN emb eb ON eb.vec_id = id_b
       |WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 6) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin


  /** q74: LSH pairs (same params as q26) → transitive closure →
    * min-id survivor per cluster — the embedding-space rendering of
    * the canonical-corpus pipeline.
    */
  def embeddingDedupOracle: String =
    s"""WITH RECURSIVE $lshCandCtes,
       |jp AS (SELECT id_a, id_b
       |  FROM cand JOIN emb ea ON ea.vec_id = id_a JOIN emb eb ON eb.vec_id = id_b
       |  WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 6) >= 0.4),
       |edges AS (SELECT id_a AS u, id_b AS v FROM jp
       |          UNION SELECT id_b, id_a FROM jp
       |          UNION SELECT id_a, id_a FROM jp UNION SELECT id_b, id_b FROM jp),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
       |clusters AS (SELECT u AS vec_id, min(v) AS cluster_id,
       |               CAST(count(DISTINCT v) AS BIGINT) AS cluster_size
       |             FROM reach GROUP BY u)
       |SELECT em.vec_id, em.label,
       |  coalesce(c.cluster_size, 1::BIGINT) AS cluster_size,
       |  coalesce(c.cluster_size, 1::BIGINT) - 1 AS removed_dups
       |FROM embeddings em LEFT JOIN clusters c ON em.vec_id = c.vec_id
       |WHERE c.cluster_id IS NULL OR c.cluster_id = em.vec_id
       |ORDER BY em.vec_id""".stripMargin


  /** DuckDB equivalents — every registered query has one: q40 routes
    * through the hash-seeded IVF codebook and q47 through the
    * deterministic portable HLL precisely so that the last two
    * formerly rows-only checks became hash-checkable.
    */
  /** DuckDB rendering of `ZOrder.interleave` — bit-for-bit the same
    * shift/mask terms the Spark expression builds.
    */
  def zTermsSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")


  /** DuckDB rendering of `SnapshotDiff.rowDigest` over the documents
    * table: non-key columns in sorted name order (lang, n_chars,
    * source, text), unit-separator joined, NULL → record separator.
    */
  def docDigest(textExpr: String): String =
    s"""md5(concat_ws(chr(31),
       |    coalesce(CAST(lang AS VARCHAR), chr(30)),
       |    coalesce(CAST(n_chars AS VARCHAR), chr(30)),
       |    coalesce(CAST(source AS VARCHAR), chr(30)),
       |    coalesce(CAST($textExpr AS VARCHAR), chr(30))))""".stripMargin

  /** q165's column-profile oracle — shared verbatim by q172 (the
    * merged profile store must be indistinguishable from the one-shot
    * batch profile). DuckDB sums of BIGINT widen to HUGEINT, so every
    * count casts back; min/max/top tie-breaks are binary string
    * comparisons in both engines.
    */
  lazy val columnProfileOracle: String =
    """WITH p AS (
      |  SELECT 'doc_id' AS column_name, CAST(doc_id AS VARCHAR) AS value FROM documents
      |  UNION ALL SELECT 'lang', lang FROM documents
      |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
      |  UNION ALL SELECT 'source', source FROM documents
      |  UNION ALL SELECT 'text', text FROM documents),
      |c AS (SELECT column_name, value, count(*) AS cnt FROM p GROUP BY 1, 2),
      |a AS (SELECT column_name,
      |        CAST(sum(cnt) AS BIGINT) AS n_rows,
      |        CAST(coalesce(sum(cnt) FILTER (WHERE value IS NULL), 0) AS BIGINT) AS n_null,
      |        CAST(count(value) AS BIGINT) AS n_distinct,
      |        min(value) AS min_value, max(value) AS max_value
      |      FROM c GROUP BY 1),
      |t AS (SELECT column_name, value AS top_value, CAST(cnt AS BIGINT) AS top_count
      |      FROM (SELECT column_name, value, cnt,
      |              row_number() OVER (PARTITION BY column_name
      |                ORDER BY cnt DESC, value DESC) AS rn
      |            FROM c WHERE value IS NOT NULL)
      |      WHERE rn = 1)
      |SELECT a.column_name, n_rows, n_null, n_distinct, min_value,
      |  max_value, top_value, top_count
      |FROM a LEFT JOIN t ON a.column_name = t.column_name
      |ORDER BY a.column_name""".stripMargin

  /** q102's full IVF+PQ chain in DuckDB — shared verbatim by q131 (the
    * persisted index must reproduce the inline operator exactly), and
    * with a candidate filter by q175 (tombstoned neighbors masked; the
    * codebooks/routing/probes stay full-corpus, exactly as an index
    * built before the deletes).
    */
  def ivfPqSeededOracleWhere(candExtra: String): String =
    ivfPqSeededOracle.replace(
      "WHERE c.neighbor_id <> p.query_id",
      s"WHERE c.neighbor_id <> p.query_id$candExtra")

  /** The chain up to the per-(query, neighbor) ADC sums `adc` — the
    * shared prefix of [[ivfPqSeededOracle]] and the q282 filtered-ANN
    * report (whose pre/post strategies are two different CUTS of the
    * same adc frame).
    */
  lazy val ivfPqAdcCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ccb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id, v AS cc
      |       FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
      |             FROM e ORDER BY h, vec_id LIMIT 8)),
      |ca AS (SELECT e.vec_id, e.v, ccb.list_id,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY ROUND(list_cosine_similarity(e.v, ccb.cc), 6) DESC,
      |             ccb.list_id) AS crank
      |       FROM e CROSS JOIN ccb),
      |corpus AS (SELECT vec_id AS neighbor_id, list_id FROM ca WHERE crank = 1),
      |pl AS (SELECT vec_id AS query_id, list_id
      |       FROM ca WHERE crank <= 4 AND vec_id < 10),
      |cand AS (SELECT p.query_id, c.neighbor_id
      |         FROM pl p JOIN corpus c USING (list_id)
      |         WHERE c.neighbor_id <> p.query_id),
      |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
      |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM e, ms),
      |cb AS (SELECT m, code_id, s AS c FROM (
      |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
      |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
      |        vec_id) - 1 AS code_id
      |    FROM sub) WHERE code_id < 16),
      |enc AS (SELECT vec_id AS neighbor_id, m, code_id FROM (
      |    SELECT sub.vec_id, sub.m, cb.code_id,
      |      CAST(floor(list_aggregate(
      |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
      |           FOR i IN generate_series(1, 8)], 'sum')
      |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
      |    FROM sub JOIN cb USING (m))
      |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
      |      ORDER BY d2, code_id) = 1),
      |pt AS (SELECT sub.vec_id AS query_id, sub.m, cb.code_id,
      |      CAST(floor(list_aggregate(
      |          [(sub.s[i] - cb.c[i]) * (sub.s[i] - cb.c[i])
      |           FOR i IN generate_series(1, 8)], 'sum')
      |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
      |    FROM sub JOIN cb USING (m) WHERE sub.vec_id < 10),
      |adc AS (SELECT cd.query_id, cd.neighbor_id, CAST(sum(pt.d2) AS BIGINT) AS sd
      |    FROM cand cd
      |    JOIN enc ON enc.neighbor_id = cd.neighbor_id
      |    JOIN pt ON pt.query_id = cd.query_id AND pt.m = enc.m
      |           AND pt.code_id = enc.code_id
      |    GROUP BY 1, 2)""".stripMargin

  lazy val ivfPqSeededOracle: String =
    s"""WITH $ivfPqAdcCtes
      |SELECT query_id, rank, neighbor_id,
      |  ROUND(CAST(sd AS DOUBLE) / 1000000e0, 6) AS approx_d2
      |FROM (SELECT query_id, neighbor_id, sd,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |            ORDER BY sd, neighbor_id) AS INTEGER) AS rank
      |      FROM adc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** q282's oracle: the SAME adc frame cut two ways — pre-filter
    * (eligibility applied before the rank cut) vs post-filter (top-12
    * shortlist filtered then re-cut to 3) — scored against the exact
    * filtered top-3 over the eligible sub-corpus. Exact integer
    * hit/returned/total counts, one division last.
    */
  lazy val annFilteredOracle: String =
    s"""WITH $ivfPqAdcCtes,
      |el AS (SELECT vec_id FROM embeddings WHERE label < 5),
      |pre AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY sd, neighbor_id) AS r
      |    FROM adc WHERE neighbor_id IN (SELECT vec_id FROM el))
      |  WHERE r <= 3),
      |wide AS (SELECT query_id, neighbor_id, r FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY sd, neighbor_id) AS r
      |    FROM adc) WHERE r <= 12),
      |post AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY r) AS r2
      |    FROM wide WHERE neighbor_id IN (SELECT vec_id FROM el))
      |  WHERE r2 <= 3),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
      |          c.vec_id) AS rank
      |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |    JOIN embeddings em ON em.vec_id = c.vec_id AND em.label < 5
      |    WHERE q.vec_id < 10)
      |  WHERE rank <= 3),
      |mm AS (SELECT 'prefilter' AS method, query_id, neighbor_id FROM pre
      |       UNION ALL SELECT 'postfilter', query_id, neighbor_id FROM post),
      |h AS (SELECT method, count(*) AS hits FROM mm
      |      JOIN ex USING (query_id, neighbor_id) GROUP BY method),
      |ret AS (SELECT method, count(*) AS returned FROM mm GROUP BY method),
      |tot AS (SELECT count(*) AS total FROM ex)
      |SELECT names.method, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
      |  CAST(COALESCE(ret.returned, 0) AS BIGINT) AS returned, tot.total,
      |  ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / tot.total, 6) AS recall
      |FROM (SELECT unnest(['postfilter', 'prefilter']) AS method) names
      |LEFT JOIN h ON h.method = names.method
      |LEFT JOIN ret ON ret.method = names.method
      |CROSS JOIN tot
      |ORDER BY names.method""".stripMargin

  // q139/q140: full BM25 replay — same tokenizer, Lucene idf, float
  // constants in e0 notation so DuckDB keeps them DOUBLE, scores
  // rounded BEFORE ranking with the doc-id tie-break. q140 (the
  // persisted index) must answer exactly like the inline operator,
  // so it shares this oracle verbatim.
  // CTE chain through the per-(query, doc) BM25 score `sc`, shared by
  // the q139/q140 oracle and q141's sparse tier.
  lazy val bm25Ctes: String = bm25CtesWhere("")

  /** The q139 chain with an extra corpus predicate — q188 replays it
    * over the post-delete survivor set (tombstoned docs removed, df /
    * n_docs / avgdl re-fit by compaction).
    */
  def bm25CtesWhere(extra: String): String =
      s"""corpus AS (SELECT doc_id, text FROM documents
        |  WHERE source <> 'src0'$extra),
        |probes AS (SELECT doc_id AS query_id, string_split(text, ' ') AS t
        |  FROM documents WHERE source = 'src0' AND doc_id % 50 = 0),
        |qt AS (SELECT DISTINCT query_id, t[i] AS token FROM probes,
        |  LATERAL (SELECT unnest(generate_series(1, least(6, len(t)))) AS i) gs),
        |tfc AS (SELECT doc, token, count(*) AS tf FROM
        |  (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS token
        |   FROM corpus) GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
        |dl AS (SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl
        |  FROM corpus),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  avg(len(string_split(text, ' '))) AS avgdl FROM corpus),
        |sc AS (SELECT query_id, tfc.doc,
        |    round(CAST(CAST(sum(CAST(round(1e9 *
        |      (ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0))
        |      * tf * (1.2e0 + 1e0)
        |      / (tf + 1.2e0 * (1e0 - 0.75e0 + 0.75e0 * dl / avgdl))))
        |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9, 6)
        |      AS score
        |  FROM tfc
        |  JOIN qt USING (token)
        |  JOIN dfc USING (token)
        |  JOIN dl ON tfc.doc = dl.doc
        |  CROSS JOIN stats
        |  GROUP BY 1, 2)""".stripMargin

  lazy val bm25Oracle: String =
    s"""WITH $bm25Ctes
       |SELECT query_id, rank, doc AS doc_id, score FROM
       |  (SELECT query_id, doc, score,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc) AS INTEGER) AS rank
       |   FROM sc)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // q318: RM3 pseudo-relevance feedback on the q139 chain — top-5
  // feedback docs, term weights as exact nano-long sums of
  // (tf/dl)·rsv (the order-invariant-aggregate rule), the df cap
  // df·100 <= 20·|corpus| (exact integers) on expansion candidates,
  // top-8 NEW terms (NOT EXISTS against the original qt), UNION'd
  // term set, then the verbatim q139 scoring expression over qt2.
  lazy val rm3Oracle: String =
    s"""WITH $bm25Ctes,
       |fb AS (SELECT query_id, doc, score FROM (
       |    SELECT query_id, doc, score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, doc) AS rk
       |    FROM sc) WHERE rk <= 5),
       |wv AS (SELECT f.query_id, t.token,
       |    CAST(SUM(CAST(round(1e9 * ((CAST(t.tf AS DOUBLE)
       |      / CAST(d.dl AS DOUBLE)) * f.score)) AS BIGINT))
       |      AS BIGINT) AS w_nano
       |  FROM fb f JOIN tfc t ON t.doc = f.doc JOIN dl d ON d.doc = f.doc
       |  GROUP BY 1, 2),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM corpus),
       |ex AS (SELECT query_id, token FROM (
       |    SELECT w.query_id, w.token,
       |      row_number() OVER (PARTITION BY w.query_id
       |        ORDER BY w.w_nano DESC, w.token) AS er
       |    FROM wv w JOIN dfc USING (token) CROSS JOIN nd
       |    WHERE dfc.df * 100 <= 20 * nd.nd
       |      AND NOT EXISTS (SELECT 1 FROM qt q
       |        WHERE q.query_id = w.query_id AND q.token = w.token))
       |  WHERE er <= 8),
       |qt2 AS (SELECT query_id, token FROM qt
       |  UNION SELECT query_id, token FROM ex),
       |sc2 AS (SELECT query_id, tfc.doc,
       |    round(CAST(CAST(sum(CAST(round(1e9 *
       |      (ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0))
       |      * tf * (1.2e0 + 1e0)
       |      / (tf + 1.2e0 * (1e0 - 0.75e0 + 0.75e0 * dl / avgdl))))
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9, 6)
       |      AS score
       |  FROM tfc
       |  JOIN qt2 USING (token)
       |  JOIN dfc USING (token)
       |  JOIN dl ON tfc.doc = dl.doc
       |  CROSS JOIN stats
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, doc AS doc_id, score FROM
       |  (SELECT query_id, doc, score,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc) AS INTEGER) AS rank
       |   FROM sc2)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // q307: the impact-pruned tier beside the exact one — per-token
  // top-M postings by the doc-dependent BM25 factor (6dp-rounded,
  // doc tie-break), scored with the FULL-corpus df/idf, then the
  // per-query recall of pruned-vs-exact top-k. Shares the q139 chain
  // so the exact side is the standing oracle verbatim.
  lazy val bm25PrunedOracle: String =
    s"""WITH $bm25Ctes,
       |imp AS (SELECT tfc.doc, tfc.token, tf,
       |    round(tf * (1.2e0 + 1e0)
       |      / (tf + 1.2e0 * (1e0 - 0.75e0 + 0.75e0 * dl / avgdl)), 6)
       |      AS impact
       |  FROM tfc JOIN dl ON tfc.doc = dl.doc CROSS JOIN stats),
       |pp AS (SELECT doc, token, tf FROM (
       |    SELECT doc, token, tf, row_number() OVER (PARTITION BY token
       |      ORDER BY impact DESC, doc) AS r FROM imp) WHERE r <= 512),
       |psc AS (SELECT query_id, pp.doc,
       |    round(CAST(CAST(sum(CAST(round(1e9 *
       |      (ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0))
       |      * tf * (1.2e0 + 1e0)
       |      / (tf + 1.2e0 * (1e0 - 0.75e0 + 0.75e0 * dl / avgdl))))
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9, 6)
       |      AS score
       |  FROM pp JOIN qt USING (token) JOIN dfc USING (token)
       |  JOIN dl ON pp.doc = dl.doc CROSS JOIN stats
       |  GROUP BY 1, 2),
       |ft AS (SELECT query_id, doc FROM (
       |    SELECT query_id, doc, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc) AS rank FROM sc) WHERE rank <= 10),
       |pt AS (SELECT query_id, doc FROM (
       |    SELECT query_id, doc, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc) AS rank FROM psc) WHERE rank <= 10),
       |nf AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_full
       |  FROM ft GROUP BY 1),
       |np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pruned
       |  FROM pt GROUP BY 1),
       |ov AS (SELECT ft.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM ft JOIN pt ON ft.query_id = pt.query_id AND ft.doc = pt.doc
       |  GROUP BY 1)
       |SELECT nf.query_id, nf.n_full,
       |  CAST(coalesce(np.n_pruned, 0) AS BIGINT) AS n_pruned,
       |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / nf.n_full, 6)
       |    AS recall
       |FROM nf LEFT JOIN np ON np.query_id = nf.query_id
       |LEFT JOIN ov ON ov.query_id = nf.query_id
       |ORDER BY nf.query_id""".stripMargin

  // q141: RRF fusion of the BM25 ranking above and the exact cosine
  // ranking over the same corpus split. Ranks are integers (exact
  // cross-engine given q139/q24 green), each (query, doc) sums at most
  // TWO double contributions — a single IEEE addition, order-free —
  // and the fused score rounds to 6dp before ranking, doc tie-break.
  /** q338's oracle: hybrid retrieval with BOTH tiers replayed as
    * their persisted-index chains — the sparse tier is the q139/q140
    * BM25 chain (the stored text index answers it verbatim, q140's
    * proof), the dense tier is the seeded IVF+PQ chain (q102/q131's
    * proof) PARAMETERIZED to the q141 corpus/probe split: codebooks
    * seed from the SPLIT corpus's hash order, probes route through
    * the persisted centroids (they are NOT corpus members here, so
    * routing/probe-distance tables derive from the probe vectors
    * directly — exactly what `AnnIndex.query` computes), and the two
    * top-10 rankings fuse by reciprocal rank exactly as q141 does.
    * Multi-referenced CTEs MATERIALIZED per the repo invariant.
    */
  lazy val indexHybridOracle: String =
    s"""WITH $bm25Ctes,
       |bm AS (SELECT query_id, doc, rank FROM
       |  (SELECT query_id, doc,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc) AS INTEGER) AS rank
       |   FROM sc) WHERE rank <= 10),
       |ev AS MATERIALIZED (SELECT em.vec_id, CAST(em.embedding AS DOUBLE[]) AS v
       |  FROM embeddings em JOIN corpus ON em.vec_id = corpus.doc_id),
       |pv AS MATERIALIZED (SELECT em.vec_id AS query_id,
       |    CAST(em.embedding AS DOUBLE[]) AS v
       |  FROM embeddings em JOIN probes ON em.vec_id = probes.query_id),
       |ccb AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, vec_id) - 1
       |    AS list_id, v AS cc
       |  FROM (SELECT vec_id, v, ${md5l("CAST(vec_id AS VARCHAR)")} AS h
       |        FROM ev ORDER BY h, vec_id LIMIT 8)),
       |cassign AS (SELECT ev.vec_id, ccb.list_id,
       |    row_number() OVER (PARTITION BY ev.vec_id
       |      ORDER BY ROUND(list_cosine_similarity(ev.v, ccb.cc), 6) DESC,
       |        ccb.list_id) AS crank
       |  FROM ev CROSS JOIN ccb),
       |corpus_l AS MATERIALIZED (SELECT vec_id AS neighbor_id, list_id
       |  FROM cassign WHERE crank = 1),
       |passign AS (SELECT pv.query_id, ccb.list_id,
       |    row_number() OVER (PARTITION BY pv.query_id
       |      ORDER BY ROUND(list_cosine_similarity(pv.v, ccb.cc), 6) DESC,
       |        ccb.list_id) AS crank
       |  FROM pv CROSS JOIN ccb),
       |pls AS (SELECT query_id, list_id FROM passign WHERE crank <= 4),
       |cand AS MATERIALIZED (SELECT p.query_id, c.neighbor_id
       |  FROM pls p JOIN corpus_l c USING (list_id)),
       |ms AS (SELECT unnest(generate_series(0, 7)) AS m),
       |esub AS MATERIALIZED (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s FROM ev, ms),
       |cb AS MATERIALIZED (SELECT m, code_id, s AS c FROM (
       |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY
       |        ${md5l("concat(CAST(vec_id AS VARCHAR), ':', CAST(m AS VARCHAR))")},
       |        vec_id) - 1 AS code_id
       |    FROM esub) WHERE code_id < 16),
       |enc AS MATERIALIZED (SELECT vec_id AS neighbor_id, m, code_id FROM (
       |    SELECT esub.vec_id, esub.m, cb.code_id,
       |      CAST(floor(list_aggregate(
       |          [(esub.s[i] - cb.c[i]) * (esub.s[i] - cb.c[i])
       |           FOR i IN generate_series(1, 8)], 'sum')
       |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
       |    FROM esub JOIN cb USING (m))
       |  QUALIFY row_number() OVER (PARTITION BY neighbor_id, m
       |      ORDER BY d2, code_id) = 1),
       |psub AS (SELECT query_id, m, v[m*8+1 : m*8+8] AS s FROM pv, ms),
       |ppt AS MATERIALIZED (SELECT psub.query_id, psub.m, cb.code_id,
       |      CAST(floor(list_aggregate(
       |          [(psub.s[i] - cb.c[i]) * (psub.s[i] - cb.c[i])
       |           FOR i IN generate_series(1, 8)], 'sum')
       |        * 1000000e0 + 0.5e0) AS BIGINT) AS d2
       |    FROM psub JOIN cb USING (m)),
       |adc AS (SELECT cd.query_id, cd.neighbor_id, CAST(sum(ppt.d2) AS BIGINT) AS sd
       |    FROM cand cd
       |    JOIN enc ON enc.neighbor_id = cd.neighbor_id
       |    JOIN ppt ON ppt.query_id = cd.query_id AND ppt.m = enc.m
       |           AND ppt.code_id = enc.code_id
       |    GROUP BY 1, 2),
       |dn AS (SELECT query_id, neighbor_id AS doc, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY sd, neighbor_id) AS INTEGER) AS rank
       |    FROM adc) WHERE rank <= 10),
       |u AS (SELECT query_id, doc, rank FROM bm
       |      UNION ALL SELECT query_id, doc, rank FROM dn),
       |f AS (SELECT query_id, doc, ROUND(SUM(1e0 / (60 + rank)), 6) AS rrf
       |      FROM u GROUP BY 1, 2)
       |SELECT query_id, rank, doc AS doc_id, rrf FROM
       |  (SELECT query_id, doc, rrf,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY rrf DESC, doc) AS INTEGER) AS rank
       |   FROM f)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  lazy val hybridRrfOracle: String =
    s"""WITH $bm25Ctes,
       |bm AS (SELECT query_id, doc, rank FROM
       |  (SELECT query_id, doc,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc) AS INTEGER) AS rank
       |   FROM sc) WHERE rank <= 10),
       |qv AS (SELECT query_id, CAST(embedding AS DOUBLE[]) AS qe
       |  FROM embeddings JOIN probes ON vec_id = query_id),
       |cv AS (SELECT vec_id AS doc, CAST(embedding AS DOUBLE[]) AS ce
       |  FROM embeddings JOIN corpus ON vec_id = doc_id),
       |ds AS (SELECT query_id, doc,
       |    ROUND(list_cosine_similarity(qe, ce), 6) AS cos FROM qv, cv),
       |dn AS (SELECT query_id, doc, rank FROM
       |  (SELECT query_id, doc,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY cos DESC, doc) AS INTEGER) AS rank
       |   FROM ds) WHERE rank <= 10),
       |u AS (SELECT query_id, doc, rank FROM bm
       |      UNION ALL SELECT query_id, doc, rank FROM dn),
       |f AS (SELECT query_id, doc, ROUND(SUM(1e0 / (60 + rank)), 6) AS rrf
       |      FROM u GROUP BY 1, 2)
       |SELECT query_id, rank, doc AS doc_id, rrf FROM
       |  (SELECT query_id, doc, rrf,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY rrf DESC, doc) AS INTEGER) AS rank
       |   FROM f)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

}
