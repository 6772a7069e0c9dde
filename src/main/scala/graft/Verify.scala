package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Partial-evidence discipline (CORRECTNESS_r12 came back empty while
  * the tree verified 327/327 — the gate plausibly hit a wall-clock or
  * output budget): oracle_sql.json is written FIRST, before the Spark
  * session even starts, and each query's parquet dir lands as soon as
  * that query finishes — a run killed mid-suite still yields a
  * diffable artifact for every completed query instead of nothing.
  *
  * Throughput: queries run in parallel waves (SPARK_GRAFT_VERIFY_PAR
  * workers, default 4) — at sf0.01 most queries leave local[N] cores
  * idle, and the suite's fixed costs (store builds, codec stages,
  * loopback fixtures) overlap instead of serializing. Shared state is
  * safe by construction: per-query scratch dirs, per-query temp-view
  * names, ephemeral-port fixtures, ConcurrentHashMap-cached shared
  * index. The one cross-query hazard — unpersisting another in-flight
  * query's localCheckpoint blocks — is avoided by releasing persisted
  * RDDs only at wave BARRIERS, never while a query is running.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val t0 = System.nanoTime()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR").map(_.toInt).getOrElse(4)
    // SPARK_GRAFT_ONLY=q132_... restricts the dump for fast local
    // iteration on a new query; driver runs set no filter.
    val queries = SparkEntry.queries
    val selected = SparkEntry.selected.map(n => n -> queries(n))
    // Prewarm the session-shared stores BEFORE the waves, exactly like
    // Bench: inside a wave, the first store-fed consumer pays the whole
    // build while its wave-mates idle at the barrier (computeIfAbsent
    // blocks them) — up front, the build runs once with every core to
    // itself. The fresh-build queries (q161/q188/q332/q334) keep their
    // scratch builds: measuring build cost is their contract.
    graft.queries.SharedStore.prewarm(spark, sfDir,
      SparkEntry.needs(selected.map(_._1)), "verify")
    GraftSession.releaseCheckpoints(spark)

    // storage pressure otherwise compounds across the 330-query dump:
    // inWaves releases localCheckpoint blocks at each wave's barrier
    GraftSession.inWaves(spark, par, selected) { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    System.err.println(
      f"[verify] done: ${selected.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s (par=$par)")
    spark.stop()
  }
}
