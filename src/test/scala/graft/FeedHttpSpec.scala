package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.functions._

/** Live HTTP transport of the feed source against a loopback JDK
  * `HttpServer` (no egress): paged partition planning off the `total`
  * probe, executor-side GETs, cursor `start` pushdown reaching the
  * query string, the no-`total` sequential-pager fallback, bounded
  * retry with backoff on 5xx, and schema inference over a probe page.
  * The server implements the Energinet envelope the reference polls
  * (`bronze_ingest.py:30-39`): `offset`/`limit`/`start`/`sort` params,
  * `{"total": N, "records": [...]}` responses.
  */
class FeedHttpSpec extends SparkSpecBase {
  private val fmt = "graft.sources.FeedSource"

  /** (cursor, mw) records sorted ascending by cursor. */
  private def mkRecords(n: Int): IndexedSeq[(String, Long)] =
    (0 until n).map(i => (f"2025-10-01T00:$i%02d", 100L + i))

  /** Loopback server speaking the Energinet envelope. Returns
    * (server, endpoint). `failFirst` 503s that many requests before
    * serving; `withTotal=false` omits the envelope's total (the
    * sequential-pager fallback path); `lastStart`/`hits` observe what
    * the client actually sent.
    */
  private def serve(recs: IndexedSeq[(String, Long)], failFirst: Int = 0,
      withTotal: Boolean = true, path: String = "/dataset/Power",
      lastStart: AtomicReference[String] = new AtomicReference(""),
      hits: AtomicInteger = new AtomicInteger(0),
      capLimit: Int = Int.MaxValue,
      dynRecs: AtomicReference[IndexedSeq[(String, Long)]] = null)
      : (HttpServer, String) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val fails = new AtomicInteger(failFirst)
    server.createContext(path, (x: HttpExchange) => {
      hits.incrementAndGet()
      val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      if (fails.getAndDecrement() > 0) {
        x.sendResponseHeaders(503, -1); x.close()
      } else {
        val start = params.getOrElse("start", "")
        lastStart.set(start)
        val offset = params.getOrElse("offset", "0").toLong
        val limit = math.min(capLimit,
          params.getOrElse("limit", Int.MaxValue.toString).toInt)
        val base = if (dynRecs != null) dynRecs.get else recs
        val eligible = base.filter(_._1 >= start)
        val hi = math.min(eligible.length.toLong, offset + limit).toInt
        val page = eligible.slice(offset.toInt, hi)
        val body = page.map { case (c, mw) =>
          s"""{"minutes1_utc": "$c", "mw": $mw, "price": ${mw / 10.0}}"""
        }.mkString(
          if (withTotal) s"""{"total": ${eligible.length}, "records": ["""
          else """{"records": [""",
          ",", "]}").getBytes("UTF-8")
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body)
        x.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}$path")
  }

  private def stop(s: HttpServer): Unit = {
    s.stop(0)
    s.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
  }

  test("paged batch read: one partition per offset page off the total probe") {
    val (server, url) = serve(mkRecords(9))
    try {
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT, price DOUBLE")
        .option("endpoint", url).option("pageSize", "4").load()
      assert(df.rdd.getNumPartitions == 3) // ceil(9/4)
      assert(df.count() == 9)
      assert(df.agg(sum("mw")).head.getLong(0) == (0 until 9).map(100L + _).sum)
    } finally stop(server)
  }

  test("cursor pushdown travels as the start query param AND stays exact") {
    val lastStart = new AtomicReference[String]("")
    val (server, url) = serve(mkRecords(9), lastStart = lastStart)
    try {
      val ge = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("pageSize", "4")
        .option("cursorField", "minutes1_utc").load()
        .filter(col("minutes1_utc") >= "2025-10-01T00:05")
      assert(ge.count() == 4)
      assert(lastStart.get == "2025-10-01T00:05") // server-side pruning engaged
      // strict > : reader bound is a conservative superset, the engine
      // residual still drops the boundary record
      val gt = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("pageSize", "4")
        .option("cursorField", "minutes1_utc").load()
        .filter(col("minutes1_utc") > "2025-10-01T00:05")
      assert(gt.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("2025-10-01T00:06", "2025-10-01T00:07", "2025-10-01T00:08"))
    } finally stop(server)
  }

  test("no-total envelope falls back to one sequential pager") {
    val hits = new AtomicInteger(0)
    val (server, url) = serve(mkRecords(9), withTotal = false, hits = hits)
    try {
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("pageSize", "4").load()
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 9)
      // probe + ceil(9/4) pages + the terminating empty page (only an
      // EMPTY page ends the feed — a short one may be a capped server)
      assert(hits.get >= 4)
    } finally stop(server)
  }

  test("paged mode fails loudly when the server caps limit below pageSize") {
    val (server, url) = serve(mkRecords(9), capLimit = 2)
    try {
      val e = intercept[Exception] {
        spark.read.format(fmt)
          .schema("minutes1_utc STRING, mw BIGINT")
          .option("endpoint", url).option("pageSize", "4").load().count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("pageSize"), msgs)
      // at the server's cap the same read completes, losslessly
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("pageSize", "2").load()
      assert(df.count() == 9)
    } finally stop(server)
  }

  test("no-total pager survives a limit-capping server without data loss") {
    val (server, url) = serve(mkRecords(9), withTotal = false, capLimit = 2)
    try {
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("pageSize", "4").load()
      // pages arrive 2-at-a-time though 4 were requested; the pager
      // keeps going from the advanced offset until an empty page
      assert(df.count() == 9)
      assert(df.agg(sum("mw")).head.getLong(0) == (0 until 9).map(100L + _).sum)
    } finally stop(server)
  }

  test("transient 5xx retries with backoff; exhaustion surfaces the failure") {
    val (server, url) = serve(mkRecords(3), failFirst = 2)
    try {
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url).option("backoffMs", "1").load()
      assert(df.count() == 3)
    } finally stop(server)

    val (server2, url2) = serve(mkRecords(3), failFirst = 1000)
    try {
      val e = intercept[Exception] {
        spark.read.format(fmt)
          .schema("minutes1_utc STRING, mw BIGINT")
          .option("endpoint", url2)
          .option("maxRetries", "1").option("backoffMs", "1").load().count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("retries"), msgs)
    } finally stop(server2)
  }

  test("live polling stream: capped micro-batches, checkpointed position resume") {
    val dyn = new AtomicReference(mkRecords(9))
    val (server, url) = serve(IndexedSeq.empty, dynRecs = dyn)
    val ckpt = tempDir("graft_feed_ckpt")
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url)
        .option("pageSize", "2").option("maxPagesPerPoll", "2")
        .option("pollIntervalMs", "0")
        .load()
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          val n = df.count()
          batches.synchronized { batches += n }
          ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not drain in time")
    }
    try {
      drain()
      // 9 records at <= maxPagesPerPoll*pageSize = 4 rows per batch:
      // the backlog drains in bounded steps, never one unbounded fetch
      assert(batches.sum == 9, batches.toString)
      assert(batches.count(_ > 0) >= 3, s"page cap not applied: $batches")
      assert(batches.forall(_ <= 4), s"batch over the admission cap: $batches")
      // the feed grows; a RESTARTED query resumes from the checkpointed
      // position and reads only the appended records
      dyn.set(mkRecords(13))
      drain()
      assert(batches.sum == 13, s"resume re-read or lost records: $batches")
    } finally stop(server)
  }

  test("schema inference over a probe page") {
    val (server, url) = serve(mkRecords(5))
    try {
      val df = spark.read.format(fmt).option("endpoint", url).load()
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      assert(types == Map("minutes1_utc" -> "string", "mw" -> "bigint",
        "price" -> "double"))
      assert(df.count() == 5)
    } finally stop(server)
  }

  test("endpoints with an existing query string keep it") {
    val (server, url) = serve(mkRecords(5))
    try {
      val df = spark.read.format(fmt)
        .schema("minutes1_utc STRING, mw BIGINT")
        .option("endpoint", url + "?dataset=PowerSystemRightNow").load()
      assert(df.count() == 5) // params appended with &, URL stays valid
    } finally stop(server)
  }
}
