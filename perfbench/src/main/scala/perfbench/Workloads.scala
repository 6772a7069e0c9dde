package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{IdempotentSink, Par, Tables}
import graft.medallion.{PowerPipeline, PowerSchemas}
import graft.operators.{AnnIndex, PairStore, TextIndex}

/** A closed-loop workload with one client thread: `pass` issues ops one
  * after another, each waiting for the previous one. On the default seed
  * `expected` holds the committed fingerprints (possibly none yet) and
  * `seen` collects this run's under the same keys; on other seeds it is
  * None and no fingerprints are taken.
  */
abstract class Workload(val work: String, val seed: Long,
    val expected: Option[Map[String, (Long, String)]]) {
  val seen: scala.collection.mutable.LinkedHashMap[String, (Long, String)] =
    scala.collection.mutable.LinkedHashMap.empty

  /** Write the seeded inputs (before set-up; not part of any metric). */
  def inputs(spark: SparkSession): Unit
  /** The program's set-up: warm-up reads of the workload's tables or
    * inputs. Timed as `setup_s`, repeated `rep` = 1, 2, 3 in fresh sessions.
    */
  def setup(spark: SparkSession, rep: Int): Unit = ()
  def pass(rec: Recorder): Unit
  /** Checks that need the whole run; outside every timed window. */
  def finalChecks(rec: Recorder): Unit = ()
  /** Logical bytes of the input one pass makes durable, and of the part
    * still live after its deletes.
    */
  def inputBytes: Long = 0L
  def liveBytes: Long = inputBytes
  /** Store health after each write and compaction, per pass. */
  val health: scala.collection.mutable.ArrayBuffer[(Long, Health)] =
    scala.collection.mutable.ArrayBuffer.empty
  var finalHealth: Health = Health(0, 0L, 0, 0, 0)

  /** Compare a result fingerprint with the committed one, if any. */
  protected def fingerprintCheck(rec: Recorder, op: Op, key: String, df: => DataFrame): Unit =
    expected.foreach { exp =>
      val fp = try Some(Harness.fingerprint(df)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] fingerprint $key failed: $e"); None }
      fp.foreach(seen(key) = _)
      exp.get(key) match {
        case Some(e) => rec.check(op.id, s"fingerprint $key", fp.contains(e))
        case None => if (fp.isEmpty) rec.check(op.id, s"fingerprint $key", ok = false)
      }
    }

  protected def scan(rec: Recorder, op: Op, root: String): Unit =
    health += ((op.id, Harness.health(root)))
}

/** An analyst's session over the program: registered queries from all
  * six families, then a store lifecycle. The queries are materialized
  * through the noop sink as `graft.Bench` does; a pass runs the pool
  * (query-pool.txt) once, in the file's order. Every run measures the
  * same queries in the same order and the seed varies the tables: the
  * first query of a JVM also pays for warming the query machinery, and
  * in a seeded order that cost moved from query to query between runs.
  * Results are fingerprinted on first use. `stores` runs after the
  * queries in the same pass.
  */
class QueryMix(work: String, seed: Long, expected: Option[Map[String, (Long, String)]],
    pool: Seq[String], stores: StoreLifecycle)
    extends Workload(work, seed, expected) {
  private val data = s"$work/data"
  private var dir = data

  def inputs(spark: SparkSession): Unit =
    Par.inParallel(() => Gen.tables(spark, data, seed), () => stores.inputs(spark))

  override def inputBytes: Long = stores.inputBytes
  override def liveBytes: Long = stores.liveBytes
  override def finalChecks(rec: Recorder): Unit = stores.finalChecks(rec)

  override def setup(spark: SparkSession, rep: Int): Unit = {
    // a fresh directory name per repetition, so no repetition reuses
    // state the program keeps per table directory
    dir = s"$work/data-r$rep"
    Files.createSymbolicLink(Paths.get(dir), Paths.get("data"))
    // the tables the pool's queries read
    Seq[(SparkSession, String) => DataFrame](Tables.documents, Tables.embeddings,
      Tables.events, Tables.lineitem)
      .foreach(_(spark, dir).count())
  }

  def pass(rec: Recorder): Unit = {
    queries(rec)
    val n = stores.health.size
    stores.pass(rec)
    health ++= stores.health.drop(n)
    finalHealth = stores.finalHealth
    seen ++= stores.seen
  }

  private def queries(rec: Recorder): Unit = {
    pool.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      val (op, _) = rec.run("query", QueryMix.Families(QueryMix.familyOf(name)), name) {
        q(rec.spark, dir).write.format("noop").mode("overwrite").save()
      }
      if (op.ok && rec.pass == 1 && !seen.contains(name))
        fingerprintCheck(rec, op, name, q(rec.spark, dir))
    }
  }
}

object QueryMix {
  /** Query family → the registry object that defines it. */
  val Families: Map[String, String] = Map(
    "parity" -> "queries.ParityQueries", "dedup" -> "queries.DedupQueries",
    "ann" -> "queries.AnnQueries", "text" -> "queries.TextQueries",
    "events" -> "queries.EventStoreQueries", "stats" -> "queries.StatsQueries")

  def familyOf(name: String): String =
    if (graft.queries.ParityQueries.queries.contains(name)) "parity"
    else graft.queries.ExtensionQueries.domains.collectFirst {
      case (fam, (qs, _)) if qs.contains(name) => fam
    }.get
}

/** `PowerPipeline.runIncrement` over seeded one-minute batches that
  * overlap, repeat timestamps, carry a NULL timestamp and deliver late
  * rows behind the cursor; after each increment the consumer reads, three
  * times over, the gold rows it added and hourly and daily figures of all
  * gold rows, as a dashboard reloaded by its viewers does. The
  * pass ends with a rerun of the last batch, `IdempotentSink.compact` of
  * every sink and `exportCsv`.
  */
class MedallionIncrements(work: String, seed: Long,
    expected: Option[Map[String, (Long, String)]])
    extends Workload(work, seed, expected) {
  private val batches = 2
  private val minutesPerBatch = 2000
  // the consumer's figures are small reads whose latency varies from call
  // to call; three refreshes per increment give query_s.gmean 18 samples
  private val refreshes = 3
  private val input = s"$work/input"
  private var rows: Seq[Long] = Nil
  private var lastBase = ""
  private def batchPath(b: Int) = s"$input/batch-$b"

  def inputs(spark: SparkSession): Unit = {
    val all = Gen.powerMinutes(seed, batches * minutesPerBatch)
    val r = new Random(seed * 31L + 7)
    // every 97th minute arrives one batch late, behind the cursor
    val late = (0 until all.size).filter(_ % 97 == 13).toSet
    val batchRows = (0 until batches).map { b =>
      val lo = b * minutesPerBatch
      val hi = lo + minutesPerBatch
      val own = (lo until hi).filterNot(late).map(all)
      val overlap = (math.max(0, lo - minutesPerBatch / 10) until lo).map(all)
      val dups = Seq.fill(minutesPerBatch / 100)(all(lo + r.nextInt(minutesPerBatch)))
      val lateRows = if (b == 0) Nil else (lo - minutesPerBatch until lo).filter(late).map(all)
      val nullTs = Row.fromSeq(null +: all(lo).toSeq.tail)
      r.shuffle(own ++ overlap ++ dups ++ lateRows :+ nullTs)
    }
    Par.inParallel(batchRows.zipWithIndex.map { case (batch, b) => () =>
      spark.createDataFrame(batch.asJava, PowerSchemas.raw)
        .write.mode(SaveMode.Overwrite).parquet(batchPath(b))
    }: _*)
    rows = batchRows.map(_.size.toLong)
  }

  override def inputBytes: Long = rows.sum * PowerSchemas.raw.size * 8L

  override def setup(spark: SparkSession, rep: Int): Unit =
    (0 until batches).foreach(b => spark.read.parquet(batchPath(b)).count())

  private def sinks(p: PowerPipeline.Paths) =
    Seq("bronze" -> p.bronze, "dim" -> p.dim, "fact" -> p.fact, "gold" -> p.gold)

  def pass(rec: Recorder): Unit = {
    val spark = rec.spark
    val base = s"$work/run/pass-${rec.pass}"
    Harness.deleteTree(base)
    val paths = PowerPipeline.Paths(base)
    def goldAfter(wm: java.sql.Timestamp) =
      IdempotentSink.read(spark, paths.gold).filter(col("time_id") > lit(wm))
    // a dashboard's view of everything loaded so far
    def goldHourly = IdempotentSink.read(spark, paths.gold)
      .groupBy(date_trunc("hour", col("time_id")).as("hour"))
      .agg(count(lit(1)).as("n"), avg("avg_co2_emission").as("co2"),
        avg("avg_total_production").as("production"))
    def goldDaily = IdempotentSink.read(spark, paths.gold)
      .groupBy(date_trunc("day", col("time_id")).as("day"))
      .agg(count(lit(1)).as("n"), max("avg_co2_emission").as("co2_max"),
        sum("avg_total_production").as("production"))
    var wm = new java.sql.Timestamp(0L)
    (0 until batches).foreach { b =>
      val (op, _) = rec.run("write", "medallion.PowerPipeline", s"runIncrement $b", rows(b)) {
        PowerPipeline.runIncrement(spark, spark.read.parquet(batchPath(b)), paths)
      }
      scan(rec, op, base)
      val w = wm
      val figures = Seq[(String, () => DataFrame)]("gold-after" -> (() => goldAfter(w)),
        "gold-hourly" -> (() => goldHourly), "gold-daily" -> (() => goldDaily))
      (1 to refreshes).foreach { r =>
        figures.foreach { case (fig, df) =>
          val (read, _) = rec.run("query", "engine.IdempotentSink", s"$fig $b/$r") {
            df().write.format("noop").mode("overwrite").save()
          }
          if (rec.pass == 1 && r == 1 && read.ok) fingerprintCheck(rec, read, s"$fig-$b", df())
        }
      }
      wm = IdempotentSink.read(spark, paths.gold).agg(max("time_id")).collect()(0).getTimestamp(0)
    }
    val before = sinks(paths).map { case (_, p) => IdempotentSink.read(spark, p).count() }
    val (rerun, _) = rec.run("write", "medallion.PowerPipeline", "runIncrement rerun") {
      PowerPipeline.runIncrement(spark, spark.read.parquet(batchPath(batches - 1)), paths)
    }
    val after = sinks(paths).map { case (_, p) => IdempotentSink.read(spark, p).count() }
    rec.check(rerun.id, "rerun adds zero rows", before == after)
    sinks(paths).foreach { case (n, p) =>
      val (op, _) = rec.run("compact", "engine.IdempotentSink", s"compact $n") {
        IdempotentSink.compact(spark, p)
      }
      scan(rec, op, base)
    }
    rec.run("export", "medallion.PowerPipeline", "exportCsv") {
      PowerPipeline.exportCsv(spark, paths)
    }
    finalHealth = Harness.health(base)
    if (lastBase.nonEmpty) Harness.deleteTree(lastBase)
    lastBase = base
  }

  /** The incremental gold table equals one `runIncrement` over the rows
    * bronze admitted, and matches the committed fingerprint.
    */
  override def finalChecks(rec: Recorder): Unit = {
    val spark = rec.spark
    val paths = PowerPipeline.Paths(lastBase)
    val one = PowerPipeline.Paths(s"$work/oneshot")
    Harness.deleteTree(one.base)
    PowerPipeline.runIncrement(spark, IdempotentSink.read(spark, paths.bronze), one)
    val inc = Harness.fingerprint(IdempotentSink.read(spark, paths.gold))
    val shot = Harness.fingerprint(IdempotentSink.read(spark, one.gold))
    rec.check(0, "incremental gold equals one-shot gold", inc == shot)
    seen("gold") = inc
    expected.flatMap(_.get("gold")).foreach(e => rec.check(0, "fingerprint gold", inc == e))
  }
}

/** Text index, ANN index and pair store grown batch by batch from
  * disjoint seeded splits of the documents and embeddings, then a seeded
  * delete, searches through the tombstones, a compaction and searches of
  * the compacted stores. Runs as the second half of a query-mix pass.
  */
class StoreLifecycle(work: String, seed: Long,
    expected: Option[Map[String, (Long, String)]])
    extends Workload(work, seed, expected) {
  private val docs = 400
  private val probes = 4
  private val batches = 2
  private val input = s"$work/input"
  private var deleted: Set[Long] = Set.empty
  private var docBytes: Map[Long, Long] = Map.empty
  private var lastRoot = ""
  private var compactedTop = (0L, "")
  private val vecBytes = Gen.Dim * 4L + 12L

  def inputs(spark: SparkSession): Unit = {
    import spark.implicits._
    // every document carries a token of its own, as real documents carry
    // names and identifiers
    val d = Gen.documents(seed, docs).map { case (id, t, l, src) => (id, s"$t doc$id", l, src) }
    val e = Gen.embeddings(seed, docs)
    val r = new Random(seed * 131L + 3)
    val order = r.shuffle((0 until docs).toIndexedSeq)
    val per = docs / batches
    val writes = (0 until batches).flatMap { b =>
      val ids = order.slice(b * per, if (b == batches - 1) docs else (b + 1) * per)
      Seq(() => ids.map(d).toDF("doc_id", "text", "lang", "source")
          .write.mode(SaveMode.Overwrite).parquet(s"$input/docs-$b"),
        () => ids.map(e).map { case (id, v, l) => (id, v.toSeq, l) }
          .toDF("vec_id", "embedding", "label")
          .write.mode(SaveMode.Overwrite).parquet(s"$input/emb-$b"))
    }
    val dead = r.shuffle(order).take(docs / 30)
    deleted = dead.map(_.toLong).toSet
    docBytes = d.map { case (id, t, _, _) => id -> (t.length + 8L) }.toMap
    // the first probe of each kind finds a deleted document (its own
    // token, its own embedding): an index that ignored the delete would
    // rank that document first, so the deleted-id check cannot miss it
    val textProbes = (s"doc${dead.head}" +: Seq.fill(probes - 1)(
      Seq.fill(2 + r.nextInt(4))(Gen.Vocab(r.nextInt(Gen.Vocab.length))).mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // probe ids lie above the document ids: AnnIndex.query leaves out a
    // neighbour whose id equals its probe's
    val annProbes = (e(dead.head) +: Seq.fill(probes - 1)(e(r.nextInt(docs))))
      .zipWithIndex.map { case ((_, v, _), i) => ((docs + i).toLong, v.toSeq) }
    Par.inParallel(writes ++ Seq(
      () => textProbes.toDF("query_id", "qtext")
        .write.mode(SaveMode.Overwrite).parquet(s"$input/text-probes"),
      () => annProbes.toDF("vec_id", "embedding")
        .write.mode(SaveMode.Overwrite).parquet(s"$input/ann-probes")): _*)
  }

  override def inputBytes: Long = docBytes.values.sum + docs * vecBytes
  override def liveBytes: Long =
    docBytes.filter(kv => !deleted(kv._1)).values.sum + (docs - deleted.size) * vecBytes

  def pass(rec: Recorder): Unit = {
    val spark = rec.spark
    val root = s"$work/run/pass-${rec.pass}"
    Harness.deleteTree(root)
    val (text, ann, pairs) = (s"$root/text", s"$root/ann", s"$root/pairs")
    def write(kind: String, module: String, name: String, rows: Long = 0L)(f: => Unit): Unit = {
      val (op, _) = rec.run(kind, module, name, rows)(f)
      scan(rec, op, root)
    }
    val searches = Map[String, (String, () => DataFrame, String)](
      "text" -> ("operators.TextIndex", () => TextIndex.query(spark, text,
        spark.read.parquet(s"$input/text-probes"), "query_id", "qtext", k = 10), "doc_id"),
      "ann" -> ("operators.AnnIndex", () => AnnIndex.query(spark, ann,
        spark.read.parquet(s"$input/ann-probes"), 10, Gen.Dim), "neighbor_id"),
      "pairs" -> ("operators.PairStore", () => PairStore.pairs(spark, pairs), "doc_a"))
    def search(which: String, tag: String): Unit = {
      val (m, q, idCol) = searches(which)
      val (op, res) = rec.run("query", m, s"$which $tag") {
        val df = q()
        (df.schema, df.collect())
      }
      res.foreach { case (schema, rows) =>
        // the pair store keeps no deletes; the indexes must hide them
        if (which != "pairs") {
          val i = schema.fieldIndex(idCol)
          rec.check(op.id, s"no deleted id in $m $tag", !rows.exists(r => deleted(r.getLong(i))))
        }
        if (which == "text" && tag == "compacted")
          compactedTop = Harness.fingerprint(spark.createDataFrame(rows.toSeq.asJava, schema))
        if (rec.pass == 1) fingerprintCheck(rec, op, s"$m $which $tag",
          spark.createDataFrame(rows.toSeq.asJava, schema))
      }
    }
    (0 until batches).foreach { b =>
      val docsB = spark.read.parquet(s"$input/docs-$b")
      val emb = spark.read.parquet(s"$input/emb-$b")
      val n = docsB.count()
      write("write", "operators.TextIndex", s"appendBatch $b", n) {
        TextIndex.appendBatch(docsB, "doc_id", "text", text, b.toLong) }
      if (b == 0) write("write", "operators.AnnIndex", "build 0", n) { AnnIndex.build(emb, ann, Gen.Dim) }
      else write("write", "operators.AnnIndex", s"appendBatch $b", n) { AnnIndex.appendBatch(emb, ann, Gen.Dim) }
      write("write", "operators.PairStore", s"appendDocs $b", n) {
        PairStore.appendDocs(docsB, "doc_id", "text", pairs, b.toLong) }
    }
    import spark.implicits._
    val ids = deleted.toSeq.toDF("doc_id")
    write("write", "operators.TextIndex", "delete") { TextIndex.delete(ids, "doc_id", text) }
    write("write", "operators.AnnIndex", "delete") {
      AnnIndex.delete(ids.withColumnRenamed("doc_id", "vec_id"), ann) }
    search("text", "tombstoned")
    search("ann", "tombstoned")
    write("compact", "operators.TextIndex", "compact") { TextIndex.compact(spark, text) }
    write("compact", "operators.AnnIndex", "compact") { AnnIndex.compact(spark, ann) }
    write("compact", "operators.PairStore", "compact") { PairStore.compact(spark, pairs) }
    search("text", "compacted")
    search("pairs", "compacted")
    finalHealth = Harness.health(root)
    if (lastRoot.nonEmpty) Harness.deleteTree(lastRoot)
    lastRoot = root
  }

  /** After the compaction, BM25 over the grown index (the last pass's
    * timed search) equals BM25 over a fresh one-batch index of the live
    * documents.
    */
  override def finalChecks(rec: Recorder): Unit = {
    val spark = rec.spark
    val fresh = s"$work/check/text"
    Harness.deleteTree(fresh)
    val live = (0 until batches).map(b => spark.read.parquet(s"$input/docs-$b"))
      .reduce(_ union _).filter(!col("doc_id").isin(deleted.toSeq: _*))
    TextIndex.appendBatch(live, "doc_id", "text", fresh, 0L)
    val fromFresh = Harness.fingerprint(TextIndex.query(spark, fresh,
      spark.read.parquet(s"$input/text-probes"), "query_id", "qtext", k = 10))
    rec.check(0, "compacted text index equals a fresh index of the live docs",
      compactedTop == fromFresh)
  }
}
