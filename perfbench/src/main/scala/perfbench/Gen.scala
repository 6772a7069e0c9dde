package perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Everything the program sees is a pure function of the
  * seed: the same seed gives byte-identical rows, another seed gives
  * different rows with the same shapes and sizes (so costs stay
  * comparable across seeds while the data does not repeat).
  *
  * The tables follow the layout `graft.engine.Tables` reads
  * (`<dir>/<name>.parquet`, one file per table) and the value shapes of
  * the project's generated test data: a TPC-H-like star schema, an event
  * stream, a document corpus over a small vocabulary with near-duplicate
  * copies, and unit-norm 64-dim embeddings clustered by label.
  */
object Gen {
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Dim = 64

  // Table sizes: about the project's sf0.01 test data, with twice its
  // documents and one embedding per document.
  private val Customers = 1500
  private val Suppliers = 100
  private val Parts = 2000
  private val Orders = 10000
  private val Events = 10000
  private val Documents = 1000

  private def rng(seed: Long, stream: String): Random =
    new Random(seed * 1000003L + stream.hashCode)

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(rows.asJava, schema)
      .write.mode(SaveMode.Overwrite).parquet(path)

  private def round2(d: Double): Double = math.round(d * 100) / 100.0

  private val dayMs = 86400000L
  private def day(s: String): Long = Timestamp.valueOf(s + " 00:00:00").getTime

  def documents(seed: Long, n: Int): Seq[(Long, String, String, String)] = {
    val r = rng(seed, "documents")
    val langs = Array("en", "es", "fr", "de", "zh")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      // ~5% near-duplicates of an earlier doc, marked like the test data
      val text =
        if (i > 10 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(8 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      (i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}")
    }
  }

  def embeddings(seed: Long, n: Int): Seq[(Long, Array[Float], Int)] = {
    val r = rng(seed, "embeddings")
    val centers = Array.fill(10)(Array.fill(Dim)(r.nextGaussian()))
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(Dim)(d => centers(label)(d) + 1.5 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }

  /** Write the ten tables under `dir`. */
  def tables(spark: SparkSession, dir: String, seed: Long): Unit = {
    // rows are drawn here in a fixed order; only the writes run concurrently
    val pending = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def later(rows: Seq[Row], schema: StructType, path: String): Unit =
      pending += (() => write(spark, rows, schema, path))
    def f(n: String, t: DataType) = StructField(n, t)
    val r = rng(seed, "tables")
    later(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) },
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      s"$dir/region.parquet")
    later((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), s"$dir/nation.parquet")
    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
    later((0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), round2(-999.99 + r.nextDouble() * 10999.0),
        segments(r.nextInt(segments.length)))),
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), s"$dir/customer.parquet")
    later((0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), round2(-999.99 + r.nextDouble() * 10999.0))),
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      s"$dir/supplier.parquet")
    val adj = Array("cold", "small", "large", "red", "blue", "green", "fast", "slow")
    val noun = Array("widget", "bolt", "gear", "panel", "valve", "spring", "cable", "frame")
    val types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    val prices = new Array[Double](Parts)
    later((0 until Parts).map { i =>
        prices(i) = round2(900.0 + (i % 1000) * 0.1)
        Row(i.toLong, s"${adj(r.nextInt(adj.length))} ${noun(r.nextInt(noun.length))}",
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)),
          1 + r.nextInt(50), prices(i))
      },
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), s"$dir/part.parquet")
    val t0 = day("1995-01-01")
    val orderDays = ((day("2001-08-01") - t0) / dayMs).toInt + 1
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = scala.collection.mutable.ArrayBuffer.empty[Row]
    val lines = scala.collection.mutable.ArrayBuffer.empty[Row]
    (0 until Orders).foreach { o =>
      val od = t0 + r.nextInt(orderDays) * dayMs
      var total = 0.0
      var allF = true
      var allO = true
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val pk = r.nextInt(Parts)
        val qty = (1 + r.nextInt(50)).toDouble
        val ext = round2(qty * prices(pk))
        val disc = r.nextInt(11) / 100.0
        val tax = r.nextInt(9) / 100.0
        val ship = od + (1 + r.nextInt(121)) * dayMs
        val status = if (ship > day("1998-06-17")) "O" else "F"
        if (status == "O") allF = false else allO = false
        val flag = if (status == "O") "N" else if (r.nextBoolean()) "R" else "A"
        total += ext * (1 - disc) * (1 + tax)
        lines += Row(o.toLong, pk.toLong, r.nextInt(Suppliers).toLong, ln, qty,
          ext, disc, tax, flag, status, new Timestamp(ship))
      }
      orders += Row(o.toLong, r.nextInt(Customers).toLong,
        if (allF) "F" else if (allO) "O" else "P", round2(total),
        new Timestamp(od), prio(r.nextInt(prio.length)))
    }
    later(orders.toSeq, StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))), s"$dir/orders.parquet")
    later(lines.toSeq, StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      s"$dir/lineitem.parquet")
    val evTypes = Array("signup", "click", "view", "purchase", "error")
    val month = 30L * dayMs * 1000
    val users = math.max(15, Events / 67)
    val evTimes = Array.fill(Events)(r.nextLong(month)).sorted
    later(evTimes.indices.map(i => Row(i.toLong,
        new Timestamp(day("2024-01-01") + evTimes(i) / 1000), r.nextInt(users).toLong,
        evTypes(r.nextInt(evTypes.length)), round2(r.nextDouble() * 560),
        s"""{"k": ${r.nextInt(100)}}""")),
      StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), s"$dir/events.parquet")
    later(documents(seed, Documents).map { case (id, t, l, src) =>
        Row(id, t, l, src, t.length.toLong) },
      StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      s"$dir/documents.parquet")
    later(embeddings(seed, Documents).map { case (id, v, l) =>
        Row(id, v.toSeq, l) },
      StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      s"$dir/embeddings.parquet")
    graft.engine.Par.inParallel(pending.toSeq: _*)
  }

  /** One-minute `PowerSchemas.raw` rows for `minutes` consecutive minutes
    * from a fixed start, with seeded metric values. Zero production and
    * zero solar rows occur, as in the fixtures the medallion specs use.
    */
  def powerMinutes(seed: Long, minutes: Int): IndexedSeq[Row] = {
    val r = rng(seed, "power")
    val start = Timestamp.valueOf("2023-12-28 00:00:00").getTime
    (0 until minutes).map { m =>
      def v(scale: Double) = if (r.nextInt(50) == 0) 0.0 else round2(r.nextDouble() * scale)
      Row.fromSeq(new Timestamp(start + m * 60000L) +:
        graft.medallion.PowerSchemas.metricCols.map(c =>
          if (c.startsWith("exchange")) round2(r.nextDouble() * 2000 - 1000)
          else v(if (c == "co2_emission") 300 else 3000)))
    }
  }
}
