package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed call into the program. `kind` is query (a read answering a
  * user), write (an append, delete or increment), compact, or export.
  */
final case class Op(id: Long, pass: Int, kind: String, module: String,
    name: String, startNs: Long, endNs: Long, startMs: Double, endMs: Double,
    ok: Boolean, rows: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Store-health counts from one listing of a store root. */
final case class Health(files: Int, bytes: Long, maxFilesPerDir: Int,
    tombstoneDirs: Int, stagingDirs: Int)

object Harness {
  /** Highest whole percentile with at least ten samples above its
    * nearest-rank value; None when fewer than eleven samples exist.
    * Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val s = xs.sorted
      val p = (100L * (n - 10) / n).toInt
      val rank = math.ceil(p * n / 100.0).toInt
      Some((p, s(math.max(rank, 1) - 1)))
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Row count plus an order-independent hash of a result: the sum of
    * per-row xxhash64 values. Doubles are rounded to 6 decimals first
    * so floating-point sums that depend on partition order still match.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
      t match {
        case DoubleType | FloatType =>
          val d = c.cast(DoubleType)
          when(d === 0.0, lit(0.0)).otherwise(round(d, 6))
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _ => c
      }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  def health(root: String): Health = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Health(0, 0L, 0, 0, 0)
    val perDir = mutable.Map.empty[Path, Int]
    var files = 0
    var bytes = 0L
    var tombstones = 0
    var staging = 0
    val w = Files.walk(p)
    try w.iterator().asScala.foreach { f =>
      val name = f.getFileName.toString
      if (Files.isDirectory(f)) {
        if (name.contains("._compacting") || name.contains("._old") ||
            name.startsWith("._staging")) staging += 1
        if (name.startsWith("batch=") && f.getParent.getFileName.toString == "dead")
          tombstones += 1
      } else if (!name.startsWith(".") && !name.startsWith("_")) {
        files += 1
        bytes += Files.size(f)
        perDir(f.getParent) = perDir.getOrElse(f.getParent, 0) + 1
      }
    }
    finally w.close()
    Health(files, bytes, if (perDir.isEmpty) 0 else perDir.values.max, tombstones, staging)
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  /** The session with Bench's comparability defaults: local[N] with N
    * the host's cores, N shuffle partitions, AQE on. `SPARK_GRAFT_CONF`
    * is deliberately not read.
    */
  def session(localDir: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Runs and records ops for one run. Each op is timed on the calling
  * thread; before it starts the op's id goes into a Spark local
  * property and a job tag so listener events can be tied back to it.
  * After it ends, and outside its timed window, the RDD blocks that the
  * op itself persisted are released (and only those: blocks that
  * existed before the op, such as a workload's own checkpointed
  * inputs, stay), and a full collection measures the heap the program
  * still holds: every op starts from the same collected heap, whatever
  * garbage the previous op left.
  */
class Recorder(var spark: SparkSession) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  /** (op id, check name) of every failed output check. */
  val failedChecks: mutable.ArrayBuffer[(Long, String)] = mutable.ArrayBuffer.empty
  var checks = 0
  var pass = 0
  val codegen: mutable.Map[Long, (Long, Long, Double)] = mutable.Map.empty
  /** Persisted-store build seconds per op (`graft.engine.BuildTiming`). */
  val build: mutable.Map[Long, Double] = mutable.Map.empty
  var peakCachedBytes = 0L
  /** Largest heap in use after the full collection that follows an op. */
  var peakHeapBytes = 0L
  var tracing = false
  private val nanoAnchor = System.nanoTime()
  private val msAnchor = System.currentTimeMillis().toDouble
  private def ms(ns: Long): Double = msAnchor + (ns - nanoAnchor) / 1e6

  def run[T](kind: String, module: String, name: String, rows: Long = 0L)(f: => T): (Op, Option[T]) = {
    val id = ops.size + 1L
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    sc.addJobTag(s"perfbench-op-$id")
    val cg0 = if (tracing) codegenNow() else null
    val t0 = System.nanoTime()
    val result = try Some(f) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $id $module $name failed: $e")
        None
    }
    val t1 = System.nanoTime()
    build(id) = graft.engine.BuildTiming.drainSeconds()
    if (tracing) {
      val cg1 = codegenNow()
      codegen(id) = (cg1._1 - cg0._1, cg1._2 - cg0._2, (cg1._3 - cg0._3) / 1e9)
      peakCachedBytes = math.max(peakCachedBytes, sc.getRDDStorageInfo.map(_.memSize).sum)
    }
    sc.removeJobTag(s"perfbench-op-$id")
    sc.setLocalProperty(Trace.OpProperty, null)
    sc.getPersistentRDDs.foreach { case (rid, rdd) =>
      if (!before.contains(rid)) rdd.unpersist(blocking = true) }
    System.gc()
    peakHeapBytes = math.max(peakHeapBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val op = Op(id, pass, kind, module, name, t0, t1, ms(t0), ms(t1), result.isDefined, rows)
    ops += op
    (op, result)
  }

  /** Record an output check against op `op` (0 for a run-level check). */
  def check(op: Long, name: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"[perfbench] check failed: $name (op $op)")
      failedChecks += ((op, name))
    }
  }

  /** (compilations, generated classes, compile ns), process-wide. */
  private def codegenNow(): (Long, Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }
}
