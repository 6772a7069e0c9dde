package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The harness JVM. Usage:
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <bench dir> <work dir>
  * It generates the workload's inputs from the seed, sets the program up
  * three times (reporting the median as setup_s), runs passes of the
  * workload until `seconds` of op time is used, checks the outputs and
  * writes every metric to `<work dir>/metrics.json`. With trace 1 it
  * also records the span tree and writes `<work dir>/trace.json`.
  */
object Main {
  val DefaultSeed = 1L
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, benchDir, work) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    // results are fingerprinted on the default seed only, against the
    // committed values; other seeds are checked by the invariants
    val expected = if (seed != DefaultSeed) None
      else Some(readExpected(s"$benchDir/expected/$workload.tsv"))
    val wl: Workload = workload match {
      case "query-mix" =>
        val pool = Files.readAllLines(Paths.get(s"$benchDir/query-pool.txt")).asScala
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
        new QueryMix(work, seed, expected, pool,
          new StoreLifecycle(s"$work/stores", seed, expected))
      case "medallion-increments" =>
        new MedallionIncrements(work, seed, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val localDir = s"$work/spark-local"
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var clock = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - clock) / 1e9
      clock = now
    }
    val base = Harness.session(localDir)
    phase("session")
    wl.inputs(base)
    phase("inputs")
    // each set-up in a new session (own SQL state and caches) on the
    // running Spark context
    var spark = base
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      spark = base.newSession()
      wl.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    val rec = new Recorder(spark)
    val trace = new Trace
    val planMs = new java.util.concurrent.ConcurrentHashMap[Double, Double]()
    if (traced) {
      rec.tracing = true
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
        private def record(qe: QueryExecution): Unit = {
          // keyed by when planning started: the listener's QueryExecution
          // ids are not the SQL execution ids, so figures are tied to the
          // op whose window holds that time
          val ph = qe.tracker.phases.values
          if (ph.nonEmpty)
            planMs.merge(ph.map(_.startTimeMs).min.toDouble, ph.map(_.durationMs).sum.toDouble, _ + _)
        }
      })
    }
    // closed loop: another pass starts while the op time used so far
    // plus a median pass fits in the budget; the first always runs
    var used = 0.0
    val passTimes = mutable.ArrayBuffer.empty[Double]
    while (passTimes.isEmpty || used + Harness.median(passTimes.toSeq) <= seconds) {
      rec.pass += 1
      val n0 = rec.ops.size
      wl.pass(rec)
      val t = rec.ops.drop(n0).map(_.secs).sum
      passTimes += t
      used += t
    }
    phase("passes")
    wl.finalChecks(rec)
    phase("final_checks")
    if (traced) Thread.sleep(1000) // let the asynchronous listener bus drain

    val m = new Metrics(rec, wl, passTimes.toSeq, setups)
    m.notes("phase_s") = phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
    if (traced) m.traced(trace, planMs.asScala.toMap, s"$work/trace.json")
    Files.writeString(Paths.get(s"$work/metrics.json"), m.json)
    Files.writeString(Paths.get(s"$work/fingerprints.tsv"),
      wl.seen.map { case (k, (n, h)) => s"$k\t$n\t$h" }.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.split("\t")).collect {
      case Array(k, n, h) => k -> (n.toLong, h)
    }.toMap
  }
}
