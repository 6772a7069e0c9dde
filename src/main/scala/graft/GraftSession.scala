package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The one place a graft Spark session is built: Bench, Verify, the
  * probes, the demos and the specs all come through [[local]], so a
  * session default changes here or nowhere.
  *
  * Conf precedence, lowest first: the comparability defaults (local[N]
  * with N shuffle partitions, UTC session zone, AQE on, no UI), then
  * the caller's `conf`, then the deployment's `SPARK_GRAFT_CONF="k=v;k=v"`
  * (shuffle codec, partition sizing, join preferences — scale-dependent
  * values stay parameterized instead of forking a main). Unset, every
  * run keeps the defaults and stays comparable across rounds.
  */
object GraftSession {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val env = sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Nil)
    (conf ++ env).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Unpersist every persisted RDD — chiefly the `localCheckpoint`s
    * queries leave pinned in storage memory until the driver GCs them.
    * Call it only between queries: it truncates the lineage of any
    * query still running. Unpersisting a locally checkpointed RDD warns
    * that its lineage is gone — the point here — once per RDD, which
    * buries real warnings, so the released RDDs' own loggers (named
    * after their classes) are quieted for the release only.
    */
  def releaseCheckpoints(spark: SparkSession): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    val loggers = rdds.map(_.getClass.getName).toSet
      .map((n: String) => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach { case (n, _) => Configurator.setLevel(n, Level.ERROR) }
    try rdds.foreach(_.unpersist(blocking = false))
    finally loggers.foreach { case (n, level) => Configurator.setLevel(n, level) }
  }

  /** Apply `f` to `items` in waves of `par` concurrent calls on one
    * session, and [[releaseCheckpoints]] at each wave's barrier only:
    * mid-wave, a release would truncate a concurrent call's
    * checkpointed lineage. Results come back in `items` order; a failed
    * call rethrows once its wave has settled.
    */
  def inWaves[A, B](spark: SparkSession, par: Int, items: Seq[A])(f: A => B): Seq[B] = {
    val width = math.max(1, par)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try items.grouped(width).toList.flatMap { wave =>
      val fs = wave.map(a => Future(f(a)))
      fs.foreach(Await.ready(_, Duration.Inf))
      releaseCheckpoints(spark)
      fs.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** `SPARK_GRAFT_CONF`'s `k=v;k=v` form as ordered pairs, keys and
    * values trimmed; the first `=` splits, so a value may hold more. A
    * blank spec is no overrides. An entry that is empty, has no `=`
    * or has a blank key is a typo, not a setting: it throws naming
    * the entry instead of being silently dropped.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    if (spec.trim.isEmpty) Nil
    else spec.split(";", -1).toSeq.map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$entry' is not key=value (in '$spec')")
      }
    }
}
