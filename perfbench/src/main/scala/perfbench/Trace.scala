package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span: one interval of the op → SQL execution → job → stage tree.
  * Times are epoch milliseconds (Spark's listener clock). `parent` is 0
  * for an op; every span carries the id of the op it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

object Spans {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionWithin(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. Children that overlap each other (jobs a
    * `Par.inParallel` chain runs side by side) count once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - unionWithin(cs, s.start, s.end))
    }.toMap
  }

  /** The module a Spark call site belongs to: the innermost `graft.*`
    * frame of the long-form call site, as `<package>.<Object>` without
    * the `graft.` prefix (`graft.operators.TextIndex$.query(...)` →
    * `operators.TextIndex`). Frames of the harness itself map to
    * `perfbench`; a call site with neither maps to `spark`.
    */
  def module(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim).filter(_.nonEmpty)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val cls = f.takeWhile(c => c != '(' ).split('.').dropRight(1).mkString(".")
        cls.stripPrefix("graft.").takeWhile(_ != '$')
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) "perfbench" else "spark"
    }
  }
}

/** Listener side of the traced run: records SQL executions, jobs,
  * stages and task metrics in memory, keyed to the op that was running
  * when they started (the harness tags each op through the
  * `perfbench.op` local property, which `Par.inParallel` threads
  * inherit). Nothing is written until the run ends.
  */
class Trace extends SparkListener {
  import Trace._
  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val op = e.jobTags.collectFirst { case t if t.startsWith("perfbench-op-") =>
        t.stripPrefix("perfbench-op-").toLong }.getOrElse(0L)
      execs.put(e.executionId, Exec(e.executionId, op, e.time, Double.NaN,
        e.details, e.physicalPlanDescription))
    case e: SparkListenerSQLExecutionEnd =>
      Option(execs.get(e.executionId)).foreach(_.end = e.time)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, op, exec, e.time, Double.NaN, site))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val st = stages.computeIfAbsent(i.stageId, _ => Stage(i.stageId))
    st.job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    st.submit = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    st.end = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.computeIfAbsent(e.stageId, _ => Stage(e.stageId))
    val m = e.taskMetrics
    st.synchronized {
      st.launches += e.taskInfo.launchTime.toDouble
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inBytes += m.inputMetrics.bytesRead
        st.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** The span tree, for ops given as (id, name, startMs, endMs). A job
    * hangs under its SQL execution when it has one, else under its op;
    * stages hang under their job.
    */
  def spans(ops: Seq[(Long, String, Double, Double)]): Seq[Span] = {
    val opSpans = ops.map { case (id, n, a, b) => Span(id, 0L, id, "op", n, a, b) }
    val execSpans = execs.values.asScala.toSeq.filter(x => x.op > 0 && !x.end.isNaN)
      .map(x => Span(ExecBase + x.id, x.op, x.op, "execution",
        Spans.module(x.details), x.start, x.end))
    val execIds = execSpans.map(_.id).toSet
    val jobSpans = jobs.values.asScala.toSeq.filter(j => j.op > 0 && !j.end.isNaN)
      .map { j =>
        val parent = if (execIds.contains(ExecBase + j.exec)) ExecBase + j.exec else j.op
        Span(JobBase + j.id, parent, j.op, "job", Spans.module(j.site), j.start, j.end)
      }
    val jobOp = jobSpans.map(j => j.id -> j.op).toMap
    val stageSpans = stages.values.asScala.toSeq
      .filter(s => jobOp.contains(JobBase + s.job) && !s.submit.isNaN && !s.end.isNaN)
      .map(s => Span(StageBase + s.id, JobBase + s.job, jobOp(JobBase + s.job),
        "stage", s"stage ${s.id}", s.submit, s.end))
    opSpans ++ execSpans ++ jobSpans ++ stageSpans
  }
}

object Trace {
  val OpProperty = "perfbench.op"
  val ExecBase = 1L << 40
  val JobBase = 2L << 40
  val StageBase = 3L << 40

  final case class Exec(id: Long, op: Long, start: Double, var end: Double,
      details: String, plan: String)
  final case class Job(id: Int, op: Long, exec: Long, start: Double,
      var end: Double, site: String)
  final case class Stage(id: Int) {
    var job: Int = -1
    var submit: Double = Double.NaN
    var end: Double = Double.NaN
    val launches: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill,
      inBytes, outBytes: Long = 0L
  }
}
