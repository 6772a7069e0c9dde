package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Every metric of one run, by name, with its unit. End-to-end metrics
  * come from op timings and need no listener; the per-layer metrics
  * from the span tree exist only in a traced run. Counts and times of a
  * layer are summed per pass and reported as the median over passes.
  */
class Metrics(rec: Recorder, wl: Workload, passTimes: Seq[Double], setups: Seq[Double]) {
  import Harness.{median, tail}

  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  private def put(name: String, v: Double, unit: String): Unit =
    values(name) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)

  val attempted: Int = rec.ops.size + rec.checks
  val failed: Int = rec.ops.count(!_.ok) + rec.failedChecks.size
  private val ops = rec.ops.toSeq

  private def p50(xs: Seq[Op]) = if (xs.isEmpty) Double.NaN else median(xs.map(_.secs))
  /** Geometric mean latency: every op weighs the same whatever its cost,
    * and, unlike the median of a run's few distinct ops, it does not jump
    * from one op's latency to its neighbour's between runs.
    */
  private def gmean(xs: Seq[Op]) =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(o => math.log(o.secs)).sum / xs.size)
  private def tailOf(name: String, xs: Seq[Op]): Double = tail(xs.map(_.secs)) match {
    case Some((p, v)) => notes(name) = s"p$p of n=${xs.size}"; v
    case None => notes(name) = s"max of n=${xs.size} (fewer than 11 samples)"
      if (xs.isEmpty) Double.NaN else xs.map(_.secs).max
  }
  private def perPass(f: Seq[Op] => Double): Double =
    median(ops.groupBy(_.pass).values.map(f).toSeq)

  private val queries = ops.filter(_.kind == "query")
  put("setup_s", median(setups), "s")
  put("wall_s", median(passTimes), "s")
  put("ok_frac", 1.0 - failed.toDouble / attempted, "frac")
  put("peak_heap_mb", rec.peakHeapBytes / 1048576.0, "MB")
  put("peak_rss_mb", peakRssMb, "MB")
  put("op_s.gmean", gmean(ops), "s")
  put("query_s.gmean", gmean(queries), "s")
  put("op_s.p50", p50(ops), "s")
  put("op_s.tail", tailOf("op_s.tail", ops), "s")
  put("query_s.p50", p50(queries), "s")
  put("query_s.tail", tailOf("query_s.tail", queries), "s")
  notes("passes") = passTimes.size.toString
  notes("setup_s.runs") = setups.mkString(",")

  // workload-level figures, named as in the design; reported per layer
  // because each one exists on only some workloads
  private val writes = ops.filter(_.kind == "write")
  put("failed_frac", failed.toDouble / attempted, "frac")
  put("increment_s.p50", p50(writes.filter(_.module == "medallion.PowerPipeline")), "s")
  private val ingest = writes.filter(_.rows > 0)
  put("ingest_rows_per_s", ingest.map(_.rows).sum / ingest.map(_.secs).sum, "1/s")
  put("compact_s", perPass(_.filter(_.kind == "compact").map(_.secs).sum), "s")
  put("space_amp", wl.finalHealth.bytes.toDouble / wl.liveBytes, "ratio")
  QueryMix.Families.foreach { case (fam, module) =>
    put(s"queries.$fam.query_s.p50", p50(queries.filter(_.module == module)), "s")
  }
  put("queries.build_s", perPass(_.map(o => rec.build.getOrElse(o.id, 0.0)).sum), "s")
  private val hs = wl.health.map(_._2)
  put("store.files", wl.finalHealth.files, "count")
  put("store.max_files_per_partition", if (hs.isEmpty) 0 else hs.map(_.maxFilesPerDir).max, "count")
  put("store.tombstone_dirs", if (hs.isEmpty) 0 else hs.map(_.tombstoneDirs).max, "count")
  put("store.staging_dirs_left", wl.finalHealth.stagingDirs, "count")

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Fold the listener records into per-layer metrics and write the
    * span tree with its self-time tables to `out`.
    */
  def traced(trace: Trace, planMs: Map[Double, Double], out: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spans = trace.spans(rec.ops.toSeq.map(o => (o.id, s"${o.module} ${o.name}", o.startMs, o.endMs)))
    val self = Spans.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    val execs = trace.execs.values.asScala.toSeq.filter(_.op > 0)
    val jobs = trace.jobs.values.asScala.toSeq.filter(j => j.op > 0 && !j.end.isNaN)
    val stages = trace.stages.values.asScala.toSeq
    val execById = execs.map(e => e.id -> e).toMap
    val stagesByJob = stages.groupBy(_.job)
    def jobModule(j: Trace.Job): String = {
      val m = Spans.module(j.site)
      if (m != "spark" && m != "perfbench") m
      else execById.get(j.exec).map(e => Spans.module(e.details)).getOrElse(m)
    }
    def medallionLayer(plan: String): Option[String] =
      Seq("gold", "silver", "bronze").find(l => plan.contains(s"/$l/"))
        .map(l => s"medallion.${l.capitalize}")
    def union(ivs: Seq[(Double, Double)]) = Spans.unionWithin(ivs, Double.MinValue, Double.MaxValue)

    // per pass: layer sums
    val passes = ops.map(_.pass).distinct.sorted
    val rows = passes.map { p =>
      val pOps = ops.filter(_.pass == p)
      val ids = pOps.map(_.id).toSet
      val pExecs = execs.filter(e => ids(e.op))
      val pJobs = jobs.filter(j => ids(j.op))
      val pStages = pJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
      val r = mutable.LinkedHashMap.empty[String, Double]
      def add(k: String, v: Double): Unit = r(k) = r.getOrElse(k, 0.0) + v
      // plan time is keyed by when planning started, within an op's window
      add("catalyst.plan_s", planMs.collect { case (t, d) if pOps.exists(o =>
        t >= o.startMs - 1 && t <= o.endMs) => d }.sum / 1e3)
      add("catalyst.executions", pExecs.size)
      val cg = pOps.flatMap(o => rec.codegen.get(o.id))
      add("codegen.compile_s", cg.map(_._3).sum)
      add("codegen.compilations", cg.map(_._1).sum)
      add("codegen.classes", cg.map(_._2).sum)
      add("scheduler.jobs", pJobs.size)
      add("scheduler.stages", pStages.size)
      add("scheduler.tasks", pStages.map(_.launches.size).sum)
      add("scheduler.wait_s", pStages.filter(!_.submit.isNaN)
        .map(s => s.launches.map(l => math.max(0.0, l - s.submit)).sum).sum / 1e3)
      val jobSum = pJobs.map(j => j.end - j.start).sum
      val jobUnion = pOps.map { o =>
        Spans.unionWithin(pJobs.filter(_.op == o.id).map(j => (j.start, j.end)), o.startMs, o.endMs)
      }.sum
      add("driver.idle_s", pOps.map(_.secs).sum - jobUnion / 1e3)
      add("task.run_s", pStages.map(_.runMs).sum / 1e3)
      add("task.cpu_s", pStages.map(_.cpuNs).sum / 1e9)
      add("task.gc_s", pStages.map(_.gcMs).sum / 1e3)
      add("shuffle.write_mb", pStages.map(_.shuffleWrite).sum / 1e6)
      add("shuffle.read_mb", pStages.map(_.shuffleRead).sum / 1e6)
      add("shuffle.fetch_wait_s", pStages.map(_.fetchWaitMs).sum / 1e3)
      add("spill_mb", pStages.map(_.spill).sum / 1e6)
      add("io.read_mb", pStages.map(_.inBytes).sum / 1e6)
      add("io.write_mb", pStages.map(_.outBytes).sum / 1e6)
      // module layers: executions by the innermost graft frame of their
      // call site (medallion layers by the sink their plan touches),
      // jobs by their own call site, else their execution's
      val modules = Seq("engine.IdempotentSink", "engine.Watermark", "engine.BatchStore",
        "medallion.Bronze", "medallion.Silver", "medallion.Gold",
        "operators.TextIndex", "operators.AnnIndex", "operators.PairStore")
      modules.foreach { m =>
        val es = pExecs.filter(e => Spans.module(e.details) == m ||
          (m.startsWith("medallion.") && opsById(e.op).module == "medallion.PowerPipeline" &&
            medallionLayer(e.plan).contains(m)))
        val js = pJobs.filter(j => jobModule(j) == m ||
          (m.startsWith("medallion.") && es.exists(_.id == j.exec)))
        add(s"$m.calls", es.size)
        add(s"$m.s", union(es.filter(!_.end.isNaN).map(e => (e.start, e.end))) / 1e3)
        add(s"$m.jobs", js.size)
        add(s"$m.job_s", union(js.map(j => (j.start, j.end))) / 1e3)
      }
      // BatchStore's jobs are its folds: the operators' compactions
      add("engine.BatchStore.compact_s", r("engine.BatchStore.job_s"))
      val pSpans = spans.filter(s => ids(s.op))
      Seq("op", "execution", "job", "stage").foreach(k =>
        add(s"self_s.$k", pSpans.filter(_.kind == k).map(s => self(s.id)).sum / 1e3))
      val wall = pOps.map(_.secs).sum
      r("codegen.classes_per_execution") = r("codegen.classes") / math.max(1.0, r("catalyst.executions"))
      r("scheduler.job_concurrency") = if (jobUnion > 0) jobSum / jobUnion else 0.0
      r("task.cpu_util") = r("task.cpu_s") / (wall * cores)
      r("write_amp") = r("io.write_mb") * 1e6 / wl.inputBytes
      r
    }
    def unitOf(k: String): String =
      if (k.endsWith("_s") || k.endsWith(".s") || k.startsWith("self_s.")) "s"
      else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("cpu_util")) "frac"
      else if (Set("write_amp", "scheduler.job_concurrency", "codegen.classes_per_execution")(k)) "ratio"
      else "count"
    rows.head.keys.foreach(k => put(k, median(rows.map(_.getOrElse(k, 0.0))), unitOf(k)))
    put("storage.cached_mb", rec.peakCachedBytes / 1e6, "MB")

    // the identity the tree must satisfy: self + union(children) = wall
    val identity = spans.filter(_.kind == "op").map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      math.abs(self(s.id) + Spans.unionWithin(cs, s.start, s.end) - s.dur)
    }
    notes("trace.identity_max_err_ms") = (if (identity.isEmpty) 0.0 else identity.max).toString
    val selfByKind = spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e3 }
    val selfByModule = spans.groupBy(s => s"${s.kind}:${if (s.kind == "op") s.name.takeWhile(_ != ' ') else s.name}")
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e3 }
    val sb = new StringBuilder
    sb ++= "{\n\"self_s_by_kind\": " ++= Metrics.obj(selfByKind.toSeq.sortBy(_._1).map { case (k, v) => k -> Metrics.num(v) })
    sb ++= ",\n\"self_s_by_layer\": " ++= Metrics.obj(selfByModule.toSeq.sortBy(-_._2).map { case (k, v) => k -> Metrics.num(v) })
    sb ++= ",\n\"spans\": [\n"
    sb ++= spans.sortBy(s => (s.op, s.start)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}","name":${Metrics.str(s.name)},"start_ms":${Metrics.num(s.start)},"end_ms":${Metrics.num(s.end)},"self_ms":${Metrics.num(self(s.id))}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    Files.writeString(Paths.get(out), sb.toString)
  }

  private lazy val opsById = ops.map(o => o.id -> o).toMap

  def json: String = {
    val ms = values.toSeq.map { case (k, (v, u)) =>
      k -> s"""{"value":${Metrics.num(v)},"unit":${Metrics.str(u)}}""" }
    val failures = rec.failedChecks.map { case (op, n) => s"op $op: $n" } ++
      rec.ops.filter(!_.ok).map(o => s"op ${o.id}: ${o.module} ${o.name} threw")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Metrics.obj(ms)},"notes":${Metrics.obj(notes.toSeq.map { case (k, v) => k -> Metrics.str(v) })},""" +
      s""""failures":[${failures.map(Metrics.str).mkString(",")}],""" +
      s""""ops":[${rec.ops.map(o => s"""{"id":${o.id},"pass":${o.pass},"kind":"${o.kind}","module":"${o.module}","name":${Metrics.str(o.name)},"s":${Metrics.num(o.secs)},"ok":${o.ok}}""").mkString(",\n")}]}"""
  }
}

object Metrics {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
