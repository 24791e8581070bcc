package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One operation of the closed loop: a handler call, a query serve or a
  * cold artifact call. Every Spark job it starts carries the job group
  * `Ops.group(id, phase)`, so jobs, stages and tasks are attributed to it
  * (and to its construct or execute phase) whichever thread runs them.
  */
final case class Op(id: String, name: String) {
  var startMs = 0L
  var endMs = 0L
  var constructMs = 0.0
  var executeMs = 0.0
  var ok = false
  var rowsOut = -1L
}

object Ops {
  def group(op: Op, phase: String): String = s"perfbench|${op.id}|$phase"

  /** (op id, phase) of a job group set by [[group]]. */
  def parse(g: String): Option[(String, String)] =
    if (g == null || !g.startsWith("perfbench|")) None
    else g.split('|') match {
      case Array(_, id, phase) => Some(id -> phase)
      case _ => None
    }

  /** Runs `construct` then `execute` on the frame it returns, each under
    * its own job group; records both phase times on `op`. `between` runs
    * untimed after construction. A throw marks the op failed and is not
    * rethrown.
    */
  def timed[T](spark: SparkSession, op: Op, between: () => Unit = () => ())
      (construct: => T)(execute: T => Long): Unit = {
    val sc = spark.sparkContext
    op.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(group(op, "construct"), op.name, interruptOnCancel = false)
      val built = construct
      op.constructMs = (System.nanoTime() - t0) / 1e6
      between()
      val t1 = System.nanoTime()
      sc.setJobGroup(group(op, "execute"), op.name, interruptOnCancel = false)
      op.rowsOut = execute(built)
      op.executeMs = (System.nanoTime() - t1) / 1e6
      op.ok = true
    } catch {
      case e: Throwable =>
        op.ok = false
        System.err.println(s"[perfbench] ${op.name} (${op.id}) failed: $e")
    } finally {
      sc.clearJobGroup()
      op.endMs = System.currentTimeMillis()
      System.err.println(f"[perfbench] op ${op.id} ${op.name} construct=${op.constructMs}%.0fms " +
        f"execute=${op.executeMs}%.0fms ok=${op.ok}")
    }
  }

  /** Latency samples (construct + execute) of the ops that succeeded. */
  def latencies(ops: Seq[Op]): Samples = {
    val s = new Samples
    ops.filter(_.ok).foreach(o => s.add(o.constructMs + o.executeMs))
    s
  }
}

/** Span of the benchmark's own trace. `parent` is the span that caused it;
  * spans of one operation share its `op` id.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: String, startMs: Long, endMs: Long) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "op" -> op, "start_ms" -> startMs,
    "end_ms" -> endMs)
}

/** Spark-side counters per job group, from the listener bus and the
  * query-execution listener. Only attached during a traced phase.
  */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class JobRec(val id: Int, val group: String, val startMs: Long) {
    var endMs = -1L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shWrite, shRead, shRecords, spill = 0L
    var outBytes, outRecords = 0L
  }

  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val byGroup = mutable.HashMap.empty[String, Agg]
  /** (start wall ms of the query's first planning phase, execution). */
  val executions = mutable.ArrayBuffer.empty[(Long, QueryExecution)]

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)
  private def groupOfStage(stage: Int): Option[String] =
    stageJob.get(stage).flatMap(jobs.get).map(_.group)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val g2 = if (g == null) "unattributed" else g
    jobs(e.jobId) = new JobRec(e.jobId, g2, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    agg(g2).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    groupOfStage(e.stageInfo.stageId).foreach(g => agg(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      val a = agg(j.group)
      a.tasks += 1
      j.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
      else phases.map(_.startTimeMs).min
    lock.synchronized(executions += (start -> qe))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Blocks until every started job has ended and the counters stay
    * still for a moment (listener events arrive asynchronously).
    */
  def drain(timeoutMs: Long = 20000): Unit = {
    def state = lock.synchronized((jobs.size, jobs.values.count(_.endMs < 0),
      byGroup.values.map(_.tasks).sum, executions.size))
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = state
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      (last._2 > 0 || System.currentTimeMillis() - stableSince < 400)) {
      Thread.sleep(50)
      val now = state
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }

  /** Time a job was open with none of its tasks running: the job's
    * scheduling latency.
    */
  def waitMs(j: JobRec): Long = {
    if (j.endMs < 0) 0L
    else {
      val spans = j.taskSpans.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      spans.foreach { case (s0, e0) =>
        val s = math.max(s0, j.startMs)
        val e = math.min(e0, j.endMs)
        if (e > s) {
          if (curE < s) {
            if (curE > curS) covered += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      }
      if (curE > curS) covered += curE - curS
      math.max(0L, (j.endMs - j.startMs) - covered)
    }
  }
}

object Trace {

  /** Every node of an executed plan, descending into AQE stages and
    * subqueries; a reused exchange is visited once, where it was built.
    */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => Iterator.single(a) ++ nodes(a.executedPlan)
      case q: QueryStageExec => Iterator.single(q) ++ nodes(q.plan)
      case r: ReusedExchangeExec => Iterator.single(r)
      case other => Iterator.single(other) ++ other.children.iterator.flatMap(nodes)
    }
    here ++ p.subqueries.iterator.flatMap(nodes)
  }

  final case class PlanStats(exchanges: Long, scanFiles: Long, scanBytes: Long,
      scanRows: Long, rowsOut: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  def planStats(qe: QueryExecution): PlanStats = {
    val all = nodes(qe.executedPlan).toSeq
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = all.filter {
      case _: FileSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
    val rowsOut = all.iterator.filterNot {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec => true
      case _ => false
    }.find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(-1L)
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    PlanStats(
      exchanges = all.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      scanFiles = scans.map(metric(_, "numFiles")).sum,
      scanBytes = scans.map(metric(_, "filesSize")).sum,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      rowsOut = rowsOut,
      analysisMs = phase("analysis"), optimizationMs = phase("optimization"),
      planningMs = phase("planning"))
  }

  /** Compile count and compile time of generated code, JVM-wide. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** Attaches `r` to the session for the duration of `body`; `body`
    * drains it before reading it.
    */
  def recording[T](spark: SparkSession, r: Recorder = new Recorder)(body: Recorder => T): T = {
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    try body(r)
    finally {
      spark.listenerManager.unregister(r)
      spark.sparkContext.removeSparkListener(r)
    }
  }

  /** What the timed phase of a traced run measured: the untraced and the
    * traced ops, the recorder of the traced ones, the layer metrics shared
    * by all workloads and the spans.
    */
  final case class Traced(plain: Seq[Op], traced: Seq[Op], rec: Recorder,
      metrics: Seq[(String, Double, String)], spans: Seq[Span])

  /** Timed phase of a traced run. Whole units (a deck of handler calls, a
    * pass of serves) alternate untraced and traced until `seconds` elapse,
    * ending on a traced one, so both halves see the same JVM state. The
    * recorder is attached only during the traced units; each of them is a
    * workload span. `trace.overhead_pct` is the traced minus the untraced
    * mean op latency, as a share of the untraced one.
    */
  def interleaved(spark: SparkSession, workload: String, seconds: Double)
      (unit: () => Seq[Op]): Traced = {
    val rec = new Recorder
    val plain, traced = mutable.ArrayBuffer.empty[Op]
    val units = mutable.ArrayBuffer.empty[(Span, Seq[Op])]
    var nextSpan = 0
    def nid() = { nextSpan += 1; nextSpan }
    var compiles = 0L
    var compileMs = 0.0
    val t0 = System.nanoTime()
    var i = 0
    while (i % 2 == 1 || traced.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (i % 2 == 0) plain ++= unit()
      else recording(spark, rec) { _ =>
        val c0 = codegen()
        val w0 = System.currentTimeMillis()
        val ops = unit()
        val w1 = System.currentTimeMillis()
        rec.drain()
        val c1 = codegen()
        compiles += c1._1 - c0._1
        compileMs += c1._2 - c0._2
        units += ((Span(nid(), 0, "workload", s"$workload unit $i", "", w0, w1), ops))
        traced ++= ops
      }
      i += 1
    }
    val parent = units.flatMap { case (u, ops) => ops.map(_.id -> u.id) }.toMap
    val (m, spans) = layerMetrics(rec, traced.toSeq, o => parent(o.id), () => nid())
    val all = units.map(_._1).toSeq ++ spans
    val n = math.max(1, traced.size).toDouble
    def mean(s: Samples) = s.sum / math.max(1, s.size)
    val overhead = 100.0 * (mean(Ops.latencies(traced.toSeq)) /
      math.max(1e-9, mean(Ops.latencies(plain.toSeq))) - 1.0)
    Traced(plain.toSeq, traced.toSeq, rec, m ++ Seq(
      ("codegen.compiles", compiles / n, "count"),
      ("codegen.compile_ms", compileMs / n, "ms"),
      ("trace.overhead_pct", overhead, "%")) ++
      selfTimes(all).toSeq.sortBy(_._1).map { case (l, ms) => (s"self.${l}_ms", ms / n, "ms") },
      all)
  }

  /** Self time per layer: a span's duration minus the part of it its
    * child spans cover, summed by layer.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L
        var cur = (-1L, -1L)
        cs.foreach { c =>
          if (c._1 > cur._2) { covered += cur._2 - cur._1; cur = c }
          else cur = (cur._1, math.max(cur._2, c._2))
        }
        covered += cur._2 - cur._1
        (s.endMs - s.startMs - covered).toDouble
      }.sum
    }
  }

  /** The layer metrics shared by all workloads, per operation of `ops`
    * (means over the traced ops), plus the span trace of those ops; each
    * op span's parent is `parentOf(op)`.
    */
  def layerMetrics(r: Recorder, ops: Seq[Op], parentOf: Op => Int,
      nextId: () => Int): (Seq[(String, Double, String)], Seq[Span]) = {
    val byId = ops.map(o => o.id -> o).toMap
    val n = math.max(1, ops.size).toDouble
    val groups = r.byGroup.toSeq.flatMap { case (g, a) =>
      Ops.parse(g).filter(p => byId.contains(p._1)).map(p => (p, a)) }
    def sum(f: r.Agg => Long, phase: Option[String] = None) = groups
      .filter(x => phase.forall(_ == x._1._2)).map(x => f(x._2)).sum.toDouble
    val opJobs = r.jobs.values.toSeq.flatMap(j => Ops.parse(j.group)
      .filter(p => byId.contains(p._1)).map(p => (p, j)))
    // queries executed inside an op's interval belong to it
    val sortedOps = ops.sortBy(_.startMs)
    val stats: Seq[PlanStats] = r.executions.toSeq.flatMap { case (start, qe) =>
      sortedOps.find(o => start >= o.startMs && start <= o.endMs)
        .flatMap(_ => scala.util.Try(planStats(qe)).toOption)
    }
    // rows a query returned: counted by the caller (collect) or read from
    // the executed plan (write sinks)
    val rowsOut = (ops.map(_.rowsOut).filter(_ >= 0).sum +
      (if (ops.exists(_.rowsOut >= 0)) 0L else stats.map(_.rowsOut).filter(_ >= 0).sum)).toDouble
    val scanRows = stats.map(_.scanRows).sum.toDouble
    val metrics = Seq(
      ("catalyst.analysis_ms", stats.map(_.analysisMs).sum / n, "ms"),
      ("catalyst.optimization_ms", stats.map(_.optimizationMs).sum / n, "ms"),
      ("catalyst.planning_ms", stats.map(_.planningMs).sum / n, "ms"),
      ("scheduler.jobs", sum(_.jobs) / n, "count"),
      ("scheduler.stages", sum(_.stages) / n, "count"),
      ("scheduler.tasks", sum(_.tasks) / n, "count"),
      ("scheduler.wait_ms", opJobs.map(x => r.waitMs(x._2)).sum / n, "ms"),
      ("executor.run_ms", sum(_.runMs) / n, "ms"),
      ("executor.cpu_ms", sum(_.cpuNs) / 1e6 / n, "ms"),
      ("executor.gc_ms", sum(_.gcMs) / n, "ms"),
      ("shuffle.exchanges", stats.map(_.exchanges).sum / n, "count"),
      ("shuffle.write_bytes", sum(_.shWrite) / n, "bytes"),
      ("shuffle.read_bytes", sum(_.shRead) / n, "bytes"),
      ("shuffle.records", sum(_.shRecords) / n, "count"),
      ("shuffle.spill_bytes", sum(_.spill) / n, "bytes"),
      ("scan.files", stats.map(_.scanFiles).sum / n, "count"),
      ("scan.bytes", stats.map(_.scanBytes).sum / n, "bytes"),
      ("scan.rows_read_per_row_out", if (rowsOut > 0) scanRows / rowsOut else 0.0, "ratio"))
    // spans: op -> construct/execute -> spark job
    val spans = mutable.ArrayBuffer.empty[Span]
    val phaseIds = mutable.HashMap.empty[(String, String), Int]
    ops.foreach { o =>
      val opSpan = Span(nextId(), parentOf(o), "operation", o.name, o.id, o.startMs, o.endMs)
      val cEnd = o.startMs + o.constructMs.toLong
      val c = Span(nextId(), opSpan.id, "construct", o.name, o.id, o.startMs, cEnd)
      val e = Span(nextId(), opSpan.id, "execute", o.name, o.id, cEnd, o.endMs)
      phaseIds((o.id, "construct")) = c.id
      phaseIds((o.id, "execute")) = e.id
      spans ++= Seq(opSpan, c, e)
    }
    opJobs.foreach { case ((id, phase), j) =>
      spans += Span(nextId(), phaseIds((id, phase)), "spark_job", s"job ${j.id}", id,
        j.startMs, if (j.endMs < 0) j.startMs else j.endMs)
    }
    (metrics, spans.toSeq)
  }
}

/** Writes the in-memory spans of a traced run as JSON lines. */
object Spans {
  def write(work: String, spans: Seq[Span]): Unit = {
    val p = java.nio.file.Paths.get(work, "trace", "spans.jsonl")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, spans.map(s => Json.render(s.toJson)).mkString("", "\n", "\n"))
  }
}
