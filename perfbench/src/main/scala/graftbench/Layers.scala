package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced phase, each normalised per op (the
  * traced phase runs a different number of ops on every run). */
object Layers {

  def apply(h: Harness, w: Workload, m: Measured, compiles: Long,
            compileMs: Double, gcMs: Long): Map[String, Double] = {
    val n = math.max(1, m.samples.size).toDouble
    val c = h.tracer.counters.asScala.filter(_._1 != "(none)").values.toSeq
    def sum(f: OpCounters => Long): Double = c.map(f).sum.toDouble
    val ops = m.samples.map(_.op).distinct
    val (gap, inJob) = ops.map(h.tracer.gapAndInJob).foldLeft((0L, 0L)) {
      case ((a, b), (x, y)) => (a + x, b + y) }
    val spans = h.tracer.spans.asScala.toSeq
    val buildIds = spans.filter(_.name == "build").map(_.id).toSet
    val buildJobs = spans.count(s => s.name == "job" && buildIds(s.parent))
    val wallMs = m.wallSeconds * 1e3
    Map(
      "sources.scan_rows" -> sum(_.scanRows) / n,
      "sources.scan_bytes" -> sum(_.scanBytes) / n,
      "queries.build_ms" -> Stats.median(m.samples.map(_.buildMs)),
      "queries.sink_ms" -> Stats.median(m.samples.map(_.sinkMs)),
      "queries.build_jobs" -> buildJobs / n,
      "plan.analysis_ms" -> sum(_.analysisMs) / n,
      "plan.optimizer_ms" -> sum(_.optimizerMs) / n,
      "plan.planning_ms" -> sum(_.planningMs) / n,
      "plan.executions" -> sum(_.executions) / n,
      "plan.exchanges" -> sum(_.exchanges) / n,
      "plan.broadcast_exchanges" -> sum(_.broadcastExchanges) / n,
      "plan.sort_merge_joins" -> sum(_.sortMergeJoins) / n,
      "plan.nested_loop_joins" -> sum(_.nestedLoopJoins) / n,
      "codegen.compiles_traced" -> compiles / n,
      "codegen.compile_ms_traced" -> compileMs / n,
      "exec.jobs" -> sum(_.jobs) / n,
      "exec.stages" -> sum(_.stages) / n,
      "exec.tasks" -> sum(_.tasks) / n,
      "exec.in_job_ms" -> inJob / 1e6 / n,
      "exec.driver_gap_ms" -> gap / 1e6 / n,
      "exec.sched_delay_ms" -> sum(_.schedDelayMs) / n,
      "exec.task_run_ms" -> sum(_.taskRunMs) / n,
      "exec.task_cpu_ms" -> sum(_.taskCpuNs) / 1e6 / n,
      "exec.task_gc_ms" -> sum(_.taskGcMs) / n,
      "exec.core_busy_share" -> sum(_.taskRunMs) / (wallMs * h.cores),
      "shuffle.write_bytes" -> sum(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> sum(_.shuffleRead) / n,
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs) / n,
      "shuffle.spill_bytes" -> sum(_.spillBytes) / n,
      "jvm.driver_gc_ms_traced" -> gcMs / n) ++ serveLayers(h, w, m)
  }

  /** The serve spans: service time split by request kind, time queued
    * behind earlier requests, jobs per request, generator lag. */
  private def serveLayers(h: Harness, w: Workload, m: Measured): Map[String, Double] =
    w match {
      case s: Serve =>
        val spans = h.tracer.spans.asScala.toSeq
        def jobsPer(prefix: String): Double = {
          val ops = m.samples.count(_.kind.startsWith(prefix))
          spans.count(j => j.name == "job" && j.op != null && j.op.startsWith(prefix)) /
            math.max(1, ops).toDouble
        }
        def med(prefix: String) =
          Stats.median(m.samples.filter(_.kind.startsWith(prefix)).map(_.serviceMs))
        Map("serve.read_service_ms" -> med("read"), "serve.write_service_ms" -> med("write"),
          "serve.queue_wait_ms" -> Stats.median(m.samples.map(x => x.latencyMs - x.serviceMs)),
          "serve.jobs_per_read" -> jobsPer("read"), "serve.jobs_per_write" -> jobsPer("write"),
          "serve.generator_lag_ms" -> Stats.median(m.samples.map(_.lagMs)),
          "serve.state_rows" -> s.stateRows.toDouble)
      case _ => Map.empty
    }

  /** Spans, their self times, the per-layer self-time totals and the raw
    * per-op counters of the traced phase, as one JSON file. */
  def writeSpans(h: Harness): String = {
    val self = h.tracer.selfTimes()
    val t0 = if (self.isEmpty) 0L else self.map(_._1.start).min
    val spans = self.sortBy(_._1.start).map { case (s, st) =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> st / 1e6)
    }
    val byLayer = self.groupBy(_._1.name).map { case (k, v) =>
      k -> Map("spans" -> v.size, "total_ms" -> v.map(x => x._1.end - x._1.start).sum / 1e6,
        "self_ms" -> v.map(_._2).sum / 1e6) }
    val perOp = h.tracer.counters.asScala.map { case (op, c) =>
      val (gap, inJob) = h.tracer.gapAndInJob(op)
      op -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1e6,
        "task_gc_ms" -> c.taskGcMs, "sched_delay_ms" -> c.schedDelayMs,
        "scan_rows" -> c.scanRows, "scan_bytes" -> c.scanBytes,
        "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
        "executions" -> c.executions, "analysis_ms" -> c.analysisMs,
        "optimizer_ms" -> c.optimizerMs, "planning_ms" -> c.planningMs,
        "exchanges" -> c.exchanges, "broadcast_exchanges" -> c.broadcastExchanges,
        "sort_merge_joins" -> c.sortMergeJoins, "nested_loop_joins" -> c.nestedLoopJoins,
        "in_job_ms" -> inJob / 1e6, "driver_gap_ms" -> gap / 1e6)
    }
    val file = h.work.resolve("trace.json")
    Files.writeString(file, Json(Map("layers" -> byLayer, "per_op" -> perOp,
      "spans" -> spans)) + "\n")
    file.getFileName.toString
  }
}
