package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share `op`; `parent` names the
  * span that caused this one (0 for the run root). Times are
  * System.nanoTime on the driver. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Long, var end: Long)

/** One finished query execution, not yet attributed to an op. */
final case class Execution(startNs: Long, analysisMs: Long, optimizerMs: Long,
                           planningMs: Long, exchanges: Long, broadcasts: Long,
                           smj: Long, nlj: Long)

/** Per-op counters gathered from Spark's listener buses. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs, schedDelayMs = 0L
  var scanRows, scanBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var executions = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  var exchanges, broadcastExchanges, sortMergeJoins, nestedLoopJoins = 0L
}

/** The benchmark's tracer. It observes graft only from outside: a
  * SparkListener (jobs, stages, tasks, shuffle), a QueryExecutionListener
  * (Catalyst phase times and executed-plan shape), the static
  * CodegenMetrics histograms and the JVM's management beans. The op
  * currently running is passed to Spark as the local property
  * `graft.op`, so jobs started eagerly inside a key function (local
  * checkpoints, bounded collects) are charged to the op that caused them.
  * Listeners are attached only while tracing is on. */
final class Tracer(spark: SparkSession) {
  val OpProperty = "graft.op"
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, OpCounters]()
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val lastEvent = new AtomicLong(System.nanoTime())
  @volatile var on = false

  private def ctr(op: String): OpCounters =
    counters.computeIfAbsent(if (op == null) "(none)" else op, _ => new OpCounters)

  // Monotonic driver clock and the listener bus's wall clock, paired
  // once so job event times (epoch ms) map onto span times (nanos).
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def epochToNano(ms: Long): Long = ms * 1000000L + nanoAtEpoch

  // The span stack of the single driver thread that calls into graft.
  private var stack: List[Span] = Nil

  /** Open a span under the current one and make it current. */
  def open(name: String, op: String): Span = {
    val s = Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
      name, op, System.nanoTime(), -1L)
    if (on) spans.add(s)
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }

  /** Run `body` inside a span named `name`, attributing Spark work to `op`. */
  def span[T](name: String, op: String)(body: => T): T = {
    val s = open(name, op)
    try body finally close(s)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      val op = Option(e.properties).map(_.getProperty(OpProperty)).orNull
      // parent is resolved from the span intervals once tracing stops
      val s = Span(ids.incrementAndGet(), -1L, "job", op, epochToNano(e.time), -1L)
      jobSpans.put(e.jobId, s)
      e.stageIds.foreach(id => stageOp.put(id, if (op == null) "(none)" else op))
      ctr(op).synchronized { ctr(op).jobs += 1; ctr(op).stages += e.stageIds.size }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      Option(jobSpans.remove(e.jobId)).foreach { s =>
        s.end = epochToNano(e.time); spans.add(s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val m = e.taskMetrics
      if (m == null) return
      val c = ctr(stageOp.get(e.stageId))
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.scanRows += m.inputMetrics.recordsRead
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  private val executions = new ConcurrentLinkedQueue[Execution]()

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def count(p: SparkPlan)(f: PartialFunction[SparkPlan, Boolean]): Long =
      collectWithSubqueries(p) { case n if f.isDefinedAt(n) && f(n) => 1 }.size.toLong
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEvent.set(System.nanoTime())
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).filter(_ > 0).reduceOption(_ min _)
        .map(epochToNano).getOrElse(System.nanoTime() - durationNs)
      val plan = qe.executedPlan
      executions.add(Execution(start, ms("analysis"), ms("optimization"), ms("planning"),
        count(plan) { case _: ShuffleExchangeLike => true },
        count(plan) { case _: BroadcastExchangeLike => true },
        count(plan) { case _: SortMergeJoinExec => true },
        count(plan) { case _: BroadcastNestedLoopJoinExec => true }))
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Charge each execution to the op whose span was open when its
    * planning started (the listener runs on Spark's bus thread, after the
    * fact, so the op is found by time). */
  private def attributeExecutions(): Unit = {
    val ops = spans.asScala.toSeq.filter(s => s.name == "op" && s.end >= 0)
    executions.asScala.foreach { x =>
      val op = ops.find(o => o.start <= x.startNs && x.startNs <= o.end).map(_.op).orNull
      val c = ctr(op)
      c.synchronized {
        c.executions += 1
        c.analysisMs += x.analysisMs; c.optimizerMs += x.optimizerMs
        c.planningMs += x.planningMs; c.exchanges += x.exchanges
        c.broadcastExchanges += x.broadcasts; c.sortMergeJoins += x.smj
        c.nestedLoopJoins += x.nlj
      }
    }
    executions.clear()
  }

  def start(): Unit = {
    on = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach the listeners after the bus has delivered every event of the
    * traced phase (no event for 300 ms, at most 10 s). */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent.get() < 300000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    on = false
    resolveJobParents()
    attributeExecutions()
  }

  /** Parent each job under the innermost span of its op that was open
    * when the job started. */
  private def resolveJobParents(): Unit = {
    val byOp = spans.asScala.toSeq.filter(s => s.name != "job" && s.end >= 0)
      .groupBy(_.op)
    spans.asScala.foreach { j =>
      if (j.name == "job" && j.parent < 0) {
        val enclosing = byOp.getOrElse(j.op, Nil)
          .filter(s => s.start <= j.start && j.start <= s.end)
        val p = if (enclosing.isEmpty) 0L else enclosing.maxBy(_.start).id
        spans.remove(j)
        spans.add(j.copy(parent = p))
      }
    }
  }

  /** Total length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** A span's self time: its duration minus the part of its interval its
    * children cover. Returns (span, selfNs) for every closed span. */
  def selfTimes(): Seq[(Span, Long)] = {
    val all = spans.asScala.toSeq.filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
      s -> math.max(0L, (s.end - s.start) - covered(iv))
    }
  }

  /** Time inside an op's span that no Spark job covers: driver-side
    * planning, codegen, result handling and scheduling gaps. */
  def gapAndInJob(op: String): (Long, Long) = {
    val all = spans.asScala.toSeq.filter(s => s.op == op && s.end >= 0)
    val opSpans = all.filter(_.name == "op")
    val jobs = all.filter(_.name == "job").map(j => (j.start, j.end))
    val wall = opSpans.map(s => s.end - s.start).sum
    val inJob = opSpans.map { o =>
      covered(jobs.map { case (a, b) => (math.max(a, o.start), math.min(b, o.end)) }
        .filter { case (a, b) => b > a })
    }.sum
    (wall - inJob, inJob)
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Heap in use after full collections: what the run holds live. A
    * collection only lets Spark's ContextCleaner drop the cached blocks of
    * frames no longer referenced, so collect again, after a pause for the
    * cleaner, until the heap stops shrinking. */
  def liveHeapMb: Double = {
    def usedAfterGc() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = usedAfterGc()
    var rounds = 1
    var cur = { Thread.sleep(100); usedAfterGc() }
    while (cur < last - 1.0 && rounds < 8) {
      last = cur; rounds += 1
      Thread.sleep(100); cur = usedAfterGc()
    }
    math.min(cur, last)
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Codegen compiles so far and their estimated total time: the count is
    * exact; the time is the count times the histogram's sampled mean. */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
