package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One measured call into graft. `latencyMs` runs from the op's due time
  * (its start, in a closed loop), `serviceMs` from its actual start. */
final case class Sample(op: String, kind: String, latencyMs: Double,
                        serviceMs: Double, buildMs: Double, sinkMs: Double,
                        ok: Boolean, lagMs: Double = 0.0)

/** What a workload's timed phase produced: every sample, the wall time of
  * each whole pass (closed loops), the phase's wall time, and the ops that
  * count towards throughput. */
final case class Measured(samples: Seq[Sample], passSeconds: Seq[Double],
                          wallSeconds: Double, goodOps: Long)

/** Harness entry point: builds one graft session, sets up the workload's
  * stores, warms up and checks outputs, then measures. Writes
  * `result.json` into the work directory; `run.py` turns it into the
  * benchmark's result line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val h = new Harness(spark, work, a("data"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", cores, sessionMs / 1e3)
    val out = mutable.LinkedHashMap[String, Any]("session_start_ms" -> sessionMs)
    val code = try {
      a("workload") match {
        case "catalog" => h.run(new Catalog(h), out)
        case "serve" => h.run(new Serve(h), out)
        // a class-loading pass used to build the JVM's class data archive
        case "train" => Seq(new Catalog(h), new Serve(h)).foreach(w =>
          scala.util.Try { w.clearStores(); w.buildStores(); w.warmUp() })
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      0
    } finally {
      Files.writeString(work.resolve("result.json"), Json(out) + "\n")
      spark.stop()
    }
    sys.exit(code)
  }

  /** The production session factory with the benchmark's overrides named
    * explicitly: local master on every core, shuffle partitions = cores,
    * no UI, and every path Spark writes kept inside the work directory.
    * The periodic ContextCleaner GC is pushed out; the harness runs the
    * same System.gc() between ops instead, never inside a timed call. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = GraftSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(s)
    s
  }
}

/** A workload: its stores, its warm-up and output check, and its
  * measured loop. */
trait Workload {
  /** Delete every store the workload owns. */
  def clearStores(): Unit
  /** Build the stores from scratch (one set-up). */
  def buildStores(): Unit
  /** Bytes the built stores hold. */
  def storeBytes: Long
  /** Run every op once, record expected row counts, write check outputs. */
  def warmUp(): Unit
  /** Measure for `seconds`. */
  def measure(seconds: Double): Measured
  /** Checks after the timed phase: check name -> passed. */
  def finalCheck(): Map[String, Boolean] = Map.empty
  /** The end-to-end metrics every workload reports, from its samples:
    * latency percentiles over all calls and completed calls per second. */
  def e2e(m: Measured): Map[String, Double] = {
    val lat = m.samples.map(_.latencyMs)
    Map("op_p50_ms" -> Stats.median(lat), "op_p90_ms" -> Stats.quantile(lat, 0.9),
      "ops_per_s" -> m.goodOps / m.wallSeconds)
  }
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def detail(m: Measured): Seq[(String, Double, String)]
}

final class Harness(val spark: SparkSession, val work: Path, val data: String,
                    val seed: Long, val seconds: Double, val trace: Boolean,
                    val cores: Int, val sessionStartS: Double) {
  val tracer = new Tracer(spark)
  val rng = new scala.util.Random(seed)
  private var lastGc = System.nanoTime()
  val failures = mutable.LinkedHashMap[String, String]()
  /** Bytes the stores held right after set-up, before warm-up added any. */
  var setupStoreBytes = 0L
  /** Calls into graft made by the warm-up, which checks them too. */
  var warmUpCalls = 0

  /** The same reclamation the periodic cleaner would do, between ops. */
  def gcBetweenOps(): Unit =
    if ((System.nanoTime() - lastGc) / 1e9 > 20.0) {
      System.gc(); lastGc = System.nanoTime()
    }

  def fail(op: String, why: String): Unit =
    if (!failures.contains(op)) failures(op) = why.take(300)

  /** Sink a frame into the noop writer (every column materialised, output
    * discarded) and return its row count, observed on the way through. */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Time one call into graft: `build` is the key function (planning, and
    * any jobs it runs eagerly), `sink` the action on its result. */
  def timed(op: String, kind: String, due: Long)(build: => DataFrame)(
      sink: DataFrame => Long)(ok: Long => Boolean): Sample = {
    spark.sparkContext.setLocalProperty(tracer.OpProperty, op)
    val start = System.nanoTime()
    val s = tracer.open("op", op)
    var b = 0L; var e = 0L
    val good = try {
      val df = tracer.span("build", op)(build)
      b = System.nanoTime()
      val rows = tracer.span("sink", op)(sink(df))
      e = System.nanoTime()
      val pass = ok(rows)
      if (!pass) fail(op, s"row count $rows differs from the checked count")
      pass
    } catch {
      case t: Throwable =>
        e = System.nanoTime(); if (b == 0) b = e
        fail(op, t.toString); false
    } finally {
      tracer.close(s)
      spark.sparkContext.setLocalProperty(tracer.OpProperty, null)
    }
    Sample(op, kind, (e - due) / 1e6, (e - start) / 1e6, (b - start) / 1e6,
      (e - b) / 1e6, good, math.max(0.0, (start - due) / 1e6))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)

  def inputBytes(tables: Seq[String]): Long =
    tables.map(t => dirBytes(Paths.get(data, s"$t.parquet"))).sum

  /** Drop every table in the benchmark's own warehouse and its files. */
  def clearWarehouse(): Unit = {
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    deleteTree(work.resolve("warehouse"))
  }

  /** Set-up (`setup_s`) is session start, the median of three store
    * builds (clear, build; the first also pays the cold JVM and codegen)
    * and the warm-up. */
  def run(w: Workload, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val builds = (1 to 3).map { _ =>
      w.clearStores()
      val t = System.nanoTime(); w.buildStores(); (System.nanoTime() - t) / 1e9
    }
    out("setup_runs_s") = builds
    setupStoreBytes = w.storeBytes
    out("store_bytes") = setupStoreBytes
    // warm-up: every op once on the built stores, outputs checked
    val tw = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - tw) / 1e9
    out("warmup_s") = warmUpS
    out("setup_s") = sessionStartS + Stats.median(builds) + warmUpS
    val warmUpFailed = failures.size
    // a traced run measures half untraced (its end-to-end figures) and half
    // traced (its per-layer figures); both halves' calls are checked
    var tracedSamples = Seq.empty[Sample]
    val measured = if (!trace) w.measure(seconds) else {
      val plain = w.measure(seconds / 2)
      val (c0, ms0) = Jvm.codegen
      val gc0 = Jvm.gcMs
      tracer.start()
      val traced = tracer.span("run", "(run)")(w.measure(seconds / 2))
      tracer.stop()
      tracedSamples = traced.samples
      val (c1, ms1) = Jvm.codegen
      out("layers") = Layers(this, w, traced, c1 - c0, ms1 - ms0, Jvm.gcMs - gc0)
      out("overhead") = {
        val a = w.e2e(plain); val b = w.e2e(traced)
        a.map { case (k, v) => k -> (b(k) / v - 1.0) }
      }
      out("spans_file") = Layers.writeSpans(this)
      out("kernels") = Kernels.run(this)
      plain
    }
    out("live_heap_mb") = Jvm.liveHeapMb
    val tc = System.nanoTime()
    val late = w.finalCheck()
    out("final_check_s") = (System.nanoTime() - tc) / 1e9
    late.foreach { case (n, ok) => if (!ok) fail(n, "final state check failed") }
    out("e2e") = w.e2e(measured)
    out("detail") = w.detail(measured).map { case (n, v, u) => Seq(n, v, u) }
    // attempted: warm-up calls, timed calls and final checks
    val calls = measured.samples ++ tracedSamples
    out("attempted") = warmUpCalls + calls.size + late.size
    out("failed") = warmUpFailed + calls.count(!_.ok) + late.count(!_._2)
    out("failures") = failures.toMap
    out("peak_rss_mb") = Jvm.peakRssMb
    out("codegen_compiles_total") = Jvm.codegen._1
    out("codegen_compile_ms_total") = Jvm.codegen._2
    out("jvm_gc_ms_total") = Jvm.gcMs
    out("heap_after_gc_mb") = Jvm.heapAfterGcMb
    Files.writeString(work.resolve("samples.json"), Json(measured.samples.map(s =>
      Map("op" -> s.op, "kind" -> s.kind, "latency_ms" -> s.latencyMs,
        "service_ms" -> s.serviceMs, "build_ms" -> s.buildMs, "sink_ms" -> s.sinkMs,
        "ok" -> s.ok, "lag_ms" -> s.lagMs))) + "\n")
  }
}

/** Order statistics of the harness's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the harness's own result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => apply(o.toString)
  }
}
