package graftbench

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry
import graft.queries.Queries
import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `catalog`: a closed loop, one client, over a fixed list of gated keys
  * plus two persisted-search extras on a seeded sf0.01-shaped data set.
  * Each pass runs every op once in an order reshuffled from the seed, each
  * result sunk into the noop writer with its row count checked. Per-key
  * fixed cost (planning, codegen, job scheduling) dominates here. */
final class Catalog(h: Harness) extends Workload {
  type Fn = (SparkSession, String) => DataFrame
  private val dir = h.data
  private val stores = h.work.resolve("stores")
  private def idx(kind: String) = stores.resolve("graft_" + kind).toString
  private val extras: Seq[(String, Fn)] = Seq(
    "v7_search_persisted" -> ((s, d) => Queries.v7SearchPersisted(s, d, idx("ivfidx"))),
    "v13_search_persisted" -> ((s, d) => Queries.v13SearchPersisted(s, d, idx("pqidx"))))
  val ops: Seq[(String, Fn)] = Catalog.Keys.map(k => k -> SparkEntry.queries(k)) ++ extras
  private val expected = mutable.Map[String, Long]()

  def clearStores(): Unit = {
    h.deleteTree(stores); h.clearWarehouse(); Files.createDirectories(stores)
  }
  /** The extras build their index on first call, eagerly, inside the key
    * function; the search itself stays lazy and is not run here. */
  def buildStores(): Unit = extras.foreach { case (_, f) => f(h.spark, dir) }
  def storeBytes: Long = h.dirBytes(stores) + h.dirBytes(h.work.resolve("warehouse"))

  def warmUp(): Unit = {
    runOnce(write = true)
    // a second, untimed pass: after one call an op still runs partly
    // interpreted, which would make the first timed pass the slowest
    runOnce(write = false)
    // the extras share v7/v13's gated math and output
    val twins = Map("v7_search_persisted" -> "v7_ivf_search",
      "v13_search_persisted" -> "v13_ivfpq_search")
    val sql = ops.map(_._1).flatMap(k =>
      SparkEntry.oracleSql.get(twins.getOrElse(k, k)).map(k -> _)).toMap
    Files.writeString(h.work.resolve("check").resolve("oracle_sql.json"), Json(sql))
  }

  /** Run each op once, writing its output for `run.py`'s oracle compare
    * in `check/<op>` when `write`, else into the noop sink. Records the
    * row count each op must reproduce in the timed passes. */
  private def runOnce(write: Boolean): Unit = ops.foreach { case (name, fn) =>
    h.warmUpCalls += 1
    h.spark.sparkContext.setLocalProperty(h.tracer.OpProperty, name)
    try {
      val df = fn(h.spark, dir)
      val n = if (write) {
        val obs = Observation()
        df.observe(obs, count(lit(1)).as("n")).coalesce(1).write.mode("overwrite")
          .parquet(h.work.resolve("check").resolve(name).toString)
        obs.get("n").asInstanceOf[Long]
      } else h.noopCount(df)
      if (expected.get(name).exists(_ != n)) h.fail(name, s"warm-up rows $n != ${expected(name)}")
      else expected(name) = n
    } catch { case t: Throwable => h.fail(name, "warm-up: " + t.toString) }
    finally h.spark.sparkContext.setLocalProperty(h.tracer.OpProperty, null)
  }

  def measure(seconds: Double): Measured = {
    val samples = mutable.ArrayBuffer[Sample]()
    val passes = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    // whole passes only, so every run times the same op mix; another
    // pass starts only if it is expected to end near the deadline
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || elapsed + 0.5 * passes.last <= seconds) {
      val p0 = System.nanoTime()
      h.rng.shuffle(ops).foreach { case (name, fn) =>
        h.gcBetweenOps()
        samples += h.timed(name, name, System.nanoTime())(fn(h.spark, dir))(
          h.noopCount)(rows => expected.get(name).contains(rows))
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Measured(samples.toSeq, passes.toSeq, wall, samples.count(_.ok).toLong)
  }

  /** Each op's median over the passes, so one slow call does not move
    * the percentiles across ops. */
  private def perOpMedians(m: Measured): Seq[Double] =
    m.samples.groupBy(_.op).values.map(s => Stats.median(s.map(_.latencyMs))).toSeq

  override def e2e(m: Measured): Map[String, Double] = {
    val per = perOpMedians(m)
    Map("op_p50_ms" -> Stats.median(per), "op_p90_ms" -> Stats.quantile(per, 0.9),
      "ops_per_s" -> 1000.0 * per.size / per.sum)
  }

  def detail(m: Measured): Seq[(String, Double, String)] = {
    val keyS = perOpMedians(m).map(_ / 1e3)
    Seq(("pass_s", Stats.median(m.passSeconds), "s"),
      ("failed_share", m.samples.count(!_.ok).toDouble / m.samples.size, "ratio"),
      ("key_p50_s", Stats.quantile(keyS, 0.5), "s"),
      ("key_p90_s", Stats.quantile(keyS, 0.9), "s"),
      ("store_bytes_per_input_byte", h.setupStoreBytes.toDouble /
        h.inputBytes(Seq("embeddings")), "ratio"))
  }
}

object Catalog {
  /** The fixed key list, the same on every seed: vector, dedup, text,
    * relational and event keys whose DuckDB twins run in seconds. */
  val Keys: Seq[String] = Seq(
    "v1_knn_l2", "d2_minhash_pairs", "d3_simhash", "t5_top_terms",
    "q1_pricing_summary", "e2_sessionize")
}

/** `serve`: an open loop of small read and write requests against
  * maintained serving state, through graft's streaming batch functions.
  * One sender thread; requests follow a seeded, jittered schedule at a
  * fixed mean rate; latency runs from each request's due time. */
final class Serve(h: Harness) extends Workload {
  import Serve._
  private val spark = h.spark
  import spark.implicits._

  // serving state, rebuilt by every set-up
  private var book: Seq[graft.operators.PqIndex.Codebook] = Nil
  private var codes, vecs, edges, tombs: DataFrame = _
  private var g: DataFrame = _
  // driver-side mirror of what the state must hold
  private val ingested = mutable.Set[Long]()
  private val dead = mutable.Set[Long]()
  private var baseIds: Set[Long] = Set.empty
  private var heldOut: IndexedSeq[(Long, Seq[Double])] = IndexedSeq.empty
  private var doomed: IndexedSeq[Long] = IndexedSeq.empty
  // the previous write batch of each kind, part of which is re-sent
  private var lastIngest: Seq[(Long, Seq[Double])] = Nil
  private var lastDelete: Seq[Long] = Nil
  private var queries: IndexedSeq[(Long, Seq[Double])] = IndexedSeq.empty
  private var entryId = 0L
  private var nextIngest, nextDelete = 0

  def clearStores(): Unit = {
    Seq(codes, vecs, edges, tombs).filter(_ != null).foreach(_.unpersist(true))
    codes = null; vecs = null; edges = null; tombs = null
    ingested.clear(); dead.clear(); nextIngest = 0; nextDelete = 0
    lastIngest = Nil; lastDelete = Nil
  }

  /** Book, base PQ codes (ids not ≡ 0 mod 4), quantized vectors, the LSH
    * bucket-blocked 3-NN edge list, an empty tombstone set. */
  def buildStores(): Unit = {
    import graft.functions.VectorFunctions.{intL2Sq, quantize}
    import graft.operators.{LshIndex, PqIndex, TopK}
    val emb = Tables.embeddings(spark, h.data)
    g = emb.select(col("vec_id").cast("long").as("id"),
      transform(quantize(col("embedding")), x => x.cast("double")).as("qemb"))
    book = PqIndex.seededBook(g, "id", "qemb", Dim, M, Ksub)
    codes = PqIndex.encode(g.filter(col("id") % 4 =!= 0), "id", "qemb", Dim, M, book)
      .localCheckpoint()
    val planes = LshIndex.quantizePlanes(LshIndex.hyperplanes(dim = Dim, nPlanes = 6, seed = 42L))
    vecs = emb.select(col("vec_id").cast("long").as("id"), quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    val bv = vecs.withColumn("bucket", LshIndex.bucketKeyQ(col("qv"), planes))
    val scored = bv.as("x").join(bv.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("src_id"), col("y.id").as("dst_id"),
        intL2Sq(col("x.qv"), col("y.qv")).cast("double").as("d2"))
    edges = TopK.perGroup(scored, "src_id", "dst_id", "d2", k = 3, ascending = true)
      .select("src_id", "dst_id").localCheckpoint()
    tombs = Seq.empty[Long].toDF("dead_id").localCheckpoint()
    val raw = emb.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    baseIds = raw.map(_._1).filter(_ % 4 != 0).toSet
    heldOut = h.rng.shuffle(raw.filter(_._1 % 4 == 0).toIndexedSeq)
    queries = raw.filter(_._1 % 100 == 0).toIndexedSeq
    entryId = raw.head._1
    // the entry is the global min id and never deleted, so it stays the
    // min alive id the walk's entry rule asks for
    doomed = h.rng.shuffle(raw.map(_._1).filter(id => id % 7 == 0 && id != entryId).toIndexedSeq)
  }

  def storeBytes: Long = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum

  def stateRows: Long = codes.count() + edges.count() + tombs.count()

  private def queryBatch(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("query_id", "embedding")

  // one request of each kind; returns (op, build, sink, expected rows)
  private def request(kind: String): (() => DataFrame, DataFrame => Long, Long) = kind match {
    case "read_adc" =>
      val rows = Seq.fill(ReadBatch)(queries(h.rng.nextInt(queries.size))).distinctBy(_._1)
      val q = queryBatch(rows)
      val n = rows.size.toLong
      (() => StreamingOps.maintainedAdcServeBatch(q, codes, tombs, book, Dim, M, K),
        df => df.collect().length.toLong, n * K)
    case "read_walk" =>
      val rows = Seq.fill(ReadBatch)(queries(h.rng.nextInt(queries.size))).distinctBy(_._1)
      val q = queryBatch(rows)
      val n = rows.size.toLong
      (() => StreamingOps.tombBeamServeBatch(q, vecs, edges, tombs, entryId, Ef),
        df => df.collect().length.toLong, n * Ef)
    case "write_ingest" =>
      // fresh held-out vectors, plus the previous batch's ids ≡ 0 mod 3
      // re-sent: the ids StreamingSpec's maintained lifecycle delivers twice
      val fresh = (0 until WriteBatch).map(i => heldOut((nextIngest + i) % heldOut.size))
      nextIngest += WriteBatch
      val batch = fresh ++ lastIngest.filter(_._1 % 3 == 0)
      lastIngest = fresh
      val expectNew = batch.map(_._1).distinct.count(id => !ingested(id) && !baseIds(id))
      ingested ++= batch.map(_._1)
      val b = batch.toDF("vec_id", "embedding")
      (() => StreamingOps.ingestCodesBatch(b, codes, book, Dim, M),
        df => {
          val f = df.localCheckpoint()
          codes = codes.unionByName(f).localCheckpoint()
          f.count()
        }, expectNew.toLong)
    case "write_delete" =>
      // fresh ids ≡ 0 mod 7 (the lifecycle's delete set; some not yet
      // ingested), plus the previous batch's even ids re-sent: the
      // deletes StreamingSpec's lifecycles deliver twice
      val fresh = (0 until WriteBatch).map(i => doomed((nextDelete + i) % doomed.size))
      nextDelete += WriteBatch
      val ids = fresh ++ lastDelete.filter(_ % 2 == 0)
      lastDelete = fresh
      val expectNew = ids.distinct.count(id => !dead(id))
      dead ++= ids
      val b = ids.toDF("dead_id")
      (() => StreamingOps.tombstoneBatch(b, tombs),
        df => {
          val f = df.localCheckpoint()
          tombs = tombs.unionByName(f).localCheckpoint()
          f.count()
        }, expectNew.toLong)
  }

  /** The seeded arrival schedule: a whole number of request-kind cycles
    * (reads:writes 3:1, the same mix on every seed), due at `RatePerS`
    * with each arrival jittered by up to a twentieth of the gap. */
  private def schedule(seconds: Double): Seq[(Long, String)] = {
    val n = Cycle.size * math.max(1, math.round(seconds * RatePerS / Cycle.size).toInt)
    (0 until n).map { i =>
      val t = (i + 0.5 + 0.1 * (h.rng.nextDouble() - 0.5)) / RatePerS
      (t * 1e9).toLong -> Cycle(i % Cycle.size)
    }
  }

  def warmUp(): Unit =
    Seq("read_adc", "read_walk", "write_ingest", "write_delete", "read_walk",
      "read_adc").foreach { k =>
      h.warmUpCalls += 1
      val (build, sink, exp) = request(k)
      h.timed("warmup_" + k, k, System.nanoTime())(build())(sink)(_ == exp)
    }

  def measure(seconds: Double): Measured = {
    val plan = schedule(seconds)
    val t0 = System.nanoTime()
    val samples = plan.map { case (offset, kind) =>
      val due = t0 + offset
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val (build, sink, exp) = request(kind)
      h.timed(kind, kind, due)(build())(sink)(_ == exp)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Measured(samples, Nil, wall,
      samples.count(s => s.ok && s.latencyMs <= LatencyLimitMs).toLong)
  }

  /** The streamed state must serve exactly what a batch rebuild serves
    * (StreamingSpec's lifecycle equality), for the whole query set:
    * ADC over codes re-encoded from the alive vectors, and the v108
    * tombstone walk replayed on the driver over the final (vectors, edges,
    * tombstones), sharing no code with `tombBeamServeBatch`. */
  override def finalCheck(): Map[String, Boolean] = {
    import graft.operators.PqIndex
    // first finish the lifecycle, untimed: every held-out vector arrives
    // and every id ≡ 0 mod 7 but the entry is deleted (re-sending what the
    // run sent), so the checks meet StreamingSpec's final state, a seventh
    // of the ids dead, where the walk's bypass is exercised
    val newCodes = StreamingOps.ingestCodesBatch(heldOut.toDF("vec_id", "embedding"),
      codes, book, Dim, M).localCheckpoint()
    codes = codes.unionByName(newCodes).localCheckpoint()
    val ingestOk = newCodes.count() == heldOut.count(v => !ingested(v._1))
    ingested ++= heldOut.map(_._1)
    val newTombs = StreamingOps.tombstoneBatch(doomed.toDF("dead_id"), tombs).localCheckpoint()
    tombs = tombs.unionByName(newTombs).localCheckpoint()
    val deleteOk = newTombs.count() == doomed.count(id => !dead(id))
    dead ++= doomed

    val allQ = queryBatch(queries)
    val alive = (baseIds ++ ingested) -- dead
    val served = StreamingOps.maintainedAdcServeBatch(allQ, codes, tombs, book, Dim, M, K)
      .as[(Long, Long, Long, Double)].collect().toSet
    val rebuilt = PqIndex.encode(g.join(alive.toSeq.toDF("id"), "id"), "id", "qemb",
      Dim, M, book)
    val expect = StreamingOps.adcServeBatch(allQ, rebuilt, book, Dim, M, K)
      .as[(Long, Long, Long, Double)].collect().toSet

    val walked = StreamingOps.tombBeamServeBatch(allQ, vecs, edges, tombs, entryId, Ef)
      .select("query_id", "rnk", "node_id").as[(Long, Long, Long)].collect().toSet
    val tombSet = tombs.as[Long].collect().toSet
    Map("serve_final_ingest_rows" -> ingestOk, "serve_final_delete_rows" -> deleteOk,
      "serve_final_adc_state" -> (served == expect && expect.nonEmpty),
      "serve_final_tombstones" -> (tombSet == dead.toSet),
      "serve_final_walk_state" -> (walked == replayWalk(tombSet) && walked.nonEmpty))
  }

  /** v108's walk on the driver: from the min alive id, `steps` rounds of
    * frontier ∪ neighbours ∪ the neighbours of dead neighbours (one-hop
    * bypass), dead nodes dropped, the `Ef` nearest kept, ties by id. */
  private def replayWalk(dead: Set[Long], steps: Int = 3): Set[(Long, Long, Long)] = {
    import graft.functions.VectorFunctions.quantize
    val qv = vecs.as[(Long, Seq[Long])].collect().toMap
    val adj = edges.as[(Long, Long)].collect().groupMap(_._1)(_._2)
      .withDefaultValue(Array.empty[Long])
    val qs = queryBatch(queries).select(col("query_id"), quantize(col("embedding")))
      .as[(Long, Seq[Long])].collect()
    val entry = qv.keySet.filterNot(dead).min
    def d2(a: Seq[Long], b: Seq[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    qs.toSeq.flatMap { case (qid, q) =>
      var frontier = Set(entry)
      var ranked: Seq[Long] = Nil
      for (_ <- 1 to steps) {
        val nbrs = frontier.flatMap(adj(_))
        val bypass = nbrs.filter(dead).flatMap(adj(_))
        ranked = (frontier ++ nbrs ++ bypass).filterNot(dead).toSeq
          .map(n => (d2(qv(n), q), n)).sorted.take(Ef).map(_._2)
        frontier = ranked.toSet
      }
      ranked.zipWithIndex.map { case (n, i) => (qid, i + 1L, n) }
    }.toSet
  }

  def detail(m: Measured): Seq[(String, Double, String)] = {
    val reads = m.samples.filter(_.kind.startsWith("read"))
    val writes = m.samples.filter(_.kind.startsWith("write"))
    def q(xs: Seq[Sample], p: Double) = Stats.quantile(xs.map(_.latencyMs), p)
    Seq(("read_p50_ms", q(reads, 0.5), "ms"), ("read_p90_ms", q(reads, 0.9), "ms"),
      ("write_p50_ms", q(writes, 0.5), "ms"), ("write_p90_ms", q(writes, 0.9), "ms"),
      ("goodput_rps", m.goodOps / m.wallSeconds, "req/s"),
      ("failed_share", m.samples.count(!_.ok).toDouble / m.samples.size, "ratio"),
      ("offered_rps", RatePerS, "req/s"), ("latency_limit_ms", LatencyLimitMs, "ms"),
      ("reads", reads.size.toDouble, "count"), ("writes", writes.size.toDouble, "count"),
      ("generator_lag_p50_ms", Stats.quantile(m.samples.map(_.lagMs), 0.5), "ms"),
      ("generator_lag_max_ms", if (m.samples.isEmpty) 0.0 else m.samples.map(_.lagMs).max, "ms"))
  }
}

object Serve {
  val Dim = 64; val M = 8; val Ksub = 16; val K = 5; val Ef = 4
  /** Rows a request carries: 8 queries a read, and as many vectors or
    * ids a write, so every request is the same size. */
  val ReadBatch = 8; val WriteBatch = 8
  val Cycle = Seq("read_walk", "read_adc", "read_adc", "write_ingest",
    "read_walk", "read_adc", "write_delete", "read_adc")
  /** Offered load: about a third of one sender's measured capacity; the
    * README has the measurements and why the load is not higher. */
  val RatePerS = 0.45
  /** Latency limit on a request, from its due time. */
  val LatencyLimitMs = 4000.0
}
