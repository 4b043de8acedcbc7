package graftbench

import graft.functions.TextFunctions
import graft.plans.GridArgmin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The kernel pass: each public `functions`/`plans` kernel on a fixed-size
  * frame generated with `spark.range` and materialised first, so only the
  * kernel and the scan of the materialised frame are timed. Rows/s is the
  * median of three runs. */
object Kernels {
  val Rows = 50000L
  val Dim = 64; val M = 8; val Ksub = 16; val Sub = Dim / M

  private val vocab = ("a the spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row agg key query scan batch").split(" ")

  def run(h: Harness): Map[String, Double] = {
    val spark = h.spark
    // integer vectors in [-1000, 1000], text of 40 tokens, PQ codes in [0, ksub)
    def ivec(salt: Int): Column = transform(sequence(lit(0), lit(Dim - 1)),
      i => (((col("id") * 31 + i * 17 + salt) % 2001) - 1000).cast("long"))
    val words = array(vocab.map(lit).toIndexedSeq: _*)
    val base = spark.range(Rows).select(col("id"), ivec(0).as("qa"), ivec(7).as("qb"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          i => element_at(words, (((col("id") * 7 + i * 13) % vocab.length) + 1).cast("int"))))
          .as("text"),
        transform(sequence(lit(0), lit(M - 1)),
          j => ((col("id") + j * 5) % Ksub).cast("long")).as("codes"))
      .localCheckpoint()
    val withSh = base.select(col("*"), TextFunctions.shingles(col("text"), 3).as("sh"))
      .localCheckpoint()
    val r = new scala.util.Random(h.seed)
    val grid = (for (j <- 0 until M; c <- 0 until Ksub)
      yield ((j * Ksub + c).toLong, 1L, Array.fill(Sub)(r.nextInt(2001) - 1000L))).toArray
    def sel(df: DataFrame, c: Column): DataFrame = df.select(c)
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "l2sq" -> (() => sel(base, expr("graft_l2sq(qa, qb)"))),
      "dot" -> (() => sel(base, expr("graft_dot(qa, qb)"))),
      "topk" -> (() => base.groupBy(col("id") % 1000)
        .agg(expr("graft_topk(id, cast(qa[0] as double), 10, true)"))),
      "pqgrid" -> (() => base.agg(expr(s"graft_pq_grid_sums(qa, codes, $M, $Ksub, $Sub)"))),
      "argmin" -> (() => sel(base, GridArgmin.pqCodes(col("qa"), grid, M, Sub, Ksub, 1L))),
      "minhash" -> (() => sel(withSh, expr("graft_minhash(sh, 16)"))),
      "shingles" -> (() => sel(base, TextFunctions.shingles(col("text"), 3))),
      "simhash" -> (() => sel(base, expr("graft_simhash64(split(text, ' '))"))),
      "gram" -> (() => base.agg(expr("graft_gram(qa)"))))
    val out = kernels.map { case (name, df) =>
      val times = (1 to 3).map { _ =>
        val t = System.nanoTime()
        df().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      s"kernel.${name}_rows_per_s" -> Rows / Stats.median(times)
    }.toMap
    base.unpersist(); withSh.unpersist()
    out
  }
}
