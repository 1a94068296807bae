package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel micro-bench of the traced run: rows per second of each
  * native kernel over a generated column, with whole-stage codegen on.
  * The expression kernels are reached only through the SQL names the
  * `graft.GraftExtensions` session extension registers, and the top-k
  * aggregate through `TopKRows`, its column function (which is why
  * this one file sits inside the `graft` package). Each kernel's
  * output feeds an aggregate, so none of it can be pruned. */
object KernelBench {
  private def vec(dim: Int, salt: Int): Column =
    transform(sequence(lit(1), lit(dim)), i =>
      ((xxhash64(col("id"), i, lit(salt)) % 1000) / 1000.0).cast("float"))

  private def hashes(n: Int): Column =
    transform(sequence(lit(1), lit(n)), i => xxhash64(col("id"), i))

  /** A bounded per-row digest, so summing it cannot overflow. */
  private def digest(c: Column): Column = pmod(xxhash64(c), lit(1000003L))

  private def timed(rows: Long, df: DataFrame, reps: Int = 3): Double = {
    df.collect()
    val ts = (1 to reps).map { _ =>
      val t = System.nanoTime(); df.collect(); (System.nanoTime() - t) / 1e9 }
    rows / ts.sorted.apply(reps / 2)
  }

  def run(spark: SparkSession, nproc: Int): Map[String, Double] = {
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    def input(rows: Long, cols: (String, Column)*): DataFrame = {
      val df = cols.foldLeft(spark.range(0, rows, 1, nproc).toDF()) {
        case (d, (n, c)) => d.withColumn(n, c) }.cache()
      df.foreach(_ => ())
      df
    }
    val nVec = 100000L
    val vecs = input(nVec, "a" -> vec(64, 1), "b" -> vec(64, 2))
    val nSets = 50000L
    val sets = input(nSets, "hs" -> hashes(40))
    val nTop = 400000L
    val scored = input(nTop, "q" -> (col("id") % 64),
      "score" -> (xxhash64(col("id")) % 100000).cast("double"))
    val out = Map(
      "kernel.cosine_similarity.rows_per_s" -> timed(nVec,
        vecs.agg(sum(expr("cosine_similarity(a, b)")))),
      "kernel.hyperplane_buckets.rows_per_s" -> timed(nVec,
        vecs.agg(sum(digest(expr("hyperplane_buckets(a, 4, 8)"))))),
      "kernel.minhash_sig.rows_per_s" -> timed(nSets,
        sets.agg(sum(digest(expr("minhash_sig(hs, 64)"))))),
      "kernel.simhash.rows_per_s" -> timed(nSets,
        sets.agg(sum(digest(expr("simhash(hs)"))))),
      "kernel.topk_rows.rows_per_s" -> timed(nTop,
        scored.groupBy("q").agg(graft.ops.TopKRows(10, col("id"), col("score")).as("t"))
          .agg(sum(digest(col("t"))))))
    Seq(vecs, sets, scored).foreach(_.unpersist())
    out
  }
}
