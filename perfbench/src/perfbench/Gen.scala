package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded input generator.
  *
  * A ×1 base table is drawn from the seed, then grown ×K with the
  * structure-preserving rules of `graft.ScaleCheck`: replicas of
  * documents get disjoint token universes (every token suffixed
  * `_r`), replicas of embeddings a ±1 diagonal sign flip (orthogonal,
  * so intra-replica cosines are kept and replicas decorrelate), and
  * every replica shifts its ids into a disjoint range. The seed also
  * draws the choices a workload varies per run: which rows are
  * corrupted, how vec_ids are relabelled, the arrival order and the
  * request mix. The same seed always gives the same inputs. */
object Gen {
  val vocab: IndexedSeq[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort order " +
    "slow line part fast row the agg key query a scan batch").split(" ").toIndexedSeq
  val langs: IndexedSeq[String] = IndexedSeq("en", "de", "es", "fr", "zh")
  val eventTypes: IndexedSeq[String] = IndexedSeq("signup", "click", "error", "view", "purchase")
  val dim = 64
  val replicaIdShift = 10000000L

  /** Share of `events` rows whose `props` is not valid JSON. */
  val corruptFrac = 0.02

  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  private def words(rng: Random, n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  /** `n` documents with the measured shape of the repository's sf0.1
    * `documents` table (5000 rows): 10-100 tokens, uniform, over the
    * same 30-word vocabulary; lang en 41%, de, es, fr and zh 15% each;
    * source `src(i mod 20)`, src0 the benchmark source; 5% of the rows
    * replaced by another row's text plus " dup" (a near-duplicate whose
    * original may come before or after it, or be replaced itself) and
    * 0.16% by an exact copy of another row. */
  def docs(rng: Random, n: Int, idBase: Long = 0L): IndexedSeq[Doc] = {
    val base = Array.fill(n)(words(rng, 10 + rng.nextInt(91)))
    val text = base.clone()
    val slots = rng.shuffle((0 until n).toIndexedSeq)
    val near = math.round(n * 0.05).toInt
    val exact = math.max(1, math.round(n * 0.0016).toInt)
    def other(i: Int): Int = { val j = rng.nextInt(n - 1); if (j >= i) j + 1 else j }
    slots.take(near).foreach(i => text(i) = base(other(i)) + " dup")
    slots.slice(near, near + exact).foreach(i => text(i) = base(other(i)))
    (0 until n).map { i =>
      val u = rng.nextDouble()
      val lang = if (u < 0.41) "en" else langs(1 + math.min(3, ((u - 0.41) / 0.1475).toInt))
      Doc(idBase + i, text(i), lang, s"src${i % 20}")
    }
  }

  def docsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.doc_id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      schema)
  }

  def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(r * replicaIdShift))
        .withColumn("text", concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
          w => concat(w, lit(s"_$r")))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionAll _)

  /** Unit vectors drawn isotropically (normalised 64-dim Gaussians) with
    * labels uniform over 0-9: the measured shape of the sf0.1
    * `embeddings` table (2000 rows), which has no cluster structure
    * (mean vector norm 0.02, flat singular spectrum; nearest-neighbour
    * cosine p5/p50/p95 0.36/0.41/0.47; label shares 9-11%). vec_ids are
    * relabelled by a seeded permutation: the search queries are the
    * vectors with the smallest ids, so the relabel redraws them. */
  def embeddings(spark: SparkSession, rng: Random, n: Int, k: Int): DataFrame = {
    val perm = rng.shuffle((0 until n).toIndexedSeq)
    val rows = (0 until n).map { i =>
      val v = unit(Array.fill(dim)(rng.nextGaussian()))
      Row(perm(i).toLong, v.map(_.toFloat).toSeq, rng.nextInt(10))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val base = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    (0 until k).map { r =>
      if (r == 0) base
      else base
        .withColumn("vec_id", col("vec_id") + lit(r * replicaIdShift))
        .withColumn("embedding", transform(col("embedding"), (v, i) =>
          when(pmod(xxhash64(i, lit(r)), lit(2)) === 0, -v).otherwise(v)))
    }.reduce(_ unionAll _)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `events` rows with the measured shape of the sf0.1 `events` table
    * (100000 rows): one user per 66.7 events, drawn uniformly; five
    * event types, uniform; `value` exponential with mean 50, to cents;
    * `props` `{"k": N}` with N uniform over 0-99; timestamps rising with
    * event_id by exponential gaps of mean 25.92 s, to the microsecond.
    * Exactly `corruptFrac` of the rows, seed-chosen, carry a truncated
    * JSON `props` (the sf0.1 table has none: this is the error channel's
    * load). Replicas shift user_id and event_id into disjoint ranges and
    * keep timestamps. */
  def events(spark: SparkSession, rng: Random, n: Int, k: Int): DataFrame = {
    val users = math.max(1, math.round(n / 66.7).toInt)
    val bad = rng.shuffle((0 until n).toIndexedSeq).take(math.round(n * corruptFrac).toInt).toSet
    var us = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    def exp(mean: Double): Double = -mean * math.log(1.0 - rng.nextDouble())
    val rows = (0 until n).map { i =>
      us += math.round(exp(25.92e6))
      val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      val kv = rng.nextInt(100)
      val props = if (bad(i)) s"""{"k": $kv""" else s"""{"k": $kv}"""
      Row(i.toLong, ts, rng.nextInt(users).toLong, eventTypes(rng.nextInt(eventTypes.size)),
        math.round(exp(50.0) * 100) / 100.0, props)
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val base = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    (0 until k).map { r =>
      if (r == 0) base
      else base
        .withColumn("user_id", col("user_id") + lit(r * replicaIdShift))
        .withColumn("event_id", col("event_id") + lit(r * 1000000000L))
    }.reduce(_ unionAll _)
  }

  def write(df: DataFrame, dir: String, table: String, files: Int): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$table.parquet")
}
