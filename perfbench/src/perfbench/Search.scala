package perfbench

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable
import scala.util.Random

final case class Request(label: Int, nQueries: Int, k: Int)

/** `search`: one client, closed loop. Each request is a filtered top-k
  * over the persisted trained IVF index, with label, query count and k
  * drawn by the seed. Codebook and index builds are set-up. Rows are
  * checked against the label filter and k; recall is the overlap with
  * the exact `Similarity.filteredTopK` of the same request. */
final class Search(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  private val spark = ctx.spark
  private val dir = ctx.dataDir
  private val baseVecs = 2000
  private val k = 2
  private val maxQ = 64
  private val maxK = 10

  Gen.write(Gen.embeddings(spark, new Random(ctx.seed), baseVecs, k), dir, "embeddings", ctx.nproc)
  spark.conf.set("graft.neardup.n", (baseVecs.toLong * k).toString)
  val inputRows: Long = baseVecs.toLong * k

  /** The seeded request mix, in complementary pairs (query counts q and
    * 65 − q, k and 11 − k), so every whole number of pairs asks the same
    * mean work. Pair j draws q inside the eighth of 1..64 that a fixed
    * bit-reversal order assigns it, so even the few pairs of one window
    * spread over the whole range. */
  private val requests: IndexedSeq[Request] = {
    val rng = new Random(ctx.seed * 7919 + 1)
    val strata = IndexedSeq(0, 4, 2, 6, 1, 5, 3, 7)
    (0 until 2048).flatMap { j =>
      val q = strata(j % 8) * (maxQ / 8) + 1 + rng.nextInt(maxQ / 8)
      val kk = 1 + rng.nextInt(maxK)
      Seq(Request(rng.nextInt(10), q, kk), Request(rng.nextInt(10), maxQ + 1 - q, maxK + 1 - kk))
    }
  }

  /** The row check's reference, read with the inputs. */
  private val labelOf: Map[Long, Int] =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Per answered request: request and (q_id → ranked c_ids). */
  private val answers = mutable.ArrayBuffer.empty[(Request, Map[Long, Seq[Long]])]
  private var badRows = 0L
  private val scanRows = mutable.ArrayBuffer.empty[Double]
  private val filesRead = mutable.ArrayBuffer.empty[Double]

  override def build(): Unit = {
    ctx.span("artifacts", "Similarity.ensureCodebook")(Similarity.ensureCodebook(spark, dir))
    ctx.span("artifacts", "Similarity.ensureTrainedIvfIndex")(
      Similarity.ensureTrainedIvfIndex(spark, dir))
  }

  private def ask(r: Request): (DataFrame, Map[Long, Seq[Long]]) = {
    val df = Similarity.ivf2TopKTrainedFiltered(spark, dir, r.label, r.nQueries, r.k)
    val rows = df.collect()
    (df, rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("c_id")).toSeq })
  }

  /** Two pairs: after them a request's time no longer falls as the JIT
    * compiles the planning code. */
  val warmupOps = 4
  /** Warm-up draws its requests from the second half of the mix, so
    * its answers add distinct requests to the recall sample. */
  private var first = 0
  private val warmAnswers = mutable.ArrayBuffer.empty[(Request, Map[Long, Seq[Long]])]
  override def warmup(): Unit = {
    first = requests.size / 2
    try super.warmup() finally first = 0
    warmAnswers ++= answers
    answers.clear()
  }

  def op(i: Int): Op = {
    val r = requests((first + i) % requests.size)
    val (df, got) = ctx.span("similarity", "Similarity.ivf2TopKTrainedFiltered")(ask(r))
    if (ctx.tracer.enabled && ctx.tracer.active) planMetrics(df, r)
    // every row answers a requested query, within k, under the label filter
    val ok = got.forall { case (q, cs) =>
      q >= 0 && q < r.nQueries && cs.size <= r.k && cs.forall(c => labelOf(c) == r.label) }
    if (ok) answers += r -> got else badRows += 1
    Op(r.nQueries, ok)
  }

  /** Rows out of the index scan and files read, from the executed plan. */
  private def planMetrics(df: DataFrame, r: Request): Unit = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, m: String): Double =
      s.metrics.get(m).map(_.value.toDouble).getOrElse(0.0)
    val index = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("graft_ivf_index")))
    scanRows += index.map(metric(_, "numOutputRows")).sum / r.nQueries
    filesRead += scans.map(metric(_, "numFiles")).sum
  }

  /** Query vectors answered per second of the whole window. */
  override def throughput(w: Window): Double = w.throughput

  private var recallValue = 0.0
  override def recall: Double = recallValue

  /** Requests run in whole pairs. */
  override def opGrain: Int = 2

  override def measure(seconds: Double, onOp: Int => Unit): Window = {
    answers.clear(); scanRows.clear(); filesRead.clear()
    val w = super.measure(seconds, onOp)
    verify()
    w
  }

  /** Recall against the exact filtered top-k, over the window's and the
    * warm-up's requests: one exact call per label at the largest request
    * shape; smaller requests are its prefixes. */
  private def verify(): Unit = {
    val sample = answers ++ warmAnswers
    val exact = sample.map(_._1.label).distinct.map { l =>
      l -> Similarity.filteredTopK(spark, dir, l, maxQ, maxK)
        .select("q_id", "rnk", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    }.toMap
    var hit = 0L
    var total = 0L
    sample.foreach { case (r, got) =>
      (0L until r.nQueries.toLong).foreach { q =>
        val truth = exact(r.label).getOrElse(q, Seq.empty).take(r.k).toSet
        hit += got.getOrElse(q, Seq.empty).count(truth.contains)
        total += truth.size
      }
    }
    recallValue = if (total == 0) 0.0 else hit.toDouble / total
  }

  def check(): Boolean = badRows == 0 && answers.nonEmpty

  override def layerMetrics(ctx: Ctx, ops: Long): Map[String, Double] = Map(
    "similarity.index_rows_scanned_per_query" -> Stats.mean(scanRows.toSeq),
    "similarity.files_read_per_request" -> Stats.mean(filesRead.toSeq))
}
