package perfbench

import graft.ops.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import scala.collection.mutable
import scala.util.Random

/** `curate`: the batch LLM-data chain over a ×K `documents` corpus as
  * closed-loop passes. Each pass collects every output. The first
  * pass's rows are written out for the DuckDB oracle replay in
  * `oracle.py` (the `SparkEntry.oracleSql` text of each stage); every
  * later pass must reproduce them exactly. */
final class Curate(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  private val spark = ctx.spark
  private val dir = ctx.dataDir
  private val baseDocs = 1000
  private val k = 2
  private val ingestSeconds = 4.0
  val inputRows: Long = baseDocs.toLong * k

  private val corpus = Gen.docs(new Random(ctx.seed), baseDocs)
  Gen.write(Gen.replicateDocs(Gen.docsFrame(spark, corpus), k), dir, "documents", ctx.nproc)
  // the dedup intermediates of this corpus fit under the 10 MB
  // broadcast threshold; with broadcasts off the joins take the
  // sort-merge and shuffle paths that larger corpora take
  spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

  /** (registry name, layer, public function) of every stage. */
  private val stages: Seq[(String, String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("c06_full_curation", "curation", "Curation.fullCurationStats",
      (s, d) => Curation.fullCurationStats(s, d)),
    ("d16_dedup_funnel", "dedup", "Dedup.dedupFunnel", (s, d) => Dedup.dedupFunnel(s, d)),
    ("d05b_simhash_verified", "dedup", "Dedup.simhashVerifiedPairs",
      (s, d) => Dedup.simhashVerifiedPairs(s, d)),
    ("d19_containment", "dedup", "Dedup.containmentPairs", (s, d) => Dedup.containmentPairs(s, d)),
    ("d14_cross_source_dups", "dedup", "Dedup.crossSourceNearDupMatrix",
      (s, d) => Dedup.crossSourceNearDupMatrix(s, d)),
    ("c22_llm_ingest_chain", "curation", "Curation.llmIngestChainStats",
      (s, d) => Curation.llmIngestChainStats(s, d)))

  override def build(): Unit = {
    Concurrently(
      () => ctx.span("artifacts", "TextAnalysis.ensureQualityModel")(
        TextAnalysis.ensureQualityModel(spark, dir)),
      () => ctx.span("artifacts", "TextAnalysis.ensureBigramLmModel")(
        TextAnalysis.ensureBigramLmModel(spark, dir)),
      () => ctx.span("artifacts", "TextAnalysis.ensureBpeModel")(
        TextAnalysis.ensureBpeModel(spark, dir)))
  }

  private var first: Map[String, (Seq[String], Seq[Row])] = null
  private var mismatches = 0L

  /** Physical join operators of the first pass's executed plans. */
  private val joins = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def pass(): Map[String, (Seq[String], Seq[Row])] = ctx.span("bench", "curate.pass") {
    stages.map { case (name, layer, fn, f) =>
      name -> ctx.span(layer, fn) {
        val df = f(spark, dir)
        val rows = df.collect().toSeq
        if (first == null) collectWithSubqueries(df.queryExecution.executedPlan) {
          case j: BaseJoinExec => j.nodeName
          case j: CartesianProductExec => j.nodeName
        }.foreach(n => joins(n) += 1)
        (df.columns.toSeq, rows)
      }
    }.toMap
  }

  /** No warm-up: a pass costs more than the other workloads' whole
    * windows, and a batch chain run as a job pays its JIT warm-up on
    * every run. The artifact builds before it warm the JVM generally. */
  val warmupOps = 0

  private def canon(out: Map[String, (Seq[String], Seq[Row])]): Map[String, Seq[String]] =
    out.map { case (n, (_, rs)) => n -> rs.map(_.toString).sorted }
  private lazy val firstCanon = canon(first)

  /** The first pass's rows go to the oracle; later passes must repeat them. */
  def op(i: Int): Op = {
    val out = pass()
    val ok = if (first == null) {
      first = out
      Oracle.dump(s"${ctx.root}/out", first, stages.map(_._1))
      true
    } else canon(out) == firstCanon
    if (!ok) mismatches += 1
    Op(inputRows, ok)
  }

  /** The simhash candidates that `d05b` verifies: the oracle replay
    * checks `d05b` = candidates ∩ exact near-duplicate pairs. */
  private lazy val candidates = ctx.span("dedup", "Dedup.simhashPairs") {
    val df = Dedup.simhashPairs(spark, dir)
    (df.columns.toSeq, df.collect().toSeq)
  }

  private var ingestOk = true
  def check(): Boolean = {
    Oracle.dumpRows(s"${ctx.root}/out", "d05_simhash_pairs", candidates)
    mismatches == 0 && ingestOk
  }

  override def notes: Map[String, Double] = joins.toMap.map { case (n, c) => s"joins.$n" -> c.toDouble }

  /** Probes after the traced window: the simhash candidate count behind
    * the verify yield, the jobs of one `dupClusters` closure, the text
    * layer's batch perplexity gate (task time per call), and the
    * `ingest` open loop over the same artifacts (the streaming layer). */
  override def layerMetrics(ctx: Ctx, ops: Long): Map[String, Double] = {
    val pairs = candidates._2.length
    val verified = first("d05b_simhash_verified")._2.length
    ctx.span("dedup", "Dedup.dupClusters")(Dedup.dupClusters(spark, dir).collect())
    ctx.span("text", "TextAnalysis.perplexityGateStats")(
      TextAnalysis.perplexityGateStats(spark, dir).collect())
    ctx.tracer.settle()
    def named(n: String) = ctx.tracer.countersOf(ctx.tracer.windowSpans.filter(_.name == n))
    val (streaming, ok) = new IngestProbe(ctx, corpus).run(ingestSeconds)
    ingestOk = ok
    streaming ++ Map("dedup.verify_yield" -> verified.toDouble / math.max(1, pairs),
      "dedup.cc_jobs" -> named("Dedup.dupClusters").jobs.toDouble,
      "text.task_s" -> named("TextAnalysis.perplexityGateStats").runMs / 1e3)
  }
}

/** Writes collected stage outputs and their oracle SQL for `oracle.py`. */
object Oracle {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => q(o.toString)
  }

  def dumpRows(outDir: String, name: String, out: (Seq[String], Seq[Row])): Unit = {
    new java.io.File(outDir).mkdirs()
    val (cols, rs) = out
    val body = rs.map(r => cols.indices.map(i => value(r.get(i))).mkString("[", ",", "]"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.json"),
      s"""{"columns": [${cols.map(q).mkString(",")}], "rows": [${body.mkString(",")}]}""")
  }

  def dump(outDir: String, out: Map[String, (Seq[String], Seq[Row])], names: Seq[String]): Unit = {
    names.foreach(n => dumpRows(outDir, n, out(n)))
    val sql = names.map(n => s"${q(n)}: ${q(graft.SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), sql)
  }
}
