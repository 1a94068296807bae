package perfbench

import graft.ops.{Curation, TextAnalysis}
import graft.streaming.Streams
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The `ingest` open loop, run as the streaming-layer probe of a traced
  * `curate` run (it serves the same three text artifacts `curate`
  * builds). One generator thread drops a JSON-lines file of documents
  * every `fileMs`, each stamped with its due time, into a file source;
  * the source feeds the four serve gates (`Streams.decontamGateStream →
  * qualityGateStream → perplexityGateStream → bpeEncodeIdsStream`) and
  * a parquet sink on a processing-time trigger. The seed sets the share
  * of arriving docs that are planted benchmark leaks, which the
  * decontamination gate must drop. Latency is sink commit time minus
  * due time; the kept set is checked against the batch twin of the
  * serve stack. */
final class IngestProbe(ctx: Ctx, corpus: IndexedSeq[Gen.Doc]) {
  private val spark = ctx.spark
  import spark.implicits._
  private val dir = ctx.dataDir
  private val fileMs = 250L
  private val docsPerFile = 40
  private val triggerMs = 1000L
  private val rng = new Random(ctx.seed * 31 + 7)
  /** Seed-drawn share of arrivals that copy a benchmark (src0) doc. */
  private val leakShare = 0.05 + 0.10 * rng.nextDouble()
  private val benchTexts = corpus.filter(_.source == "src0").map(_.text)
  private var nextId = 50000000L

  private def arrivals(n: Int): IndexedSeq[Gen.Doc] =
    Gen.docs(rng, n, nextId).map { d =>
      nextId = math.max(nextId, d.doc_id + 1)
      if (rng.nextDouble() < leakShare) d.copy(text = benchTexts(rng.nextInt(benchTexts.size)))
      else d
    }

  // the static sides, persisted per the serve-stack contract
  private val benchFps = spark.read.parquet(s"$dir/documents.parquet")
    .where(col("source") === "src0")
    .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct().localCheckpoint()
  private val model = TextAnalysis.readQualityModel(spark, dir).localCheckpoint()
  private val lm = TextAnalysis.readBigramLmModel(spark, dir).localCheckpoint()
  private val mergeRow = TextAnalysis.bpeMergeRow(spark, dir).localCheckpoint()
  private val symRow = Curation.bpeSymbolIdRow(spark, dir).localCheckpoint()

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("ts", TimestampType), StructField("lang", StringType),
    StructField("text", StringType), StructField("due_ms", LongType)))

  private def serve(src: DataFrame): DataFrame =
    Streams.bpeEncodeIdsStream(
      Streams.perplexityGateStream(
        Streams.qualityGateStream(
          Streams.decontamGateStream(src, benchFps), model), lm),
      mergeRow, symRow)
      .select("doc_id", "due_ms", "ids", "n_subwords", "n_unk")

  /** What the measured window fed in, committed and reported. */
  private val arrived = mutable.ArrayBuffer.empty[Gen.Doc]
  private val committed = mutable.HashMap.empty[Long, Seq[Long]]
  private val lags = mutable.ArrayBuffer.empty[Double]
  private var window = 0
  private var recordedRun: java.util.UUID = _
  private var sinkFiles = 0L
  private var sinkBytes = 0L
  private var sinkRows = 0L
  private var backlogFiles = 0.0

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One open-loop window of `seconds`: the committed docs' latencies
    * (commit time − due time), the docs sent and the input rows the
    * batches processed. With `record` it keeps what the check and the
    * metrics read. */
  private def runStream(seconds: Double, record: Boolean): Window = {
    window += 1
    val base = s"${ctx.root}/ingest/w$window"
    val srcDir = s"$base/source"; val stage = s"$base/staging"; val sinkDir = s"$base/sink"
    Files.createDirectories(Paths.get(srcDir)); Files.createDirectories(Paths.get(stage))
    val nFiles = math.max(1, (seconds * 1000 / fileMs).toInt)
    val files = (0 until nFiles).map(_ => arrivals(docsPerFile))
    val q: StreamingQuery = serve(spark.readStream.schema(schema).json(srcDir))
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$base/checkpoint")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start(sinkDir)
    // the stream thread runs its jobs under the query's own job group
    ctx.tracer.aliasToCurrent(q.runId.toString)
    // due times sit at fixed offsets inside the trigger period, so the
    // phase between arrivals and triggers is the same on every run
    val now = System.currentTimeMillis() + 200
    val t0 = now - now % triggerMs + triggerMs / 2 + fileMs / 2 +
      (if (now % triggerMs > triggerMs / 2) triggerMs else 0L)
    val w = new Window
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case (docs, j) =>
        val due = t0 + j * fileMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val tsv = new java.sql.Timestamp(due).toInstant.toString
        val body = docs.map(d => s"""{"doc_id":${d.doc_id},"ts":"$tsv","lang":"${d.lang}",""" +
          s""""text":${json(d.text)},"due_ms":$due}""").mkString("\n")
        val tmp = Paths.get(s"$stage/f$j.json")
        Files.writeString(tmp, body)
        Files.move(tmp, Paths.get(s"$srcDir/f$j.json"), StandardCopyOption.ATOMIC_MOVE)
        lags.synchronized { if (record) lags += (System.currentTimeMillis() - due).toDouble }
      }
    }, "perfbench-loadgen")
    gen.setDaemon(true)
    gen.start()
    val windowEnd = t0 + nFiles * fileMs
    while (System.currentTimeMillis() < windowEnd) Thread.sleep(20)
    gen.join()
    val processedAtEnd = q.recentProgress.map(_.numInputRows).sum
    q.processAllAvailable()
    q.stop()
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    // batch id → commit time, and sink file → batch id
    val commitMs = prog.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)).toMap
    val fileBatch = Option(new java.io.File(s"$sinkDir/_spark_metadata").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).flatMap { f =>
        scala.io.Source.fromFile(f).getLines().drop(1).map { l =>
          val p = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
          new java.io.File(new java.net.URI(p)).getName -> f.getName.toLong
        }.toSeq
      }.toMap
    val out = spark.read.parquet(sinkDir).withColumn("_f", input_file_name())
      .select("doc_id", "due_ms", "ids", "_f").collect()
    val doneDocs = files.flatten
    w.attempted = doneDocs.size
    w.rows = prog.map(_.numInputRows).sum
    // completion rate: docs processed from the first due time to the last commit
    w.wallS = (commitMs.values.foldLeft(windowEnd)(math.max) - t0) / 1e3
    out.foreach { r =>
      val f = new java.io.File(new java.net.URI(r.getString(3))).getName
      commitMs.get(fileBatch.getOrElse(f, -1L)) match {
        case Some(c) => w.latMs += (c - r.getLong(1)).toDouble
        case None => w.failed += 1
      }
    }
    if (record) {
      arrived ++= doneDocs
      out.foreach(r => committed(r.getLong(0)) = r.getSeq[Long](2))
      recordedRun = q.runId
      val parquet = Option(new java.io.File(sinkDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      sinkFiles = parquet.size
      sinkBytes = parquet.map(_.length).sum
      sinkRows = out.length
      backlogFiles = (doneDocs.size - processedAtEnd).toDouble / docsPerFile
    }
    w
  }

  /** A one-second warm-up stream, then the measured window; the
    * streaming-layer metrics of the window, and whether its kept set
    * matched the batch twin. */
  def run(seconds: Double): (Map[String, Double], Boolean) = {
    runStream(1.0, record = false)
    val w = ctx.span("streaming", "Streams.serveStack")(runStream(seconds, record = true))
    (metrics(w), check())
  }

  /** The kept set and ids of the batch twin of the serve stack over
    * every arrived doc: fingerprint anti-join, the shared classifier
    * verdict, the shared LM keep predicate, then the same encoder. */
  private def check(): Boolean = {
    val docs = arrived.toSeq.map(d => (d.doc_id, d.lang, d.text)).toDF("doc_id", "lang", "text")
    val afterQuality = docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .join(broadcast(benchFps), Seq("fp"), "left_anti")
      .crossJoin(broadcast(model))
      .withColumn("score", TextAnalysis.classifierScoreCol(
        col("text"), col("wm"), col("w_oov"), col("prior")))
      .filter(col("score") > 0L)
      .select("doc_id", "lang", "text")
    val kept = afterQuality
      .crossJoin(broadcast(TextAnalysis.lmServeCols(lm)))
      .withColumn("lmids", TextAnalysis.lmNormIdsCol(col("text"), col("vmap")))
      .filter(size(col("lmids")) >= 2)
      .withColumn("lmv", TextAnalysis.lmScoreCol(col("lmids"), col("bk"), col("bv"),
        col("xk"), col("xv"), col("vp1")))
      .filter(col("lmv") < lit(TextAnalysis.perplexityThrDefault) * (size(col("lmids")) - 1))
      .select("doc_id", "lang", "text")
    val expect = Streams.bpeEncodeIdsStream(kept, mergeRow, symRow).select("doc_id", "ids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val leaks = arrived.filter(d => benchTexts.contains(d.text)).map(_.doc_id)
    expect == committed.toMap && leaks.nonEmpty && leaks.forall(id => !committed.contains(id))
  }

  /** Batch timings come from the StreamingQueryListener's progress events. */
  private def metrics(w: Window): Map[String, Double] = {
    ctx.tracer.settle()
    val ps = ctx.tracer.progress.asScala.toSeq
      .filter(p => p.runId == recordedRun && p.numInputRows > 0)
    def dur(key: String) = ps.map(_.durationMs.get(key).doubleValue)
    Map(
      "streaming.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
      "streaming.addbatch_ms_p50" -> Stats.median(dur("addBatch")),
      "streaming.rows_per_batch" -> Stats.mean(ps.map(_.numInputRows.toDouble)),
      "streaming.backlog_files_end" -> backlogFiles,
      "sink.files_written" -> sinkFiles.toDouble,
      "sink.bytes_per_row" -> (if (sinkRows > 0) sinkBytes.toDouble / sinkRows else 0.0),
      "loadgen.sched_lag_ms_p90" -> Stats.quantile(lags.toSeq, 0.9),
      "ingest.latency_ms_p50" -> Stats.quantile(w.latMs.toSeq, 0.5),
      "ingest.latency_ms_p90" -> Stats.quantile(w.latMs.toSeq, 0.9),
      "ingest.failed_docs" -> w.failed.toDouble)
  }
}
