package perfbench

import graft.stream.{Ordered, Pipe}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.{Random, Try}

final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
final case class Parsed(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, value: Double, k: Int)
final case class Chunked(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, value: Double, k: Int, _chunk: Long, _part: Int)
final case class Enriched(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, value: Double, k: Int, _chunk: Long, region: String)

/** Simulated blocking lookup for `mapConcurrent`, with the per-partition
  * busy time and span that give the achieved in-flight count. */
object Lookup {
  val concurrency = 8
  val blockNs = 100000L
  private val stats = new ConcurrentHashMap[Int, Array[Long]]()

  def region(userId: Long, k: Int): String = s"r${java.lang.Math.floorMod(userId * 31 + k, 7)}"

  def apply(c: Chunked): Enriched = {
    val s = System.nanoTime()
    LockSupport.parkNanos(blockNs)
    val e = System.nanoTime()
    val a = stats.computeIfAbsent(c._part, _ => Array(Long.MaxValue, 0L, 0L))
    a.synchronized { a(0) = math.min(a(0), s); a(1) = math.max(a(1), e); a(2) += e - s }
    Enriched(c.event_id, c.ts_ms, c.user_id, c.event_type, c.value, c.k, c._chunk,
      region(c.user_id, c.k))
  }

  def reset(): Unit = stats.clear()

  /** Achieved ÷ requested in-flight calls, averaged over partitions. */
  def overlap: Double = {
    val per = stats.values().toArray.map(_.asInstanceOf[Array[Long]])
      .filter(a => a(1) > a(0)).map(a => a(2).toDouble / (a(1) - a(0)))
    if (per.isEmpty) 0.0 else per.sum / per.length / concurrency
  }
}

object EtlChain {
  private val KProps = """\{"k": (\d+)\}""".r
  def parse(e: Event): Parsed = e.props match {
    case KProps(k) => Parsed(e.event_id, e.ts.getTime, e.user_id, e.event_type, e.value, k.toInt)
    case other => throw new IllegalArgumentException(s"bad props: $other")
  }
  val minValue = 1.0
  val chunkSize = 512

  /** Consume every column of `df` without letting Catalyst prune it:
    * row count plus two order-free hashes over all columns. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** `etl`: the paper's typed operator chain over a key-shifted `events`
  * table — parse with the error channel open, drop the corrupted rows,
  * filter, global and per-user consecutive dedup, first-wins, ordered
  * chunking and a concurrent blocking lookup — as closed-loop passes.
  * The reference is the same chain run on plain Scala iterators in one process. */
final class Etl(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val baseRows = 25000
  private val k = 4
  val inputRows: Long = baseRows.toLong * k

  Gen.write(Gen.events(spark, new Random(ctx.seed), baseRows, k),
    ctx.dataDir, "events", ctx.nproc)

  private def events = spark.read.parquet(s"${ctx.dataDir}/events.parquet").as[Event]

  def chain(): DataFrame = {
    val ord = Seq(col("ts_ms"), col("event_id"))
    val parsed = ctx.span("stream", "Pipe.mapAttempt.catchDrop.filter") {
      Pipe(events).mapAttempt(EtlChain.parse).observeAttempts("etl_parse")
        .catchDrop().filter(_.value >= EtlChain.minValue)
    }
    val dc = ctx.span("stream", "Ordered.distinctConsecutive") {
      Ordered.distinctConsecutive(parsed.ds.toDF(), ord, col("event_type"))
    }
    val dk = ctx.span("stream", "Ordered.distinctConsecutivePerKey") {
      Ordered.distinctConsecutivePerKey(dc, Seq(col("user_id")), ord, col("event_type"))
    }
    val fw = ctx.span("stream", "Ordered.firstWins") {
      Ordered.firstWins(dk, Seq(col("user_id"), col("event_type")), ord)
    }
    val ch = ctx.span("stream", "Ordered.chunkBySize") {
      Ordered.chunkBySize(fw, ord, EtlChain.chunkSize)
    }
    ctx.span("stream", "Pipe.mapConcurrent") {
      Pipe(ch.withColumn("_part", spark_partition_id()).as[Chunked])
        .mapConcurrent(Lookup.apply, Lookup.concurrency).ds.toDF()
    }
  }

  private var mismatches = 0L

  val warmupOps = 5

  def op(i: Int): Op = {
    val out = ctx.span("bench", "etl.pass") {
      val df = chain()
      ctx.span("stream", "consume")(EtlChain.fingerprint(df))
    }
    val ok = out == reference
    if (!ok) mismatches += 1
    Op(inputRows, ok)
  }

  /** The chain's single-process semantics on plain Scala iterators,
    * computed with the inputs. */
  private val reference: (Long, Long, Long) = {
    val rows = events.collect().iterator
    val parsed = rows.flatMap(e => Try(EtlChain.parse(e)).toOption)
      .filter(_.value >= EtlChain.minValue).toVector
      .sortBy(p => (p.ts_ms, p.event_id))
    val dc = parsed.indices.collect {
      case i if i == 0 || parsed(i - 1).event_type != parsed(i).event_type => parsed(i)
    }
    val lastType = scala.collection.mutable.HashMap.empty[Long, String]
    val dk = dc.filter { p =>
      val keep = !lastType.get(p.user_id).contains(p.event_type)
      lastType(p.user_id) = p.event_type
      keep
    }
    val seen = scala.collection.mutable.HashSet.empty[(Long, String)]
    val fw = dk.filter(p => seen.add((p.user_id, p.event_type)))
    val out = fw.zipWithIndex.map { case (p, i) =>
      Enriched(p.event_id, p.ts_ms, p.user_id, p.event_type, p.value, p.k,
        i / EtlChain.chunkSize, Lookup.region(p.user_id, p.k))
    }
    EtlChain.fingerprint(spark.createDataset(out).toDF())
  }

  /** Outputs matched the reference on every pass, and in a traced run
    * the error channel caught exactly the corrupted share of rows. */
  def check(): Boolean =
    mismatches == 0 && (!ctx.tracer.enabled || math.abs(caughtFrac - Gen.corruptFrac) < 1e-12)

  private def caughtFrac: Double = Option(ctx.tracer.observed.get("etl_parse")).map { r =>
    val ok = r.getAs[Long]("ok"); val err = r.getAs[Long]("errors")
    err.toDouble / math.max(1L, ok + err)
  }.getOrElse(0.0)

  override def measure(seconds: Double, onOp: Int => Unit): Window = {
    Lookup.reset()
    super.measure(seconds, onOp)
  }

  override def layerMetrics(ctx: Ctx, ops: Long): Map[String, Double] =
    Map("stream.errors.caught_frac" -> caughtFrac, "stream.concurrent.overlap" -> Lookup.overlap)
}
