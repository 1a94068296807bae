package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One traced call into a layer's public function. */
final case class Span(id: Long, layer: String, name: String, parent: Long,
    request: Long, startNs: Long, var endNs: Long = 0L)

/** Engine counters of the jobs launched under one span's job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Spans plus the three listeners that attribute engine work to them.
  *
  * Disabled (an untraced run), `span` only runs its body: no listener
  * is registered and no job group is set, so untraced timings carry no
  * tracing cost. Enabled, every span sets its own job group; after
  * `start` the SparkListener maps job → stage → span and sums task
  * metrics per span, so task, shuffle and spill numbers land on the
  * layer that launched them. The QueryExecutionListener keeps observed
  * metrics (the error channel's counts); the StreamingQueryListener
  * keeps micro-batch progress. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile var request: Long = 0L

  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val openJobs = new AtomicLong(0)
  val observed = new ConcurrentHashMap[String, org.apache.spark.sql.Row]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val aliases = new ConcurrentHashMap[String, Long]()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).map { g =>
      if (g.startsWith("span-")) g.stripPrefix("span-").toLong
      else aliases.getOrDefault(g, 0L)
    }.getOrElse(0L)

  /** Attribute jobs of job group `group` (one a library sets itself,
    * such as a streaming query's run id) to the current span. */
  def aliasToCurrent(group: String): Unit =
    stack.get().headOption.foreach(s => aliases.put(group, s.id))

  private def cnt(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      openJobs.incrementAndGet()
      e.stageIds.foreach(st => stageSpan.put(st, s))
      cnt(s).synchronized { cnt(s).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.decrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s: Long = stageSpan.getOrDefault(e.stageId, 0L)
      val c = cnt(s)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          // the scheduler delay as Spark's UI derives it
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
        }
      }
    }
  }

  private object sql extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Spans are recorded while `active`; listeners count from `start`. */
  @volatile var active: Boolean = enabled
  @volatile var windowStartNs: Long = Long.MaxValue

  /** Register the listeners and open the traced window. */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streams)
    windowStartNs = System.nanoTime()
    active = true
  }

  /** Spans of the traced window. */
  def windowSpans: Seq[Span] = all.filter(_.startNs >= windowStartNs)

  /** Counters of jobs that ran under no span of the window. */
  def unattributed: Counters = Option(counters.get(0L)).getOrElse(new Counters)

  /** Run `body` as a span of `layer`; its jobs carry the span's group. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val parents = stack.get()
      val s = Span(nextId.getAndIncrement(), layer, name,
        parents.headOption.map(_.id).getOrElse(0L), request, System.nanoTime())
      stack.set(s :: parents)
      sc.setJobGroup(s"span-${s.id}", s"$layer:$name")
      try body
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        stack.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.layer}:${p.name}")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the asynchronous listener bus has delivered every job. */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5000000000L
    while (openJobs.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def countersOf(ss: Iterable[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => Option(counters.get(s.id)).foreach(x => x.synchronized(c.add(x))))
    c
  }

  /** Span time minus the time of its direct children, per span id. */
  def selfNs(ss: Seq[Span]): Map[Long, Long] = {
    val child = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.map(s => s.id -> ((s.endNs - s.startNs) - child.getOrElse(s.id, 0L))).toMap
  }

  /** Write every span as one JSON line. */
  def dump(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""task_ms":${c.runMs},"shuffle_write_bytes":${c.shuffleWrite}}""")
    } finally w.close()
  }
}
