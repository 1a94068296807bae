package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The ONE run harness behind the Bench, Verify, Plans and ScaleCheck
  * mains (and the spec session): session config, artifact setup,
  * registry selection and the per-query loop, so the entry points keep
  * only their own step (timing, parquet dump, plan dump, ×K ratios)
  * and cannot drift apart on the shared parts. */
object Harness {
  /** `SPARK_GRAFT_CPUS` if set, otherwise the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared local session. UTC explicitly, not via build.sbt's
    * forked -D flag: the NTZ events cast (Relational.events) is
    * value-preserving only under a UTC session — an entry point
    * launched outside the sbt fork (spark-submit) must not silently
    * shift event time. nanosAsLong: testdata generations have shipped
    * `events.ts` as TIMESTAMP(NANOS), which fails to read without it.
    * `SPARK_GRAFT_SESSION_CONF="k=v;k=v"` then sets session confs
    * (e.g. graft.neardup.n / graft.pq.dim for a derived corpus). */
  def session(logLevel: String = "WARN"): SparkSession = {
    val n = cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark
  }

  /** Builds the persisted artifacts outside any timed or dumped pass,
    * so the artifact-serving queries (s11/s22 index, d18 semantic
    * index, the trained-codebook families, s33/s34 trained index, the
    * tokenizer families) run as pure readers. Each build is guarded on
    * its own: a failed build is survivable by design (the queries
    * rebuild inline), so it must not zero the run — but it must be
    * LOUD, since otherwise it surfaces only as an unexplained timing
    * anomaly or an inline-rebuild plan downstream. */
  def setupArtifacts(spark: SparkSession, sfDir: String, caller: String): Unit = {
    def guarded(name: String)(build: => Unit): Unit =
      try build catch { case NonFatal(e) =>
        System.err.println(s"[$caller] WARN $name failed — its queries " +
          s"rebuild the artifact inline, inside their own pass: $e")
      }
    guarded("ensureIvfIndex")(ops.Similarity.ensureIvfIndex(spark, sfDir))
    guarded("ensureSemanticIndex")(ops.Similarity.ensureSemanticIndex(spark, sfDir))
    guarded("ensureCodebook")(ops.Similarity.ensureCodebook(spark, sfDir))
    guarded("ensureTrainedIvfIndex")(ops.Similarity.ensureTrainedIvfIndex(spark, sfDir))
    guarded("ensureBpeModel")(ops.TextAnalysis.ensureBpeModel(spark, sfDir))
  }

  /** A name-sorted registry selection plus the filters that made it,
    * so a run can announce them (Bench's "only"/"skipped" fields). */
  final case class Selection(queries: Seq[QueryDef], only: Option[Set[String]],
      skip: Set[String])

  /** Applies `SPARK_GRAFT_ONLY="name,name"` (restrict the run) and
    * `SPARK_GRAFT_SKIP="name,name"` (exclude queries). A name the
    * registry lacks fails here, before any work: a typo'd filter must
    * not silently select nothing, or everything. */
  def select(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"),
      skip: Option[String] = sys.env.get("SPARK_GRAFT_SKIP"),
      registry: Seq[QueryDef] = SparkEntry.registry): Selection = {
    def names(v: Option[String]) = v.map(_.split(",").filter(_.nonEmpty).toSet)
    val (o, s) = (names(only), names(skip).getOrElse(Set.empty[String]))
    val known = registry.map(_.name).toSet
    for ((env, set) <- Seq("SPARK_GRAFT_ONLY" -> o.getOrElse(Set.empty), "SPARK_GRAFT_SKIP" -> s)) {
      val unknown = set -- known
      require(unknown.isEmpty,
        s"$env names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    Selection(registry.sortBy(_.name)
      .filter(q => o.forall(_.contains(q.name)) && !s.contains(q.name)), o, s)
  }

  /** Runs one query through `consume` and clears the cache. Returns
    * the seconds spent in build + consume, or `None` if it threw (the
    * failure is logged to stderr under `caller`). */
  def run(spark: SparkSession, sfDir: String, q: QueryDef, caller: String)
      (consume: DataFrame => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val dt = try { consume(q.build(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      System.err.println(s"[$caller] ${q.name} failed: ${e.getMessage}")
      None
    }
    spark.catalog.clearCache()
    dt
  }
}
