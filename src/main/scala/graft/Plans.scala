package graft
import java.nio.file.{Files, Paths}
/** Plan dump for the optimization rounds: writes `.explain("formatted")`
  * output for registry queries to files, one per query, under the
  * session config and pre-built artifacts the bench uses — so the
  * committed before/after plan artifacts
  * (plans/rNN/<query>_{before,after}.txt) describe the exact plans the
  * bench times, not inline-rebuild shapes. Usage:
  *   SPARK_GRAFT_ONLY=name,name sbt "runMain graft.Plans <outDir> <suffix>"
  * (no SPARK_GRAFT_ONLY = every registry query; SPARK_GRAFT_SKIP and
  * SPARK_GRAFT_SF_DIR apply as in Bench).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (outDir, suffix) = args match {
      case Array(a, b) => (a, b)
      case _ =>
        System.err.println("usage: graft.Plans <outDir> <suffix>  " +
          "(narrow with SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP)")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sel = Harness.select()
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    Harness.setupArtifacts(spark, sfDir, "plans")
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    sel.queries.foreach(q => Harness.run(spark, sfDir, q, "plans") { df =>
      Files.writeString(Paths.get(s"$outDir/${q.name}_$suffix.txt"),
        df.queryExecution.explainString(mode))
    })
    spark.stop()
  }
}
