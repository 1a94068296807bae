package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected registry query's result → parquet,
  * plus oracle_sql.json for the same names, for the DuckDB compare
  * (`tools/compare.py`). Usage: `Verify <sfDir> <outDir>`; a dev
  * run narrows the dump with SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP (see
  * [[Harness.select]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(a, b) => (a, b)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir>  " +
          "(narrow with SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP)")
        sys.exit(2)
    }
    val sel = Harness.select()
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a failed setup must degrade to a logged warning, not an empty
    // round: the r19 gate round was zeroed (CORRECTNESS_r19 = {})
    // because one unguarded setup failure killed the whole dump
    Harness.setupArtifacts(spark, sfDir, "verify")
    sel.queries.foreach(q => Harness.run(spark, sfDir, q, "verify")(
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sel.queries.collect { case QueryDef(k, _, Some(v), _) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
