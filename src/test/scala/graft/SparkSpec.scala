package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark
  * getOrCreate caches it, so suites share safely). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** ONE driver-side definition of the kernel cosine arithmetic
    * (left-to-right double accumulation, sqrt·sqrt denominator) and
    * the r3/r4 floor-roundings — the reference model several specs
    * pin operators against; a single copy so the specs cannot pin
    * divergent models. */
  protected def modelCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  protected def modelCosD(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  protected def modelR4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
  protected def modelR3(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(logLevel = "ERROR")
}
