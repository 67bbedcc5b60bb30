package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs, with the test tables registered
  * once (one JVM-wide session keeps the suite fast; tests must not
  * depend on session-mutable state beyond the idempotent
  * Functions/Tables registration).
  */
object SparkSpec {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    val s = Engine.session("local[4]")
    Tables.registerAll(s, sfDir)
    s
  }
}

trait SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
