package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one JVM-wide SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession =
    Sessions.local(4, "spark.app.name" -> "graft-test")

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf: String = SparkSpec.sf
}
