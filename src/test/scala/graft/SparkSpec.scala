package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
