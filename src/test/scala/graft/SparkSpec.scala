package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)
}
