package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object-held so sbt's
  * single test JVM reuses it; Spark re-getOrCreate's the same session).
  */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.local("graft-test", cores = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
