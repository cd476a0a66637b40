package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.build("graft-test", "4", "WARN")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
