package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
