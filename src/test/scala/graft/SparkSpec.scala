package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one JVM-wide session; Spark reuses
  * it across suites via getOrCreate). */
object SparkSpec {
  lazy val spark: SparkSession = LocalSpark(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
