package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite: the shipped [[Harness.session]] at 4 cores, so
  * specs exercise the same conf, optimizer surface and planner strategies
  * the tools run. */
trait SparkSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = Harness.session(Map("SPARK_GRAFT_CPUS" -> "4"))
}
