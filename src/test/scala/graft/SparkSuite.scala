package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.shared
  val sf001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val shared: SparkSession = LocalSpark("graft-test", cores = 8, logLevel = "ERROR")
}
