package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Pinned at 8 cores whatever the host, so every suite plans
    * against the same shuffle-partition count. */
  lazy val session: SparkSession =
    GraftSession.build(cores = 8, app = "graft-test", logLevel = "ERROR")
}
