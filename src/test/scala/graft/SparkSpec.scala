package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy), built
  * from the engine's one session config at a fixed 4 cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder(cpus = "4").appName("graft-test").getOrCreate()
}
