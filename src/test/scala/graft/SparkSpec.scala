package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs, from the one session factory. The
  * session is getOrCreate'd once per forked test JVM and intentionally
  * never stopped (suites share it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)

  val sfDir = "/root/testdata/sf0.001"
}
