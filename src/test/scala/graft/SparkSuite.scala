package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; suites run
  * in one forked JVM so getOrCreate dedupes).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = Exec.session(4)
}
