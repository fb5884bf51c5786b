package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: graft's own session recipe at
  * four cores (one JVM-wide session; Spark reuses it across suites via
  * getOrCreate).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  lazy val sf: String = "/root/testdata/sf0.001"
}
