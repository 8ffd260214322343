package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, built by [[LocalSession]] with
  * 4 cores (getOrCreate ⇒ one JVM-wide session; Test/fork is on, so this
  * never collides with the user app). Every suite sees the graft
  * optimizer rules, whatever ran before it in the JVM.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(4)
}
