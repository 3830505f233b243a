package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY §5 guide). */
object TestSpark {
  val SF = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = Harness.session(8)
}
