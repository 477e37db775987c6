package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Test/parallelExecution=false),
  * on a fixed 4 cores so partition counts do not depend on the host.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)

  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"
}
