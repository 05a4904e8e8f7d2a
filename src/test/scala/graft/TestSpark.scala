package graft

import org.apache.spark.sql.SparkSession

/** The tests' shared session: the shipped configuration on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}
