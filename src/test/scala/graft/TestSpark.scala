package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
}
