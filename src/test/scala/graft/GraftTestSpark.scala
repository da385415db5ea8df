package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole forked test JVM. */
object GraftTestSpark {
  lazy val spark: SparkSession = graft.engine.Session.local(4, "tests")
}
