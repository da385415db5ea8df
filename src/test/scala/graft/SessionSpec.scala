package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Scratch

class SessionSpec extends AnyFunSuite {

  test("Session.local puts scratch where childDir finds it and sets the shared settings") {
    val spark = GraftTestSpark.spark
    val conf = spark.sparkContext.getConf
    // a parent that kills a child reaps Scratch.childDir(childPid, tag):
    // that must be the dir the child's session shuffles into
    assert(conf.get("spark.local.dir") ==
      Scratch.childDir(ProcessHandle.current().pid(), "tests").getAbsolutePath)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "2")
    assert(conf.get("spark.file.transferTo") == "false")
    assert(conf.get("spark.io.compression.codec") == "lz4")
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.icu.caseMappings.enabled" -> "false",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
