package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.detect.Scorer
import graft.engine.Scratch
import graft.models.ModelCheckpoint

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  test("model state round-trips through the checkpoint and scores identically") {
    val dir = "target/graft-model-ckpt"
    Scratch.deleteRecursively(new java.io.File(dir))
    val images = PipelineCache.images(spark, 500L)
    val m1 = Scorer.fitOrLoad(spark, images, Some(dir)) // fits + saves
    val m2 = Scorer.fitOrLoad(spark, images, Some(dir)) // loads
    assert(m2.pplRef == m1.pplRef && m2.pplRefByLang == m1.pplRefByLang)
    val dup = PipelineCache.images(spark, 500L).select("image_id").limit(0)
    val s1 = Scorer.withScores(images, m1, dup)
      .select("image_id", "invalidity_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val s2 = Scorer.withScores(images, m2, dup)
      .select("image_id", "invalidity_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s1 == s2)
  }

  test("fingerprint or version mismatch forces a refit (no stale model reuse)") {
    val dir = "target/graft-model-ckpt-fp"
    Scratch.deleteRecursively(new java.io.File(dir))
    val images = PipelineCache.images(spark, 500L)
    val m = PipelineCache.models(spark, 500L)
    ModelCheckpoint.save(spark, m, dir, fingerprint = "n=500;seed=42")
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "n=500;seed=42").isDefined)
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "n=500;seed=43").isEmpty,
      "changed config must invalidate the checkpoint")
    assert(images.count() == 500L)
  }

  test("corrupt checkpoint bytes degrade to None, not an exception") {
    import spark.implicits._
    val dir = "target/graft-model-ckpt-bad"
    Scratch.deleteRecursively(new java.io.File(dir))
    graft.engine.TableIO.createOrReplace(
      Seq((ModelCheckpoint.FormatVersion, "fp", Array[Byte](1, 2, 3)))
        .toDF("version", "fingerprint", "state"),
      dir)
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "fp").isEmpty)
  }
}
