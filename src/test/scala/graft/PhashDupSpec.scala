package graft

import org.apache.spark.sql.GraftTestHooks
import org.scalatest.funsuite.AnyFunSuite
import graft.discovery.PhashDup
import graft.synth.{GenConfig, ImageGen}

class PhashDupSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("finds all injected near-duplicate pairs (guaranteed recall ≤ 4 flips)") {
    val cfg = GenConfig(n = 2000L)
    val images = ImageGen.images(spark, cfg)
    val pairs = PhashDup.duplicatePairs(images).collect()
    val expectedDups = (32L until cfg.n).flatMap { id =>
      if (ImageGen.faultClass(cfg.seed, cfg.faultPct, id) == "near_duplicate")
        Some(f"img${ImageGen.dupBaseId(cfg.seed, cfg.faultPct, id)}%09d" -> f"img$id%09d")
      else None
    }.toSet
    val found = pairs.map(r => (r.getString(0), r.getString(1))).toSet
    expectedDups.foreach { p => assert(found.contains(p), s"missed pair $p") }
  }

  test("dropIds drops only the larger id of each pair — never a clean base") {
    val cfg = GenConfig(n = 2000L)
    val images = ImageGen.images(spark, cfg)
    val dropped = PhashDup.dropIds(images).as[String].collect().toSet
    val faultyIds = (0L until cfg.n)
      .filter(id => ImageGen.faultClass(cfg.seed, cfg.faultPct, id) != null)
      .map(id => f"img$id%09d").toSet
    // every dropped id must be an injected fault (no clean row dropped)
    dropped.foreach(id => assert(faultyIds.contains(id), s"clean row dropped: $id"))
  }

  test("numeric ids keep their type and NATIVE keep-first order") {
    // string order would say "10" < "2" and drop the wrong side; the
    // restore join must give (2, 10) with bigint columns and drop 10
    val df = Seq((2L, 0L), (10L, 1L)).toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df)
    assert(pairs.schema("id1").dataType ==
      org.apache.spark.sql.types.LongType, "id type must be preserved")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 10L)), s"got $got")
    val dropped = PhashDup.dropIds(df).as[Long].collect().toSet
    assert(dropped == Set(10L), s"keep-first must keep the numeric min: $dropped")
  }

  test("hamming filter: distances > 4 are excluded") {
    val df = Seq(
      ("a", 0L), ("b", 0x1FL /* hamming 5 from a */), ("c", 0x3L /* 2 from a */))
      .toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("a", "c")))
    assert(!pairs.contains(("a", "b")))
  }

  test("clusters assign min-id label") {
    val df = Seq(("a", 1L), ("b", 3L), ("c", 7L)).toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df)
    val clusters = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.values.toSet == Set("a"))
  }

  test("clusters converge on a chain longer than the old fixed 3 rounds") {
    // path graph a-b-c-d-e-f-g: every node, however far from "a",
    // gets the component minimum
    val ids = "abcdefg".map(_.toString)
    val pairs = ids.zip(ids.tail).map { case (x, y) => (x, y) }
      .toSeq.toDF("id1", "id2")
    val labels = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == ids.toSet)
    assert(labels.values.toSet == Set("a"), labels.toString)
  }

  test("clusters label a 30-node chain with its minimum") {
    // diameter 29: the minimum must reach the far end
    val ids = (0 until 30).map(i => f"n$i%03d")
    val pairs = ids.zip(ids.tail).toSeq.toDF("id1", "id2")
    val labels = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == ids.toSet)
    assert(labels.values.toSet == Set("n000"), labels.toString)
  }

  test("clusters label a 10^5-node chain with its minimum") {
    // edges listed from the far end, spread over several partitions, so
    // the partition forests must be merged to reach the minimum
    val ids = (0 until 100000).map(i => f"n$i%06d")
    val pairs = ids.zip(ids.tail).reverse.toDF("id1", "id2").repartition(4)
    val labels = PhashDup.clusters(pairs).as[(String, String)].collect()
    assert(labels.length == ids.length)
    assert(labels.map(_._1).toSet == ids.toSet)
    assert(labels.forall(_._2 == "n000000"))
  }

  test("clusters keep bigint ids and label by native order") {
    // string order would say "10" < "2"
    val pairs = Seq((10L, 2L)).toDF("id1", "id2")
    val out = PhashDup.clusters(pairs)
    assert(out.schema.map(_.dataType).toSet == Set(org.apache.spark.sql.types.LongType))
    val got = out.as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 2L, 10L -> 2L), got.toString)
  }

  test("clusters label strings by UTF-8 byte order, as Spark's min does") {
    // U+FFFF is EF BF BF in UTF-8 and U+1F600 is F0 9F 98 80, so the
    // byte order puts U+FFFF first; String.compareTo (UTF-16) would pick
    // the emoji, whose high surrogate D83D sorts below FFFF
    val (ffff, emoji) = ("\uFFFF", "\uD83D\uDE00")
    val pairs = Seq((emoji, ffff)).toDF("id1", "id2")
    val got = PhashDup.clusters(pairs).as[(String, String)].collect().toMap
    assert(got == Map(ffff -> ffff, emoji -> ffff), got.toString)
  }

  test("clusters run one job on a cached pair frame and cache nothing") {
    val ids = (0 until 200).map(i => f"img$i%09d")
    val pairs = ids.zip(ids.tail).filter(_._1.last != '4')
      .toDF("id1", "id2").repartition(4).cache()
    pairs.count()
    val entries = GraftTestHooks.cachedEntries(spark)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val (_, jobs) = GraftTestHooks.jobsDuring(spark)(PhashDup.clusters(pairs).collect())
    assert(jobs == 1, s"$jobs jobs")
    assert(GraftTestHooks.cachedEntries(spark) == entries, "clusters left a cache entry")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    pairs.unpersist()
  }
}
