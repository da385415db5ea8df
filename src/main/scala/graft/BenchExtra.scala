package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.{GenConfig, ImageGen}

/** Optimization-round measurement harness (guide §1.4): isolates the
  * expensive operators behind the bench rows with noop-sink timings and
  * per-stage breakdowns. NOT part of the driver contract — the frozen
  * `graft.Bench` stays the only graded benchmark; numbers from here are
  * cited as evidence in OPTIMIZATION_r06.md only.
  *
  * Usage: sbt "runMain graft.BenchExtra <section>" where section is one
  * of: minhash, loop, loopjobs, stream, loopparts, wav2, cacheparts,
  * stream2, som, aqe, queries (default: all).
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", graft.engine.Scratch.localDir("benchextra"))
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.io.compression.codec", "lz4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[extra] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val section = args.headOption.getOrElse("all")
    val spark = session(cpus)
    def run(name: String)(body: => Unit): Unit =
      if (section == "all" || section == name) {
        spark.sparkContext.setJobDescription(s"extra:$name")
        body
        spark.sparkContext.setJobDescription(null)
      }

    run("minhash") {
      val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEDUP_ROWS", "200000").toLong
      val images = timed("gen+cache") {
        val df = ImageGen.images(spark, GenConfig(n = n, parts = 128)).cache()
        df.count(); df
      }
      // stage 1: band-key computation alone
      timed("bandkeys scalar pass (noop)") {
        noop(images.select(col("image_id"),
          org.apache.spark.sql.graft.Exprs.minhashBandKeys(
            col("caption"), 3, 64, 16).as("keys")))
      }
      val banded = images.select(col("image_id").as("id"),
        explode(org.apache.spark.sql.graft.Exprs.minhashBandKeys(
          col("caption"), 3, 64, 16)).as("key"))
      timed("banded explode (noop)") { noop(banded) }
      val cands = graft.ops.Banding.candidatePairs(banded, 1024)
      val nc = timed("candidatePairs count") { cands.count() }
      println(s"[extra] candidate pairs = $nc")
      // shingle pass alone
      val withSh = images.select(col("image_id").as("id"),
        graft.ops.Dedup.shingles(col("caption"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      timed("shingles pass (noop)") { noop(withSh) }
      timed("full minhashPairs count (1)") {
        graft.ops.Dedup.minhashPairs(images, "image_id", "caption").count(): Unit
      }
      timed("full minhashPairs count (2)") {
        graft.ops.Dedup.minhashPairs(images, "image_id", "caption").count(): Unit
      }
      timed("full simhashPairs count") {
        graft.ops.Dedup.simhashPairs(images, "image_id", "caption").count(): Unit
      }
      val ngramN = sys.env.getOrElse("SPARK_GRAFT_BENCH_NGRAM_ROWS", "100000").toLong
      val ngramImages =
        if (ngramN == n) images
        else ImageGen.images(spark, GenConfig(n = ngramN, parts = 128)).cache()
      ngramImages.count()
      timed("full ngramJaccardPairs count (1)") {
        graft.ops.Dedup.ngramJaccardPairs(ngramImages, "image_id", "caption").count(): Unit
      }
      timed("full ngramJaccardPairs count (2)") {
        graft.ops.Dedup.ngramJaccardPairs(ngramImages, "image_id", "caption").count(): Unit
      }
      val nbanded = ngramImages
        .select(col("image_id").as("id"),
          graft.ops.Dedup.shingles(col("caption"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("id"), explode(array_distinct(transform(
          slice(col("sh"), 1, 32), s => xxhash64(s)))).as("key"))
      val ncand = timed("ngram candidatePairs count") {
        graft.ops.Banding.candidatePairs(nbanded, 256).count()
      }
      println(s"[extra] ngram distinct candidates = $ncand")
      images.unpersist()
    }

    run("loop") {
      timed("cachedLoop cold") { PipelineLoop.cachedLoop(spark): Unit }
      PipelineLoop.reset()
      timed("cachedLoop warm") { PipelineLoop.cachedLoop(spark): Unit }
      PipelineLoop.reset()
    }

    // job-level breakdown: per-Spark-job wall durations for one warm loop
    run("loopjobs") {
      PipelineLoop.cachedLoop(spark): Unit // warm everything first
      PipelineLoop.reset()
      val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
      val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts(js.jobId) = (js.time,
            Option(js.properties.getProperty("spark.job.description")).getOrElse(""))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          starts.remove(je.jobId).foreach { case (t0, d) =>
            jobs += ((je.jobId, je.time - t0, d))
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      PipelineLoop.cachedLoop(spark): Unit
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500)
      println(f"[extra] warm loop wall ${wall}%.2f s, ${jobs.size} jobs, " +
        f"sum(job) ${jobs.map(_._2).sum / 1e3}%.2f s")
      jobs.sortBy(-_._2).take(30).foreach { case (id, ms, d) =>
        println(f"[extra]   job $id%4d ${ms / 1e3}%7.2f s  $d")
      }
      PipelineLoop.reset()
    }

    run("stream") {
      timed("qf_stream_window cold") {
        PipelineQueries.queries("qf_stream_window")(spark, sfDir).count(): Unit
      }
      timed("qf_stream_window warm") {
        PipelineQueries.queries("qf_stream_window")(spark, sfDir).count(): Unit
      }
    }

    run("loopparts") {
      import graft.loop.ValidationRun
      def runWith(parts: Int, dir: String): ValidationRun.RunResult = {
        PipelineLoop.deleteRecursively(new java.io.File(dir))
        ValidationRun.run(spark, ValidationRun.RunConfig(
          n = 1000L, rounds = 3, outDir = dir, parts = parts))
      }
      val a = timed("loop parts=32") { runWith(32, "target/extra-loop-32") }
      val b = timed("loop parts=4") { runWith(4, "target/extra-loop-4") }
      val c = timed("loop parts=8") { runWith(8, "target/extra-loop-8") }
      println(s"[extra] metrics equal 32vs4: ${a.metrics == b.metrics}")
      println(s"[extra] metrics equal 32vs8: ${a.metrics == c.metrics}")
      println(s"[extra] thresholds equal 32vs4: ${a.thresholds == b.thresholds}")
      println(s"[extra] thresholds equal 32vs8: ${a.thresholds == c.thresholds}")
      val da = a.decisions.select("image_id", "decision", "invalidity_score")
        .orderBy("image_id").collect().toSeq
      val db = b.decisions.select("image_id", "decision", "invalidity_score")
        .orderBy("image_id").collect().toSeq
      println(s"[extra] decisions equal 32vs4: ${da == db}")
      Seq("target/extra-loop-32", "target/extra-loop-4", "target/extra-loop-8")
        .foreach(d => PipelineLoop.deleteRecursively(new java.io.File(d)))
    }

    run("wav2") {
      val n = 20000
      val payloads = (0 until n).map(i =>
        graft.synth.MediaGen.audioRowFor(42L, i.toLong).bytes).toArray
      def decodeAll(threads: Int): Double = {
        val t0 = System.nanoTime()
        val per = n / threads
        val ts = (0 until threads).map { t =>
          val th = new Thread(() => {
            var i = t * per
            val end = math.min(n, (t + 1) * per)
            var acc = 0L
            while (i < end) {
              acc += graft.ops.Multimodal.decodeWav(payloads(i)).samples.length
              i += 1
            }
            if (acc == -1) println("")
          })
          th.setName(s"wav2-$t")
          th
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      decodeAll(1) // warmup
      val t1 = decodeAll(1)
      // sample stacks of the decode threads while the 32-way run is live
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val sampler = new Thread(() => {
        while (!Thread.interrupted()) {
          try {
            Thread.getAllStackTraces.forEach { (t, st) =>
              if (t.getName.startsWith("wav2-") && st.nonEmpty) {
                val frame = st.take(6).mkString(" <- ")
                hist.merge(s"[${t.getState}] $frame", 1, (a, b) => a + b)
              }
            }
            Thread.sleep(20)
          } catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        }
      })
      sampler.start()
      val t32 = decodeAll(32)
      sampler.interrupt(); sampler.join(1000)
      println(f"[extra] decodeWav 20k: 1 thread ${t1}%.2f s (${n / t1}%.0f/s), " +
        f"32 threads ${t32}%.2f s (${n / t32}%.0f/s, scaling ${t1 / t32}%.1fx)")
      import scala.jdk.CollectionConverters._
      hist.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (k, c) =>
        println(s"[extra]   $c  ${k.take(400)}")
      }
    }

    run("cacheparts") {
      import graft.detect.Scorer
      import graft.discovery.{PhashDup, Thresholds}
      def pipelineAt(parts: Int) = {
        val gen = GenConfig(n = 2000L, parts = parts)
        val images = ImageGen.images(spark, gen).cache()
        images.count()
        val models = Scorer.fit(spark, images)
        val dupDrop = PhashDup.dropIds(images)
        val scored = Scorer.withScores(images, models, dupDrop).cache()
        val withStatus = scored.withColumn("status", lit("clean"))
        val known = ImageGen.knownFaults(spark, gen).count()
        val (t, med) = Thresholds.discover(
          withStatus, "invalidity_score", "status", known)
        val dec = Scorer.withDecision(scored, t)
          .select("image_id", "decision", "invalidity_score", "scrubbed_caption")
          .orderBy("image_id").collect().toSeq
        images.unpersist(); scored.unpersist()
        (models.pplRef, models.pplRefByLang, t, med, dec)
      }
      val a = timed("pipeline parts=32") { pipelineAt(32) }
      val b = timed("pipeline parts=8") { pipelineAt(8) }
      println(s"[extra] pplRef equal: ${a._1 == b._1}; byLang equal: ${a._2 == b._2}")
      println(s"[extra] threshold equal: ${a._3 == b._3}; median equal: ${a._4 == b._4}")
      println(s"[extra] decisions equal: ${a._5 == b._5}")
    }

    run("stream2") {
      val dir = s"target/graft-extra-stream-${java.util.UUID.randomUUID().toString.take(8)}"
      timed("shard write") {
        ImageGen.images(spark, GenConfig(n = 500L, parts = 4))
          .withColumn("ts", timestamp_millis(lit(1700000000000L) +
            substring(col("image_id"), 4, 9).cast("long") * 1000))
          .write.parquet(dir)
      }
      val schema = timed("schema read") { spark.read.parquet(dir).schema }
      val models = timed("models(500) fit") { PipelineCache.models(spark, 500L) }
      val stream = spark.readStream.schema(schema).parquet(dir)
      val scored = graft.streaming.StreamScore.scoreStream(stream, models, 0.5)
      timed("rows sink stream") {
        val q = scored.select(col("image_id"), col("ts"), col("decision"))
          .writeStream.format("parquet")
          .option("path", s"$dir-rows")
          .option("checkpointLocation", s"$dir-rows-ckpt")
          .outputMode("append").start()
        q.processAllAvailable(); q.stop()
      }
      timed("windowed agg stream") {
        val agg = graft.streaming.StreamScore.windowedDropRate(scored, "ts")
        val q = agg.writeStream.format("memory").queryName("extra_stream_sink")
          .outputMode("complete").start()
        q.processAllAvailable(); q.stop()
      }
      timed("windowed agg stream (2nd)") {
        val agg = graft.streaming.StreamScore.windowedDropRate(scored, "ts")
        val q = agg.writeStream.format("memory").queryName("extra_stream_sink2")
          .outputMode("complete").start()
        q.processAllAvailable(); q.stop()
      }
      spark.catalog.dropTempView("extra_stream_sink"): Unit
      spark.catalog.dropTempView("extra_stream_sink2"): Unit
      PipelineLoop.deleteRecursively(new java.io.File(dir))
      PipelineLoop.deleteRecursively(new java.io.File(s"$dir-rows"))
      PipelineLoop.deleteRecursively(new java.io.File(s"$dir-rows-ckpt"))
    }

    run("som") {
      timed("qf_som_assign cold") {
        PipelineQueries.queries("qf_som_assign")(spark, sfDir).count(): Unit
      }
      timed("qf_som_assign warm") {
        PipelineQueries.queries("qf_som_assign")(spark, sfDir).count(): Unit
      }
    }

    run("aqe") {
      import spark.implicits._
      val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEDUP_ROWS", "200000").toLong
      val images = ImageGen.images(spark, GenConfig(n = n, parts = 128)).cache()
      images.count()
      val banded = images.select(col("image_id").as("id"),
        explode(org.apache.spark.sql.graft.Exprs.minhashBandKeys(
          col("caption"), 3, 64, 16)).as("key"))
      val rep = banded.repartition(col("key")).sortWithinPartitions(col("key"), col("id"))
      val counts = rep.select(col("key"), col("id")).as[(Long, String)]
        .mapPartitions(it => Iterator.single(it.size)).collect()
      println(s"[extra] post-repartition(col) partitions = ${counts.length}, " +
        s"sizes min=${counts.min} max=${counts.max}")
      val stageInfo = scala.collection.mutable.ArrayBuffer.empty[String]
      val sl = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val d = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield (c - s) / 1e3
          stageInfo += f"stage ${si.stageId}%3d ${si.name.takeWhile(_ != '\n')}%-60s " +
            f"tasks=${si.numTasks}%4d wall=${d.getOrElse(-1.0)}%7.2f s"
        }
      }
      spark.sparkContext.addSparkListener(sl)
      timed("candidatePairs as-is") {
        graft.ops.Banding.candidatePairs(banded, 1024).count(): Unit
      }
      spark.sparkContext.removeSparkListener(sl)
      Thread.sleep(300)
      stageInfo.foreach(s => println(s"[extra]   $s"))
      val nParts = spark.sessionState.conf.numShufflePartitions
      val rep2 = banded.repartition(nParts, col("key"))
        .sortWithinPartitions(col("key"), col("id"))
      timed(s"repartition($nParts,key)+sort+scan") {
        rep2.select(col("key"), col("id")).as[(Long, String)]
          .mapPartitions { it => var c = 0L; it.foreach(_ => c += 1); Iterator.single(c) }
          .collect(): Unit
      }
      timed("repartition(col)+sort+scan") {
        rep.select(col("key"), col("id")).as[(Long, String)]
          .mapPartitions { it => var c = 0L; it.foreach(_ => c += 1); Iterator.single(c) }
          .collect(): Unit
      }
      // raw pre-distinct pair emissions + run statistics
      val stats = timed("pairing scan (no distinct)") {
        rep.select(col("key"), col("id")).as[(Long, String)]
          .mapPartitions { it =>
            var emissions = 0L
            var maxRun = 0
            var runLen = 0
            var rows = 0L
            var curKey = Long.MinValue
            var have = false
            it.foreach { case (key, _) =>
              rows += 1
              if (!have || key != curKey) { runLen = 0; curKey = key; have = true }
              if (runLen < 1024) { emissions += runLen; runLen += 1 }
              if (runLen > maxRun) maxRun = runLen
            }
            Iterator.single((emissions, maxRun, rows))
          }.collect()
      }
      println(s"[extra] emissions=${stats.map(_._1).sum} maxRun=${stats.map(_._2).max} " +
        s"rows=${stats.map(_._3).sum}")
      // verbatim candidatePairs iterator, with and without the distinct
      def scanned = rep.select(col("key"), col("id")).as[(Long, String)]
        .mapPartitions { it =>
          new Iterator[(String, String)] {
            private val out = scala.collection.mutable.Queue.empty[(String, String)]
            private val runb = scala.collection.mutable.ArrayBuffer.empty[String]
            private var curKey: Long = Long.MinValue
            private var haveKey = false
            private def advance(): Unit = {
              while (out.isEmpty && it.hasNext) {
                val (key, id) = it.next()
                if (!haveKey || key != curKey) { runb.clear(); curKey = key; haveKey = true }
                if (runb.length < 1024) {
                  var i = 0
                  while (i < runb.length) {
                    val oid = runb(i)
                    if (oid != id) out += ((oid, id))
                    i += 1
                  }
                  runb += id
                }
              }
            }
            def hasNext: Boolean = { advance(); out.nonEmpty }
            def next(): (String, String) = { advance(); out.dequeue() }
          }
        }.toDF("id1", "id2")
      timed("verbatim scan, no distinct") { scanned.count(): Unit }
      timed("verbatim scan + distinct") { scanned.distinct().count(): Unit }
      timed("candidatePairs again") {
        graft.ops.Banding.candidatePairs(banded, 1024).count(): Unit
      }
      images.unpersist()
    }

    run("queries") {
      val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      ordered.foreach { case (name, fn) =>
        timed(s"q:$name") { fn(spark, sfDir).count(): Unit }
      }
    }

    // Dump .explain("formatted") for every declared query into
    // plans/r06/<query>_<tag>.txt (tag = second CLI arg, e.g. before /
    // after). Queries with side-effecting builders still run their
    // fixture writes — plans reflect the returned frame.
    if (section == "plans") {
      val tag = if (args.length > 1) args(1) else "before"
      val outDir = new java.io.File("plans/r06")
      outDir.mkdirs()
      val only: Set[String] = if (args.length > 2) args.drop(2).toSet else Set.empty
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (only.isEmpty || only.contains(name)) {
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              new java.io.File(outDir, s"${name}_$tag.txt").toPath,
              plan.getBytes("UTF-8")): Unit
            println(s"[extra] wrote plan $name ($tag)")
          } catch {
            case e: Throwable =>
              println(s"[extra] plan $name FAILED: ${e.getMessage}")
          }
        }
      }
    }

    spark.stop()
    PipelineCache.clear()
    PipelineLoop.reset()
  }
}
