package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM.
  *
  *   perfbench.Main --workload W --seed S --seconds T --trace 0|1 --work DIR
  *
  * Sets up three times (median = `setup_s`), runs one cold pass, then
  * warm passes for `--seconds`. Every pass is checked outside its timed
  * window. The last stdout line is the result object; the line before
  * it holds the detail (quartiles, sample counts, machine load). */
object Main {

  final case class Pass(traced: Boolean, e2eS: Double, liveMb: Double,
      failures: Seq[String], f1: Option[Double], layers: Map[String, Double])

  /** Least warm passes per run (doubled in a traced run: one untraced
    * and one traced each). The cold pass is the warm-up, so one is
    * enough for a median over the ten runs of a workload. */
  private val WarmMin = 1
  private val Setups = 3

  /** Heap in use after full collections, in MB. Spark frees the blocks
    * of unreachable broadcasts and of non-blocking unpersists on other
    * threads once a collection has found them, so this collects, lets
    * that cleanup run, and collects again: the figure is then the live
    * set, not a race with the cleaner. */
  private def settledHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def log(msg: String): Unit =
    System.err.println(f"perfbench: ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"perfbench: unknown workload; choose one of ${Workloads.names.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = Machine.snapshot()

    // set-up, several times: a fresh session and the generated input
    // each time; the first one also pays JVM start
    var spark: SparkSession = null
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val sinceJvmStart = if (i == 0) System.currentTimeMillis() - jvmStartMs else 0L
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = Session.build(cores, work)
      workload.prepare(spark, seed)
      val took = sinceJvmStart / 1e3 + (System.nanoTime() - t0) / 1e9
      log(f"setup $i: $took%.3fs")
      took
    }
    workload.reference(spark)
    log(s"reference ready; ${workload.describe}")
    val listener = new Trace.Listener
    spark.sparkContext.addSparkListener(listener)

    var k = 0
    def runPass(tracedPass: Boolean): Pass = {
      val dir = new java.io.File(work, s"pass$k"); k += 1
      System.gc()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      listener.take()
      val tr = new Tracer(tracedPass)
      val t0 = System.nanoTime()
      val out = Try(workload.pass(spark, tr, dir.getPath))
      val e2e = (System.nanoTime() - t0) / 1e9
      // the live set the pass leaves behind: its outputs and caches are
      // still held here
      val live = settledHeapMb()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val (jobs, tasks) = listener.take()
      val checked = out.flatMap(o => Try(workload.check(spark, o, dir.getPath)))
      spark.catalog.clearCache()
      graft.engine.Scratch.deleteRecursively(dir)
      log(f"pass ${k - 1}${if (tracedPass) " (traced)" else ""}: $e2e%.3fs")
      checked match {
        case Success(c) =>
          val layers =
            if (!tracedPass) Map.empty[String, Double]
            else {
              val l = LayerReport(tr.recorded, jobs, tasks, cores) ++ c.counts
              val ds = l("detect.s")
              l + ("detect.rows_per_s" -> (if (ds > 0) workload.rows / ds else 0.0))
            }
          c.failures.foreach(f => System.err.println(s"perfbench: check failed: $f"))
          Pass(tracedPass, e2e, live, c.failures, Some(c.f1), layers)
        case Failure(e) =>
          System.err.println(s"perfbench: pass failed: $e")
          e.printStackTrace()
          Pass(tracedPass, e2e, live, Seq(e.toString), None, Map.empty)
      }
    }

    val cold = runPass(traced)
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // the traced run alternates untraced and traced warm passes, so that
    // trace.overhead_frac compares passes made under the same conditions
    val warmMin = WarmMin * (if (traced) 2 else 1)
    while (warm.size < warmMin || elapsed < seconds)
      warm += runPass(traced && warm.size % 2 == 1)
    val loadEnd = Machine.snapshot()
    spark.stop()

    val all = cold +: warm.toSeq
    val ok = (p: Pass) => p.failures.isEmpty
    val failed = all.count(!ok(_))
    val plain = warm.filter(p => !p.traced && ok(p)).toSeq
    val series = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Double], String)]
    series("setup_s") = (setups, "s")
    if (ok(cold) && !cold.traced) series("cold_s") = (Seq(cold.e2eS), "s")
    series("e2e_s") = (plain.map(_.e2eS), "s")
    series("rows_per_s") = (plain.map(p => workload.rows / p.e2eS), "rows/s")
    series("live_heap_mb") = (plain.map(_.liveMb), "MB")
    series("decision_f1") = (all.flatMap(_.f1), "frac")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) series.toSeq.collect { case (n, (xs, u)) if xs.nonEmpty => (n, Stats.median(xs), u) }
      else {
        val tracedOk = all.filter(p => p.traced && ok(p))
        val warmTraced = tracedOk.filterNot(_ eq cold)
        val base = if (warmTraced.nonEmpty) warmTraced else tracedOk
        val layerNames = Trace.layers.flatMap(l => Trace.layerMetrics.map { case (m, u) => (s"$l.$m", u) }) ++
          Workloads.specific
        layerNames.flatMap { case (name, unit) =>
          // compiles happen on first use, so they come from the cold pass
          val from = if (name.endsWith(".compiles") || name.endsWith(".compile_s")) tracedOk.take(1) else base
          val xs = from.map(_.layers.getOrElse(name, 0.0))
          if (xs.isEmpty) None else Some((name, Stats.median(xs), unit))
        } ++ {
          val t = warmTraced.map(_.e2eS)
          if (t.nonEmpty && plain.nonEmpty)
            Seq(("trace.overhead_frac", Stats.median(t) / Stats.median(plain.map(_.e2eS)) - 1.0, "frac"))
          else Nil
        }
      }

    val detail = Json.obj(
      "workload" -> Json.str(workload.name), "seed" -> Json.num(seed.toDouble),
      "input" -> Json.str(workload.describe),
      "cores" -> Json.num(cores), "traced" -> Json.bool(traced),
      "passes" -> Json.num(all.size), "failed_frac" -> Json.num(failed.toDouble / all.size),
      "summary" -> Json.obj(series.toSeq.map { case (n, (xs, u)) =>
        val (q1, q3) = Stats.quartiles(xs)
        n -> Json.obj("median" -> Json.num(if (xs.isEmpty) 0.0 else Stats.median(xs)),
          "q1" -> Json.num(q1), "q3" -> Json.num(q3), "samples" -> Json.num(xs.size), "unit" -> Json.str(u))
      }: _*),
      "machine_start" -> loadStart, "machine_end" -> loadEnd)
    println(detail)
    println(Json.obj(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(all.size),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)))
    System.out.flush()
    sys.exit(0)
  }
}

object Session {
  /** Local session with the repo's bench settings, and every scratch
    * directory under `work`. */
  def build(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.io.compression.codec", "lz4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Machine load around a run: 1-minute loadavg, whole-box CPU busy and
  * steal fractions over a short window, and the count of other JVMs. */
object Machine {
  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  def snapshot(): String = {
    val load = Try(read("/proc/loadavg").split(" ")(0).toDouble).getOrElse(-1.0)
    def stat(): Array[Long] = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    val (busy, steal) = Try {
      val a = stat(); Thread.sleep(300); val b = stat()
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.sum.toDouble
      if (total <= 0) (0.0, 0.0)
      else (1.0 - (d(3) + d(4)) / total, (if (d.length > 7) d(7) else 0L) / total)
    }.getOrElse((-1.0, -1.0))
    val self = ProcessHandle.current().pid()
    val jvms = Try(java.nio.file.Files.list(java.nio.file.Paths.get("/proc")).iterator().asScala
      .flatMap(_.getFileName.toString.toLongOption)
      .count(pid => pid != self && Try(read(s"/proc/$pid/comm").trim == "java").getOrElse(false)))
      .getOrElse(-1)
    Json.obj("loadavg" -> Json.num(load), "cpu_busy_frac" -> Json.num(busy),
      "cpu_steal_frac" -> Json.num(steal), "sibling_jvms" -> Json.num(jvms))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val m = s.size
    if (m % 2 == 1) s(m / 2) else (s(m / 2 - 1) + s(m / 2)) / 2
  }

  /** First and third quartiles, Python `statistics.quantiles(n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq; val ld = s.size
    if (ld == 0) (0.0, 0.0)
    else if (ld == 1) (s(0), s(0))
    else {
      def q(i: Int): Double = {
        val m = ld + 1
        val j = math.min(math.max(i * m / 4, 1), ld - 1)
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4
      }
      (q(1), q(3))
    }
  }
}

/** Minimal JSON rendering; numbers keep every digit Double.toString gives. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
