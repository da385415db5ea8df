package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Layer spans and the Spark work done inside them.
  *
  * A span is recorded by the benchmark around each call into a layer's
  * public entry point. Jobs are attributed to the span whose interval
  * holds their SUBMISSION time, not to a job-group property: the loop and
  * the rule explainer submit jobs from pooled Future threads, which do
  * not reliably inherit the calling thread's local properties. Stages
  * and tasks follow their job.
  *
  * `loop` is the one composite layer: `ValidationRun.run` calls other
  * layers internally, and its spans cannot be split from outside. Jobs
  * inside a loop span whose call site names another layer's entry point
  * go to that layer; the loop keeps the rest (its self time).
  */
object Trace {

  val layers: Seq[String] = Seq(
    "models", "detect", "discovery.phash", "discovery.threshold",
    "discovery.clusters", "explain.som", "explain.rules", "loop", "engine.write")

  /** Per-layer metric suffixes and units, in output order. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "s" -> "s", "cpu_s" -> "s", "idle_frac" -> "frac", "jobs" -> "count", "tasks" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s", "compiles" -> "count",
    "compile_s" -> "s", "failed_tasks" -> "count")

  /** Innermost-first call-site frames that move a loop job to the layer
    * whose entry point issued it. */
  private val loopChildren: Seq[(String, String)] = Seq(
    "graft.discovery.Thresholds$" -> "discovery.threshold",
    "graft.discovery.PhashDup$" -> "discovery.phash",
    "graft.models." -> "models",
    "graft.detect.Scorer$.fit" -> "models",
    "graft.detect.Scorer$.withScores" -> "detect",
    "graft.detect.Scorer$.withDecision" -> "detect")

  private[perfbench] def childOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).flatMap { frame =>
      loopChildren.collectFirst { case (p, l) if frame.startsWith(p) => l }
    }.nextOption()

  final case class JobRec(id: Int, submitMs: Long, var endMs: Long, callSite: String)
  final case class TaskRec(job: Int, cpuNs: Long, runMs: Long, shuffleWriteB: Long,
      spillB: Long, failed: Boolean)
  final case class Span(layer: String, startMs: Long, endMs: Long, gcMs: Long,
      compiles: Long, compileNs: Long)

  /** Collects job and task events; read only after the bus is drained. */
  final class Listener extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val tasks = mutable.ArrayBuffer.empty[TaskRec]

    private val executionSite = mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { executionSite(s.executionId) = s.details }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // adaptive execution submits a query's stages from a pool thread,
      // so the call site that names the caller is the SQL execution's;
      // otherwise the result stage's (created last, so the highest id)
      val props = Option(e.properties)
      val cs = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.long"))))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, cs)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val job = stageJob.getOrElse(e.stageId, -1)
      tasks += (if (m == null) TaskRec(job, 0L, 0L, 0L, 0L, failed = true)
      else TaskRec(job, m.executorCpuTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        failed = e.reason != Success))
    }

    /** Everything recorded since the last call, then forget it. */
    def take(): (Seq[JobRec], Seq[TaskRec]) = synchronized {
      val out = (jobs.values.toSeq, tasks.toSeq)
      jobs.clear(); stageJob.clear(); tasks.clear(); executionSite.clear()
      out
    }
  }

  private[perfbench] def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private[perfbench] def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private[perfbench] def compileNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Span recorder handed to a workload pass. With `on = false` every hook
  * is the identity, so an untraced pass is the plain production
  * composition; with `on = true` each layer call gets a span and lazy
  * outputs are materialized at the span's end (`boundary`) so that the
  * next span does not pay for them. */
final class Tracer(val on: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]

  def layer[T](name: String)(body: => T): T =
    if (!on) body
    else {
      require(layers.contains(name), s"unknown layer $name")
      val gc0 = gcMillis(); val c0 = compileCount(); val n0 = compileNanos()
      val t0 = System.currentTimeMillis()
      try body
      finally spans += Span(name, t0, System.currentTimeMillis(), gcMillis() - gc0,
        compileCount() - c0, compileNanos() - n0)
    }

  /** Cache and count a lazy layer output inside the current span. */
  def boundary(df: DataFrame): DataFrame =
    if (!on) df else { val c = df.cache(); c.count(); c }

  def recorded: Seq[Span] = spans.toSeq
}

/** Turns one traced pass's spans and Spark events into the per-layer
  * metrics. `cores` is the executor slot count (idle_frac's capacity). */
object LayerReport {
  import Trace._

  private final class Acc {
    var s = 0.0; var cpuNs = 0L; var runMs = 0L; var jobs = 0L; var tasks = 0L
    var shuffleB = 0L; var spillB = 0L; var gcMs = 0L; var compiles = 0L
    var compileNs = 0L; var failed = 0L
  }

  /** Total length of the union of closed intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def apply(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec],
      cores: Int): Map[String, Double] = {
    val acc = layers.map(_ -> new Acc).toMap
    spans.foreach { sp =>
      val a = acc(sp.layer)
      a.s += (sp.endMs - sp.startMs) / 1e3
      a.gcMs += sp.gcMs; a.compiles += sp.compiles; a.compileNs += sp.compileNs
    }
    // job -> layer, by submission time (a boundary instant goes to the
    // later span: a span's own jobs are submitted after it starts), then
    // from a loop span to the layer its call site names, if any
    val attributed = jobs.flatMap { j =>
      spans.filter(sp => sp.startMs <= j.submitMs && j.submitMs <= sp.endMs).lastOption
        .map { sp =>
          val child = if (sp.layer == "loop") childOf(j.callSite) else None
          (j, child.getOrElse(sp.layer), child.isDefined)
        }
    }
    val jobLayer = attributed.map { case (j, l, _) => j.id -> l }.toMap
    jobs.foreach(j => jobLayer.get(j.id).foreach(l => acc(l).jobs += 1))
    tasks.foreach { t =>
      jobLayer.get(t.job).foreach { l =>
        val a = acc(l)
        a.tasks += 1; a.cpuNs += t.cpuNs; a.runMs += t.runMs
        a.shuffleB += t.shuffleWriteB; a.spillB += t.spillB
        if (t.failed) a.failed += 1
      }
    }
    // layers reached from inside the loop: busy time is the union of
    // their jobs' intervals, and the loop keeps only its self time
    val nested = attributed.collect { case (j, l, true) => (l, (j.submitMs, math.max(j.submitMs, j.endMs))) }
    nested.groupBy(_._1).foreach { case (l, iv) => acc(l).s += unionMs(iv.map(_._2)) / 1e3 }
    acc("loop").s -= unionMs(nested.map(_._2)) / 1e3

    layers.flatMap { l =>
      val a = acc(l)
      val idle = if (a.s > 0) 1.0 - a.runMs / 1e3 / (a.s * cores) else 0.0
      Seq(
        s"$l.s" -> a.s, s"$l.cpu_s" -> a.cpuNs / 1e9, s"$l.idle_frac" -> idle,
        s"$l.jobs" -> a.jobs.toDouble, s"$l.tasks" -> a.tasks.toDouble,
        s"$l.shuffle_mb" -> a.shuffleB / 1e6, s"$l.spill_mb" -> a.spillB / 1e6,
        s"$l.gc_s" -> a.gcMs / 1e3, s"$l.compiles" -> a.compiles.toDouble,
        s"$l.compile_s" -> a.compileNs / 1e9, s"$l.failed_tasks" -> a.failed.toDouble)
    }.toMap
  }
}
