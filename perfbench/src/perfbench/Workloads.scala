package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.detect.Scorer
import graft.discovery.{PhashDup, Thresholds}
import graft.engine.TableIO
import graft.explain.{ClusterExplainer, SomClustering}
import graft.loop.ValidationRun
import graft.synth.{GenConfig, ImageGen, ImageRow}

/** Outcome of the checks on one pass: failures (empty when correct), the
  * keep/drop F1, and layer-specific counts for the trace. */
final case class Checked(failures: Seq[String], f1: Double, counts: Map[String, Double])

/** One benchmark workload. `prepare` is set-up (timed as `setup_s`);
  * `reference` builds check data once, untimed; `pass` is the timed work
  * and returns what `check` needs; `check` runs untimed. */
trait Workload {
  def name: String
  /** Rows one pass processes (the `rows_per_s` numerator). */
  def rows: Long
  def prepare(spark: SparkSession, seed: Long): Unit
  def reference(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer, dir: String): AnyRef
  def check(spark: SparkSession, out: AnyRef, dir: String): Checked
  /** One line describing the input (and, once checked, its shape),
    * printed with every run. */
  def describe: String = s"rows=$rows"
}

object Workloads {

  def byName(name: String): Option[Workload] = name match {
    case "loop_rounds" => Some(new LoopRounds(n = 10000L, rounds = 2))
    case "dup_explain" => Some(new DupExplain(n = 20000L))
    case _ => None
  }

  val names: Seq[String] = Seq("loop_rounds", "dup_explain")

  /** Layer-specific trace metrics (name, unit), beyond the 11 per layer. */
  val specific: Seq[(String, String)] = Seq(
    "detect.rows_per_s" -> "rows/s",
    "discovery.phash.pairs" -> "count", "discovery.phash.dup_ids" -> "count",
    "discovery.clusters.components" -> "count", "discovery.clusters.max_component" -> "count",
    "explain.som.units_used" -> "count", "explain.rules.rules" -> "count",
    "loop.round_s" -> "s", "loop.output_mb" -> "MB", "engine.write.mb" -> "MB")

  /** Keep/drop confusion counts of `decisions` against the generator's
    * `expected` labels, joined on image_id: (tp, fp, fn, matched rows,
    * scrubbed captions that differ). The last is 0 unless both frames
    * carry `scrubbed_caption`. */
  def confusion(decisions: DataFrame, expected: DataFrame): (Long, Long, Long, Long, Long) = {
    val scrub = decisions.columns.contains("scrubbed_caption") &&
      expected.columns.contains("scrubbed_caption")
    def side(df: DataFrame, d: String, c: String) = df.select(col("image_id"), col("decision").as(d),
      (if (scrub) col("scrubbed_caption") else lit(null).cast("string")).as(c))
    val r = side(decisions, "got", "got_s").join(side(expected, "want", "want_s"), Seq("image_id"))
      .agg(
        sum(when(col("got") === "drop" && col("want") === "drop", 1L).otherwise(0L)),
        sum(when(col("got") === "drop" && col("want") === "keep", 1L).otherwise(0L)),
        sum(when(col("got") === "keep" && col("want") === "drop", 1L).otherwise(0L)),
        count(lit(1)),
        sum(when(col("got_s") <=> col("want_s"), 0L).otherwise(1L)))
      .head()
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (g(0), g(1), g(2), g(3), g(4))
  }

  def f1(tp: Long, fp: Long, fn: Long): Double = {
    val p = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
    val r = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
    if (p + r > 0) 2 * p * r / (p + r) else 0.0
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()
}

/** `loop_rounds`: the iterative oracle loop, `ValidationRun.run`, into a
  * fresh directory, then one write of its final decisions. */
final class LoopRounds(n: Long, rounds: Int) extends Workload {
  val name = "loop_rounds"
  val rows: Long = n
  private var seed = 0L
  private var expected: DataFrame = _

  def prepare(spark: SparkSession, seed: Long): Unit = {
    this.seed = seed
    // the loop generates its own input from the run config; set-up
    // materializes the generator-truth labels the checks compare with
    expected = ImageGen.expected(spark, GenConfig(n = n, seed = seed, faultPct = 5))
      .localCheckpoint(eager = true)
  }

  def reference(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, tr: Tracer, dir: String): AnyRef = {
    val cfg = ValidationRun.RunConfig(n = n, rounds = rounds, seed = seed,
      faultPct = 5, outDir = s"$dir/loop")
    val poller = if (tr.on) Some(new RoundPoller(cfg.outDir, rounds)) else None
    val (res, decisions) = tr.layer("loop") {
      val r = ValidationRun.run(spark, cfg)
      (r, tr.boundary(r.decisions))
    }
    poller.foreach(_.stop())
    val out = s"$dir/decisions"
    tr.layer("engine.write")(TableIO.createOrReplace(decisions, out))
    (res, out, poller)
  }

  def check(spark: SparkSession, out: AnyRef, dir: String): Checked = {
    val (res, path, poller) =
      out.asInstanceOf[(ValidationRun.RunResult, String, Option[RoundPoller])]
    val failures = Seq.newBuilder[String]
    if (res.metrics.size != rounds) failures += s"${res.metrics.size} metrics rows for $rounds rounds"
    val metricRows = TableIO.read(spark, s"$dir/loop/metrics")
      .groupBy(col("round")).agg(count(lit(1)).as("rows"), min(col("run")).as("run"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2))).toMap
    (1 to rounds).foreach { r =>
      if (!metricRows.get(r).contains((1L, r))) failures += s"round $r metrics table is not one row"
    }
    // TPR and FNR recomputed from each round's audit table
    val af = (c: String) => col(c).startsWith("actualFault")
    val audit = TableIO.read(spark, s"$dir/loop/audit").groupBy(col("round")).agg(
      sum(when(col("is_susp"), 1L).otherwise(0L)),
      sum(when(af("status_new"), 1L).otherwise(0L)),
      sum(when(af("status_old"), 1L).otherwise(0L)),
      sum(when(af("status_old") && !af("status_new"), 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> (1 to 4).map(r.getLong)).toMap
    res.metrics.foreach { m =>
      audit.get(m.run) match {
        case None => failures += s"no audit table for round ${m.run}"
        case Some(Seq(faulty, afNew, afOld, lost)) =>
          val tpr = if (afNew > 0 && faulty > 0) afNew.toDouble / faulty else 0.0
          val fnr = if (afOld > 0) lost.toDouble / afOld else 0.0
          if (tpr != m.truePositiveRate) failures += s"round ${m.run} TPR $tpr != ${m.truePositiveRate}"
          if (fnr != m.falseNegativeRate) failures += s"round ${m.run} FNR $fnr != ${m.falseNegativeRate}"
        case Some(other) => failures += s"round ${m.run} audit shape $other"
      }
    }
    val written = TableIO.read(spark, path)
    val (tp, fp, fn, matched, badScrub) = Workloads.confusion(written, expected)
    if (matched != n) failures += s"$matched of $n decisions match the generator"
    if (badScrub != 0) failures += s"$badScrub scrubbed captions differ from the generator"
    val f1 = Workloads.f1(tp, fp, fn)
    if (!(f1 >= 0.99)) failures += s"decision_f1 $f1 < 0.99"
    val counts = Map(
      "loop.output_mb" -> Workloads.dirBytes(new java.io.File(s"$dir/loop")) / 1e6,
      "engine.write.mb" -> Workloads.dirBytes(new java.io.File(path)) / 1e6) ++
      poller.flatMap(_.medianGapS).map(g => "loop.round_s" -> g)
    poller.foreach { p =>
      if (p.medianGapS.isEmpty) failures += "round poller saw fewer than two rounds complete"
    }
    Checked(failures.result(), f1, counts)
  }
}

/** Polls a loop's output directory for each round's checkpoint
  * `_SUCCESS` markers from a benchmark thread. `medianGapS` is the median
  * gap between successive rounds completing. */
final class RoundPoller(outDir: String, rounds: Int) {
  private val kinds = Seq("statuses", "metrics", "audit", "lineage", "thresholds")
  private val done = new Array[Long](rounds + 1)
  @volatile private var running = true
  private val thread = new Thread(() => {
    var next = 1
    while (running && next <= rounds) {
      if (kinds.forall(k => new java.io.File(s"$outDir/$k/round=$next/_SUCCESS").exists())) {
        done(next) = System.nanoTime(); next += 1
      } else Thread.sleep(5)
    }
  }, "perfbench-round-poller")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  def medianGapS: Option[Double] = {
    val seen = (1 to rounds).takeWhile(done(_) > 0).map(done(_))
    val gaps = seen.zip(seen.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    if (gaps.isEmpty) None else Some(Stats.median(gaps))
  }
}

/** What a `dup_explain` pass hands to its check. */
private[perfbench] final case class DupOut(pairs: DataFrame,
    labels: Array[(String, String)], scored: DataFrame, t: Double,
    units: Array[(Int, Long)], rules: Int, dupIds: Long, written: String)

/** `dup_explain`: dense near-duplicate graph plus the explain layers —
  * phash pairs, connected components, fit, dedup ids, score, threshold,
  * SOM over the faulty rows and per-cluster rule trees — ending, like the
  * production one-shot filter, with one write of decisions and scrubbed
  * captions. */
final class DupExplain(n: Long) extends Workload {
  val name = "dup_explain"
  val chainLen = 60
  /** Seeded near-duplicate chains on about 1% of rows. */
  val chains: Int = math.max(1L, n / 100L / chainLen).toInt
  val rows: Long = n + chains.toLong * chainLen
  private var cfg: GenConfig = _
  private var images: DataFrame = _
  private var known = 0L
  private var expected: DataFrame = _
  private var phash: Map[String, Long] = Map.empty

  def prepare(spark: SparkSession, seed: Long): Unit = {
    cfg = GenConfig(n = n, seed = seed, faultPct = 20)
    images = ImageGen.images(spark, cfg).unionByName(Chains.rows(spark, cfg, chains, chainLen))
      .localCheckpoint(eager = true)
    known = ImageGen.knownFaults(spark, cfg).count()
  }

  def reference(spark: SparkSession): Unit = {
    import spark.implicits._
    expected = ImageGen.expected(spark, cfg).select("image_id", "decision", "scrubbed_caption")
      .unionByName(Chains.expected(spark, cfg, chains, chainLen)
        .toDF("image_id", "decision", "scrubbed_caption"))
      .localCheckpoint(eager = true)
    phash = images.select("image_id", "phash").as[(String, Long)].collect().toMap
  }

  def pass(spark: SparkSession, tr: Tracer, dir: String): AnyRef = {
    import spark.implicits._
    val scoreCols = Scorer.scoreNames
    val pairs = tr.layer("discovery.phash")(tr.boundary(PhashDup.duplicatePairs(images).cache()))
    val labels = tr.layer("discovery.clusters")(
      PhashDup.clusters(pairs).as[(String, String)].collect())
    val models = tr.layer("models")(Scorer.fit(spark, images))
    val dupDrop = tr.layer("discovery.phash")(tr.boundary(PhashDup.dropIds(images).cache()))
    val scored = tr.layer("detect")(tr.boundary(Scorer.withScores(images, models, dupDrop).cache()))
    val (t, median) = tr.layer("discovery.threshold")(Thresholds.discover(
      scored.withColumn("status", lit("clean")), "invalidity_score", "status", known, rows))
    val units = tr.layer("explain.som")(SomClustering.clusterFaulty(
      scored.filter(col("invalidity_score") >= t), scoreCols)
      .groupBy("cluster_id").count().as[(Int, Long)].collect())
    val (rules, labeled) = tr.layer("explain.rules")(
      ClusterExplainer.explainStructured(scored, scoreCols, t, median))
    labeled.unpersist()
    val decisions = tr.layer("detect")(tr.boundary(Scorer.withDecision(scored, t)
      .select("image_id", "decision", "invalidity_score", "scrubbed_caption")))
    val out = s"$dir/decisions"
    tr.layer("engine.write")(TableIO.createOrReplace(decisions, out))
    val dupIds = if (tr.on) dupDrop.count() else 0L
    DupOut(pairs, labels, scored, t, units, rules.size, dupIds, out)
  }

  /** Input graph shape, known once a pass is checked. */
  private var shape = ""

  def check(spark: SparkSession, out: AnyRef, dir: String): Checked = {
    import spark.implicits._
    val o = out.asInstanceOf[DupOut]
    val pairs = o.pairs.as[(String, String, Int)].collect()
    val failures = Seq.newBuilder[String]
    val badPairs = pairs.count { case (a, b, h) =>
      val d = java.lang.Long.bitCount(phash(a) ^ phash(b))
      d > 4 || d != h || !(a < b)
    }
    if (badPairs != 0) failures += s"$badPairs pairs not at Hamming <= 4"
    // independent driver-side union-find: label = component minimum
    val uf = new UnionFind
    pairs.foreach { case (a, b, _) => uf.union(a, b) }
    val want = uf.minLabels
    val got = o.labels.toMap
    if (got.size != o.labels.length) failures += "duplicate ids in cluster labels"
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      failures += s"$diff cluster labels differ from the component minimum"
    }
    val faulty = o.scored.filter(col("invalidity_score") >= o.t).count()
    val outOfGrid = o.units.count { case (u, _) => u < 0 || u >= 25 }
    if (outOfGrid != 0) failures += s"$outOfGrid SOM units outside [0, 25)"
    if (o.units.map(_._2).sum != faulty) failures += "SOM did not assign every faulty row"
    if (o.rules == 0) failures += "no rules"
    val written = TableIO.read(spark, o.written)
    val cnt = written.count()
    if (cnt != rows) failures += s"written rows $cnt != $rows"
    val (tp, fp, fn, matched, badScrub) = Workloads.confusion(written, expected)
    if (matched != rows) failures += s"$matched of $rows written ids match the generator"
    if (badScrub != 0) failures += s"$badScrub scrubbed captions differ from the generator"
    val f1 = Workloads.f1(tp, fp, fn)
    if (!(f1 >= 0.99)) failures += s"decision_f1 $f1 < 0.99"
    val sizes = want.groupBy(_._2).values.map(_.size)
    shape = s"pairs=${pairs.length} components=${sizes.size} " +
      s"largest_component=${if (sizes.isEmpty) 0 else sizes.max} chains=$chains"
    Checked(failures.result(), f1, Map(
      "engine.write.mb" -> Workloads.dirBytes(new java.io.File(o.written)) / 1e6,
      "discovery.phash.pairs" -> pairs.length.toDouble,
      "discovery.phash.dup_ids" -> o.dupIds.toDouble,
      "discovery.clusters.components" -> sizes.size.toDouble,
      "discovery.clusters.max_component" -> (if (sizes.isEmpty) 0 else sizes.max).toDouble,
      "explain.som.units_used" -> o.units.length.toDouble,
      "explain.rules.rules" -> o.rules.toDouble))
  }

  override def describe: String = s"rows=$rows base=$n chains=$chains x $chainLen $shape".trim
}

/** Seeded near-duplicate chains appended to a generated table. Chain c
  * takes ids n + c*len .. n + (c+1)*len - 1, clean captions, and phashes
  * that each flip one more of `len - 1` distinct bits of the head's
  * phash: neighbours are 1 bit apart, rows i and j are |i - j| apart, so
  * with pairs at Hamming <= 4 a chain's diameter is ceil((len - 1) / 4).
  * Every row but the head is a duplicate to drop. */
object Chains {
  private def id(cfg: GenConfig, chain: Int, k: Int, len: Int): Long =
    cfg.n + chain.toLong * len + k

  private def imageId(i: Long): String =
    String.format(java.util.Locale.ROOT, "img%09d", Long.box(i))

  /** The chain's bit order: a seeded shuffle of 0..63. */
  private def bits(cfg: GenConfig, chain: Int): Array[Int] = {
    val rng = new ImageGen.Rng(cfg.seed, chain.toLong, 0xc4a1L)
    val b = Array.range(0, 64)
    var i = 63
    while (i > 0) { val j = rng.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1 }
    b
  }

  def rows(spark: SparkSession, cfg: GenConfig, chains: Int, len: Int): DataFrame = {
    import spark.implicits._
    require(len <= 64, "a chain flips distinct bits, at most 64")
    val c = cfg
    spark.range(0L, chains.toLong * len, 1L, math.max(1, math.min(chains, cfg.parts)))
      .map { x =>
        val chain = (x / len).toInt; val k = (x % len).toInt
        val head = id(c, chain, 0, len)
        val b = bits(c, chain)
        var p = ImageGen.cleanPhash(c.seed, head)
        var i = 0
        while (i < k) { p ^= 1L << b(i); i += 1 }
        val me = id(c, chain, k, len)
        val (w, h) = ImageGen.cleanDims(c.seed, me)
        ImageRow(imageId(me), null, w, h, ImageGen.cleanFmt(c.seed, me),
          ImageGen.cleanCaption(c.seed, me), p)
      }.toDF()
  }

  /** (image_id, decision, scrubbed caption) of every chain row. */
  def expected(spark: SparkSession, cfg: GenConfig, chains: Int, len: Int)
      : org.apache.spark.sql.Dataset[(String, String, String)] = {
    import spark.implicits._
    val c = cfg
    spark.range(0L, chains.toLong * len, 1L, 1).map { x =>
      val chain = (x / len).toInt; val k = (x % len).toInt
      val me = id(c, chain, k, len)
      (imageId(me), if (k == 0) "keep" else "drop", ImageGen.cleanCaption(c.seed, me))
    }
  }
}

/** Plain union-find over string ids, labelling each id with the minimum
  * id of its component. */
final class UnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[String, String]
  private def find(x: String): String = {
    var r = x
    while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }
  def union(a: String, b: String): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }
  /** Roots are always the smallest id of their component. */
  def minLabels: Map[String, String] = parent.keys.toSeq.map(k => k -> find(k)).toMap
}
