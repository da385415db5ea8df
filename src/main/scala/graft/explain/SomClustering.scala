package graft.explain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch self-organizing map (M9): the Spark-native rebuild of the
  * reference's per-row TensorFlow SOM
  * (/root/reference/backendClasses/SOM.py:36-230; constructed 5×5 with
  * 400 online iterations at DQTestToolHelper.py:255, α=0.3,
  * σ₀=max(m,n)/2, neighbourhood exp(−d²/σ_t²) with linear decay
  * σ_t=σ₀·(1−t/T), BMU = first argmin Euclidean, clusters = rows
  * grouped by BMU cell, SOM.py:218-230).
  *
  * The reference feeds rows one at a time through a TF session
  * (SOM.py:160-168) — O(rows·iters) sequential updates, the
  * single-node bottleneck SURVEY.md §5 calls out. graft fits the BATCH
  * SOM instead: each epoch assigns every row its BMU, reduces to m·n
  * (sum-vector, count) partials, and applies the Gaussian-neighbourhood
  * smoothing over the tiny m·n×m·n grid:
  *
  *   w_j ← Σ_b h_t(j,b)·S_b / Σ_b h_t(j,b)·C_b
  *
  * (S_b/C_b = per-BMU feature sums/counts, h_t the reference's kernel;
  * units with zero total mass keep their weights). No learning rate —
  * the batch update is the closed-form fixed point of the reference's
  * online rule at each neighbourhood width, so α drops out. With σ→0 an
  * epoch degenerates to exactly one Lloyd (k-means) step over the
  * occupied units, which SomSpec asserts. The fit runs on a bounded
  * sample ([[clusterFaulty]]), so its epochs run on the driver over the
  * collected sample — one Spark job per fit, not one per epoch;
  * assignment of the full input stays a partition-parallel expression.
  *
  * BMU assignment is a native Catalyst expression over the codebook
  * (no UDF, no serde): squared-distance fold per unit, the FIRST
  * minimal unit wins,
  * matching tf.argmin's tie rule (SOM.py:76-80) — and the left-to-right
  * fold order makes every distance bit-reproducible by any engine that
  * sums the squared differences in feature order, which is how the
  * qf_som_assign DuckDB oracle re-derives every BMU relationally.
  */
object SomClustering {

  /** Default bounded-fit sample size, shared with the SOM oracle
    * fixture writer so the two cannot drift. */
  val DefaultMaxFit: Int = 10000

  /** Trained map: `weights(u)` is the codebook vector of unit `u`;
    * grid location of `u` is (u / n, u % n) in row-major order, the
    * reference's `_neuron_locations` enumeration (SOM.py:144-152). */
  final case class SomModel(m: Int, n: Int, dim: Int, weights: Array[Array[Double]]) {
    require(weights.length == m * n, s"codebook must have ${m * n} units")
    def unitRow(u: Int): Int = u / n
    def unitCol(u: Int): Int = u % n
  }

  /** Deterministic N(0,1) init (the reference's tf.random_normal,
    * SOM.py:62-63, made reproducible): one seeded stream, row-major. */
  def initWeights(m: Int, n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(m * n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Squared-distance-argmin BMU: distances fold left-to-right over
    * features (acc starts at 0.0, and 0.0+d==d for the non-negative
    * squares, so the fold equals the plain in-order sum any other
    * engine computes); ties take the lowest unit index — the
    * array_position(array_min) first-match rule.
    *
    * A native expression (Exprs.SomBmu) holding the codebook as a
    * codegen reference object, so a new codebook reuses the compiled
    * plan; a typedlit-codebook higher-order-function chain would inline
    * the weights and recompile per codebook. SomSpec gates its BMUs
    * bit-identical to that chain. */
  def bmuColumn(weights: Array[Array[Double]], features: Column): Column = {
    require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
      "codebook must be non-empty with uniform dimension")
    org.apache.spark.sql.graft.Exprs.somBmu(features, weights)
  }

  /** Fit the map. `data` is collected once, as per-partition row arrays
    * ordered by partition id, and every epoch runs on the driver over
    * them: one Spark job per fit. The input must therefore fit on the
    * driver — [[clusterFaulty]] bounds it by `maxFit` (10k rows × 9
    * scores ≈ 0.7 MB); a larger input fails loudly at
    * `spark.driver.maxResultSize`, the same stance as
    * `PhashDup.clusters`. The smoothing matrix is m·n × m·n (25×25
    * here), negligible.
    *
    * DETERMINISM: each epoch accumulates (count, sum) partials per input
    * partition in row order, then adds them into the per-unit totals in
    * ascending partition-id order, so the fitted codebook is
    * bit-reproducible for any FIXED input partitioning (SomSpec pins a
    * 7-partition fit's bits). Repartitioning the input differently still
    * changes the sums at last-ulp, as with any partitioned FP reduce. */
  def fit(
      data: DataFrame,
      featureCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      sigma0: Double = -1.0,
      seed: Long = 42L): SomModel = {
    val dim = featureCols.size
    require(dim > 0, "need at least one feature column")
    val sig0 = if (sigma0 > 0) sigma0 else math.max(m, n) / 2.0
    val units = m * n
    // grid locations, row-major (SOM.py:144-152)
    val locs = Array.tabulate(units)(u => (u / n, u % n))
    val gridD2 = Array.tabulate(units, units) { (j, b) =>
      val dr = locs(j)._1 - locs(b)._1
      val dc = locs(j)._2 - locs(b)._2
      (dr * dr + dc * dc).toDouble
    }
    val spark0 = data.sparkSession
    import spark0.implicits._
    // the decoder returns a fresh array per row, so holding them is safe
    val parts = data.select(
      array(featureCols.map(c => col(c).cast("double")): _*).as("arr"))
      .as[Array[Double]]
      .mapPartitions(it =>
        Iterator((org.apache.spark.TaskContext.getPartitionId(), it.toArray)))
      .collect().sortBy(_._1).map(_._2)
    var w = initWeights(m, n, dim, seed)
    var t = 0
    while (t < epochs) {
      // reference decay: σ_t = σ₀·(1 − t/T) (SOM.py:96-100); at the
      // last epoch the factor is 1/T, never zero
      val sigT = sig0 * (1.0 - t.toDouble / epochs)
      val cnt = Array.fill(units)(0L)
      val sums = Array.fill(units)(Array.fill(dim)(0.0))
      parts.foreach { rows =>
        val pCnt = new Array[Long](units)
        val pSums = Array.fill(units)(new Array[Double](dim))
        rows.foreach { arr =>
          // ragged/null rows cannot occur (arr = cast score columns);
          // skip defensively rather than fold them into unit 0
          if (arr != null && arr.length == dim) {
            val b = org.apache.spark.sql.graft.Exprs.somBmuArray(arr, w)
            if (b >= 0) {
              pCnt(b) += 1L
              var i = 0
              while (i < dim) { pSums(b)(i) += arr(i); i += 1 }
            }
          }
        }
        var b = 0
        while (b < units) {
          if (pCnt(b) > 0L) {
            cnt(b) += pCnt(b)
            var i = 0
            while (i < dim) { sums(b)(i) += pSums(b)(i); i += 1 }
          }
          b += 1
        }
      }
      val s2 = sigT * sigT
      w = Array.tabulate(units) { j =>
        var den = 0.0
        val num = Array.fill(dim)(0.0)
        var b = 0
        while (b < units) {
          if (cnt(b) > 0L) {
            // reference kernel exp(−d²/σ_t²) — σ², not 2σ² (SOM.py:106-109)
            val h = math.exp(-gridD2(j)(b) / s2)
            den += h * cnt(b)
            var i = 0
            while (i < dim) { num(i) += h * sums(b)(i); i += 1 }
          }
          b += 1
        }
        if (den > 0.0) num.map(_ / den) else w(j)
      }
      t += 1
    }
    SomModel(m, n, dim, w)
  }

  /** Map every row to its BMU cell (map_vects, SOM.py:195-216):
    * partition-parallel, pure expression, no shuffle. Emits
    * (idCol, bmu_unit, bmu_row, bmu_col). */
  def assign(
      data: DataFrame,
      idCol: String,
      featureCols: Seq[String],
      model: SomModel): DataFrame = {
    // fail fast: zip_with pads the shorter array with nulls, so a
    // feature list whose length differs from the codebook dim would
    // otherwise emit silent all-NULL bmu_unit
    require(featureCols.size == model.dim,
      s"got ${featureCols.size} feature columns for a dim-${model.dim} codebook")
    data.select(col(idCol),
      bmuColumn(model.weights,
        array(featureCols.map(c => col(c).cast("double")): _*)).as("bmu_unit"))
      .withColumn("bmu_row", (col("bmu_unit") / model.n).cast("int"))
      .withColumn("bmu_col", pmod(col("bmu_unit"), lit(model.n)).cast("int"))
  }

  /** M9 end-to-end with the repo's sanctioned fit policy (bounded
    * deterministic hash-ordered fit sample, full-parallel assignment —
    * same shape as ClusterExplainer.clusterFaulty): cluster faulty rows
    * by BMU cell. `cluster_id` is the BMU unit index, so there are at
    * most m·n groups — the reference's grouping contract
    * (SOM.py:218-230). Raise `maxFit` to fit on more data, within what
    * the driver can hold ([[fit]]). */
  def clusterFaulty(
      faulty: DataFrame,
      scoreCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      seed: Long = 42L,
      maxFit: Int = DefaultMaxFit): DataFrame = {
    // hash-order on the row id, NOT the score vector: score vectors are
    // heavily duplicated (pure fault signatures), and hash-ordering on
    // them would sort whole signatures before others — the bounded
    // sample must stay representative of every family. The sampling
    // policy itself is ClusterExplainer.fitSample, shared with KMeans.
    val sample = ClusterExplainer.fitSample(faulty, Seq("image_id"), maxFit)
      .select(scoreCols.map(c => col(c).cast("double")): _*)
    val model = fit(sample, scoreCols, m, n, epochs, seed = seed)
    assign(faulty, "image_id", scoreCols, model)
      .select(col("image_id"), col("bmu_unit").as("cluster_id"))
  }
}
