package graft.discovery

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Near-duplicate discovery via perceptual-hash banding (north-rule
  * addition; no reference counterpart — SURVEY.md §2.3).
  *
  * Guaranteed-recall scheme for Hamming distance ≤ `maxHamming`: split the
  * 64-bit phash into `blocks` equal blocks; ≤ maxHamming flips can damage
  * at most maxHamming blocks, so with blocks = maxHamming + 2 at least
  * TWO blocks stay intact, and we can band on *pairs* of blocks —
  * C(blocks, 2) keys of ~2·64/blocks bits each. Pair keys are much more
  * selective than single blocks (the classic single-block pigeonhole
  * scheme floods the shuffle with n²/2^(64/blocks) candidate pairs at
  * web scale; pair keys square the selectivity), at the cost of
  * C(blocks,2)/blocks more emitted rows — a shuffle-size vs
  * candidate-count trade that favors pair keys from ~10^6 rows up.
  *
  * All candidate verification is `bit_count(xor)` — built-in, codegen'd.
  */
object PhashDup {

  /** Candidate pairs verified at Hamming ≤ maxHamming.
    * Input must have (idCol, phashCol); output (id1, id2, hamming) with
    * id1 < id2, distinct. */
  def duplicatePairs(
      images: DataFrame,
      idCol: String = "image_id",
      phashCol: String = "phash",
      maxHamming: Int = 4): DataFrame =
    rawPairs(images, idCol, phashCol, maxHamming).distinct()

  /** Pair stream BEFORE the final distinct: a pair sharing k intact
    * block-pairs is emitted k times. [[dropIds]] consumes this directly —
    * its own id-level distinct subsumes the pair-level one, saving a
    * full shuffle of the pair set. */
  private def rawPairs(
      images: DataFrame,
      idCol: String,
      phashCol: String,
      maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 2
    val bits = 64 / blocks // block width (floor; last block takes the rest)
    val blockExprs = (0 until blocks).map { i =>
      val lo = i * bits
      val width = if (i == blocks - 1) 64 - lo else bits
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col(phashCol), lo).bitwiseAND(lit(mask))
    }
    // All C(blocks,2) block-pair keys, PACKED into one 64-bit hash per key
    // (block-pair tag + both block values through xxhash64): the exploded
    // frame shuffles/sorts on a single long instead of (int, long, long) —
    // ~40% less shuffle volume and a cheaper sort comparator. A hash
    // collision between two distinct (tag, v1, v2) keys can only MERGE two
    // buckets, i.e. add candidate comparisons; every emitted pair is still
    // verified by exact Hamming, so recall and output are unaffected.
    val pairKeys = for {
      i <- 0 until blocks
      j <- (i + 1) until blocks
    } yield xxhash64(lit(i * blocks + j), blockExprs(i), blockExprs(j))

    // The run-scan keys on STRING ids (one tuple encoder for any input).
    // For a non-string id column, string order diverges from the native
    // order (e.g. "10" < "2"), so the scan's id1<id2 and the keep-first
    // min would silently become lexicographic and the output ids would
    // change type — the original ids are restored by an output-sized
    // join below instead (same pattern as Similarity.cosineNearDupPairs);
    // the common contracted shape (string image_id) skips all of it.
    val idIsString =
      images.schema(idCol).dataType == org.apache.spark.sql.types.StringType
    val banded = images
      .select(col(idCol).cast("string").as("id"), col(phashCol).as("ph"),
        explode(array(pairKeys: _*)).as("key"))

    // ONE shuffle + sort: cluster the exploded rows by bucket key, then
    // stream each partition pairing consecutive same-key runs in plain
    // Scala. (collect_list object-aggregation falls back to its slow
    // sort-based path once a partition sees >128 distinct keys — always,
    // here, since most buckets are singletons; a self equi-join would
    // shuffle the exploded frame twice. `maxBucket` caps degenerate
    // buckets, e.g. constant phashes.)
    val maxBucket = 4096
    val spark = images.sparkSession
    import spark.implicits._
    val scanned = banded
      .repartition(col("key"))
      .sortWithinPartitions("key")
      .select(col("key"), col("id"), col("ph"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        new Iterator[(String, String, Int)] {
          private val out = scala.collection.mutable.Queue.empty[(String, String, Int)]
          private val run = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          private var curKey: Long = Long.MinValue
          private var haveKey = false
          private def emitPairsWith(id: String, ph: Long): Unit = {
            var i = 0
            while (i < run.length) {
              val (oid, oph) = run(i)
              val h = java.lang.Long.bitCount(ph ^ oph)
              if (h <= maxHamming && oid != id) {
                if (oid < id) out += ((oid, id, h)) else out += ((id, oid, h))
              }
              i += 1
            }
          }
          private def advance(): Unit = {
            while (out.isEmpty && it.hasNext) {
              val (key, id, ph) = it.next()
              if (!haveKey || key != curKey) { run.clear(); curKey = key; haveKey = true }
              emitPairsWith(id, ph)
              if (run.length < maxBucket) run += ((id, ph))
            }
          }
          def hasNext: Boolean = { advance(); out.nonEmpty }
          def next(): (String, String, Int) = { advance(); out.dequeue() }
        }
      }
      .toDF("id1", "id2", "hamming")
    if (idIsString) scanned
    else {
      // restore the caller's original id type/order: the pairs side is
      // OUTPUT-sized, so AQE broadcasts these joins at runtime
      val ids = images
        .select(col(idCol).cast("string").as("k"), col(idCol).as("orig"))
        .distinct()
      scanned
        .join(ids.select(col("k").as("id1"), col("orig").as("__o1")), Seq("id1"))
        .join(ids.select(col("k").as("id2"), col("orig").as("__o2")), Seq("id2"))
        .select(
          least(col("__o1"), col("__o2")).as("id1"),
          greatest(col("__o1"), col("__o2")).as("id2"),
          col("hamming"))
    }
  }

  /** Ids to drop: for every verified pair keep the smaller id
    * (keep-first dedup). Returns a single-column frame `image_id`.
    * Consumes the raw (pre-distinct) pair stream — the id-level
    * distinct below subsumes pair-level dedup. */
  def dropIds(images: DataFrame, idCol: String = "image_id",
      phashCol: String = "phash", maxHamming: Int = 4): DataFrame =
    rawPairs(images, idCol, phashCol, maxHamming)
      .select(col("id2").as(idCol)).distinct()

  /** Duplicate clusters: the connected components of the pair graph,
    * found by union-find in ONE Spark job with no iteration. Each
    * partition reduces its `(id1, id2)` edges to a spanning forest of
    * `(vertex, local root)` rows; one collect brings the forests to the
    * driver, where the same union-find merges them.
    *
    * Returns (image_id, cluster_id) for every id appearing in a pair, as
    * a local frame that keeps the input's id type. cluster_id is the
    * component minimum in Spark's order for that type (UTF-8 byte order
    * for strings) — the label the DuckDB recursive-closure oracle
    * computes. A pair with a null id adds no edge.
    *
    * The driver holds every vertex once. A graph too large for it fails
    * loudly at `spark.driver.maxResultSize`; it is never truncated. There
    * is no distributed (large-star/small-star) fallback: no workload's
    * pair graph comes near driver memory. */
  def clusters(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2"))
    val idType = edges.schema("id1").dataType
    require(edges.schema("id2").dataType == idType,
      s"id1 and id2 must share one type: ${edges.schema.simpleString}")
    val forests = edges.queryExecution.toRdd.mapPartitions { rows =>
      val uf = new UnionFind(idType)
      rows.foreach { r =>
        // the row buffer is reused: clone strings before keeping them
        def id(i: Int): Any = r.get(i, idType) match {
          case s: UTF8String => s.clone()
          case v => v
        }
        if (!r.isNullAt(0) && !r.isNullAt(1)) uf.union(id(0), id(1))
      }
      Iterator.single(uf.labels.filter { case (v, root) => v != root })
    }.collect()
    val uf = new UnionFind(idType)
    forests.foreach(_.foreach { case (v, root) => uf.union(v, root) })
    org.apache.spark.sql.graft.Bridge.localFrame(pairs.sparkSession,
      StructType(Seq(StructField("image_id", idType, nullable = false),
        StructField("cluster_id", idType, nullable = false))),
      uf.labels.map { case (v, root) => InternalRow(v, root) }.toSeq)
  }

  /** Union-find over Catalyst id values with union by minimum: every
    * root is the least member of its set in Spark's order for `idType`,
    * so `find(v)` is v's component minimum. Path halving keeps finds
    * near-constant and iterative (a long chain needs no deep stack). */
  private final class UnionFind(idType: DataType) {
    private val ord = PhysicalDataType.ordering(idType)
    private val parent = new java.util.HashMap[Any, Any]()

    def find(v: Any): Any = {
      if (!parent.containsKey(v)) { parent.put(v, v); return v }
      var x = v
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }

    def union(a: Any, b: Any): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }

    /** (vertex, component minimum) for every vertex seen. */
    def labels: Array[(Any, Any)] = parent.keySet.toArray.map(v => (v, find(v)))
  }
}
