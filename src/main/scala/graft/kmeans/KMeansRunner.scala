package graft.kmeans

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Result of a full k-means run. `iterations` is the reference driver's
  * final `iter` value: on convergence the reference breaks BEFORE the
  * increment (KMeans.java:176-183), so a run converging on round N
  * reports N; a run hitting the bound reports maxIter (having run
  * maxIter−1 rounds). `iterations` is also the index of the last
  * per-round output directory the reference would have written when
  * converged; `lastRound` gives that index in every case. */
final case class KMeansResult(
    centroids: Array[Array[Double]],
    iterations: Int,
    finalError: Double,
    errorLog: Seq[Double],
    reinitCount: Int,
    converged: Boolean) {
  /** Index of the last executed round (= the reference's last job output
    * dir suffix); 0 when no round ran (maxIter = 1). */
  def lastRound: Int = if (converged) iterations else iterations - 1
}

/** The iterative driver loop — Spark re-expression of the reference's
  * `KMeans.main` (/root/reference/kmeans/.../KMeans.java:95-194).
  *
  * Faithful observable semantics:
  *  - `iter` starts at 1 and the loop runs `while (iter < maxIter)`, i.e.
  *    at most maxIter−1 rounds (KMeans.java:113,130 — reproduced
  *    deliberately: convergence counts are observable behavior);
  *  - init = k-point sample without replacement (KMeans.java:276-312),
  *    but SEEDED for reproducibility (the reference's unseeded
  *    `new Random()` at KMeans.java:284 is a documented quirk we fix) and
  *    computed distributedly (a seeded content-hash draw, one job)
  *    instead of the reference's O(n) driver-memory read
  *    (KMeans.java:292-298 — the anti-pattern that would OOM at 100 TB);
  *  - empty cluster ⇒ discard the round, re-initialize ALL k centroids
  *    from a fresh sample, skip the error check, still count the
  *    iteration (KMeans.java:167-171; Doc CC pdf §2.0.1);
  *  - stop when Σ‖Δcᵢ‖ < eps (KMeans.java:174-179).
  *
  * Scale posture vs the reference: the input is read and cached once
  * (by the seed draw) and each round is ONE single-stage job over the
  * cached vectors (assign + per-partition partial sums, k·(d+1) values
  * per partition merged on the driver). The reference re-reads the
  * input from HDFS and launches a fresh MR job every round (~22 s fixed
  * overhead per its own §3 evaluation); on a 1000-executor cluster this
  * loop's per-round cost is k·(d+1)·#partitions doubles to the driver.
  */
object KMeansRunner {

  /** `dim` > 0 declares the vector width: every vector must have it,
    * checked by the seed draw, before round 1. */
  def run(points: DataFrame, vecCol: String, k: Int, maxIter: Int,
          eps: Double, seed: Long,
          cache: Boolean = true, dim: Int = 0): KMeansResult = {
    // maxIter = 1 is legal and runs ZERO rounds, like the reference's
    // `while (1 < 1)` (KMeans.java:130): result = the seeded sample.
    require(k > 0 && maxIter >= 1)
    runLoop(points, vecCol, k, maxIter, eps, seed,
      (kernel, s) => draw(kernel, k, s, dim), identity, cache)
  }

  /** ORACLE-REPLAYABLE variant of [[run]]: identical loop semantics,
    * but (a) the seed sample orders by a multiplicative hash of the
    * INTEGER id column instead of xxhash64 of the vector — the same
    * seeded, layout-independent selection, now computable by any SQL
    * engine — and (b) each round's new centroids are quantized to
    * `roundDp` decimals (Spark `round` semantics: HALF_UP over the
    * shortest decimal representation) BEFORE the shift test, so both
    * engines enter every round from bit-identical centroids and
    * float-summation-order divergence cannot compound across rounds.
    * This is what lets a DuckDB recursive CTE replay the whole seeded
    * Lloyd recursion value-exactly (the kmeans_full oracle). */
  def runReplayable(points: DataFrame, vecCol: String, idCol: String,
                    k: Int, maxIter: Int, eps: Double, seed: Long,
                    roundDp: Int = 6,
                    cache: Boolean = true): KMeansResult = {
    require(k > 0 && maxIter >= 1)
    runLoop(points, vecCol, k, maxIter, eps, seed,
      (_, s) => idHashSampleCentroids(points, vecCol, idCol, k, s),
      _.map(_.map(roundHalfUp(_, roundDp))), cache)
  }

  /** Spark-`round`-compatible decimal rounding (BigDecimal over the
    * shortest decimal representation, HALF_UP). */
  def roundHalfUp(x: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Seeded k-sample keyed on a multiplicative hash of an integer id:
    * `(id · 2654435761 + seed · 40503) mod (2³¹−1)`, ties on id — the
    * Knuth-style scramble every SQL engine can reproduce exactly in
    * 64-bit integer arithmetic. One pass: TakeOrderedAndProject. */
  def idHashSampleCentroids(points: DataFrame, vecCol: String,
                            idCol: String, k: Int,
                            seed: Long): Array[Array[Double]] =
    points.select(col(vecCol), col(idCol))
      .orderBy(pmod(col(idCol) * lit(2654435761L) + lit(seed * 40503L),
        lit(2147483647L)), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** Seeded k-sample without replacement, O(k) driver memory.
    * Ordered by a seeded content hash rather than `rand(seed)`: rand is
    * seeded PER PARTITION, so its sample changes with the partition
    * layout — a content hash gives the same k vectors on any cluster
    * size / split plan, which the oracle-reproducibility story
    * (SURVEY.md §7.4) requires. The same draw as [[run]]'s, over an
    * uncached kernel. */
  def sampleCentroids(points: DataFrame, vecCol: String, k: Int,
                      seed: Long): Array[Array[Double]] =
    draw(new LloydKernel(points, vecCol, cache = false), k, seed, dim = 0)

  /** The k vectors first in `(xxhash64(v, seed), v)` order — the rows
    * `orderBy(xxhash64(v, lit(seed)), v).limit(k)` returns — drawn by
    * one job over the kernel's vectors: each task keeps its
    * partition's k first ([[SeedDraw]]), the driver merges them in
    * partition order. Over a cached kernel the first draw is the job
    * that fills the cache, so the points are extracted once per run.
    * The same job counts the vectors whose width is not `dim` (when
    * `dim` > 0) and fails if there are any. */
  private def draw(kernel: LloydKernel, k: Int, seed: Long,
                   dim: Int): Array[Array[Double]] = {
    val vs = kernel.vectors
    val parts = vs.sparkContext.runJob(vs, SeedDraw.task(k, seed, dim))
    val misfits = parts.map(_.misfits).sum
    require(misfits == 0L, s"declared dim=$dim but data has " +
      s"${parts.find(_.misfits > 0L).get.width} coordinates " +
      s"(vectors not $dim wide: $misfits)")
    SeedDraw.merge(parts, k)
  }

  /** Loop body shared by [[run]] and [[runReplayable]]: `sample` draws
    * the (re-)init centroid set for a given seed; `post` is applied to
    * each round's new centroids before the shift test (identity for
    * the plain run, decimal quantization for the replayable one).
    *
    * The rounds run on a [[LloydKernel]] — the plan is built once and
    * each round is a single planning-free job (guide §1.2 step 1: the
    * per-round Catalyst replanning was the loop's measured floor, not
    * the k-row aggregate). `cache` persists the kernel's primitive
    * vector RDD (replacing the former DataFrame persist: caching both
    * would hold the corpus twice). The kernel is built before the
    * first sample, which [[run]] draws from the kernel's vectors: that
    * draw fills the cache, so the source is read once and round 1 is a
    * cached round. The seed sample is also where an empty input and a
    * `dim` mismatch are caught, before any round runs — inside the
    * `try`, so a failed draw leaves nothing persisted. */
  private def runLoop(pts: DataFrame, vecCol: String, k: Int, maxIter: Int,
                      eps: Double, seed: Long,
                      sample: (LloydKernel, Long) => Array[Array[Double]],
                      post: Array[Array[Double]] => Array[Array[Double]],
                      cache: Boolean)
      : KMeansResult = {
    val kernel = new LloydKernel(pts, vecCol, cache)
    try {
    var centroids = sample(kernel, seed)
    require(centroids.nonEmpty,
      "k-means input is empty: no points to sample initial centroids from")
    var iter = 1 // KMeans.java:113 — starts at 1 ⇒ at most maxIter−1 rounds
    var error = Double.NaN
    var reinits = 0
    val log = Seq.newBuilder[Double]
    var converged = false
    while (iter < maxIter && !converged) {
      val rows = kernel.round(centroids)
      // Spark's groupBy emits no row for an unseen key, unlike the
      // reference's always-k emission (KMeans.java:64-67): left-fill.
      val byId = rows.map(r => r._1 -> r._2).toMap
      if (byId.size < k) {
        // empty-cluster policy: full re-init, skip error check,
        // iteration still counts (KMeans.java:167-171).
        reinits += 1
        centroids = sample(kernel, seed + iter)
      } else {
        val newCentroids = post(Array.tabulate(k)(byId(_)))
        error = KMeansOps.shift(centroids, newCentroids)
        log += error
        centroids = newCentroids
        if (error < eps) converged = true
      }
      // the reference breaks BEFORE iter++ on convergence
      // (KMeans.java:176-183): the converged round keeps its own index
      if (!converged) iter += 1
    }
    KMeansResult(centroids, iter, error, log.result(), reinits, converged)
    } finally kernel.unpersist()
  }
}

/** The per-task half of [[KMeansRunner]]'s seed draw: a partition's k
  * first vectors in `(xxhash64(v, seed), v)` order, with Spark's own
  * hash (`XxHash64` folds its children from seed 42: the array, then
  * the long seed) and Spark's interpreted ascending ordering of
  * `(bigint, array<double>)` rows — so it picks what the DataFrame
  * `orderBy(xxhash64(v, lit(seed)), v).limit(k)` picks. A small object
  * of its own so the closure cleaner has little bytecode to read. */
private[kmeans] object SeedDraw {

  /** A task's picks (ascending `(hash, vector)` rows), how many of its
    * vectors are not `dim` wide, and the width of the first of them. */
  final case class Part(picks: Array[InternalRow], misfits: Long, width: Int)

  private val VecType = ArrayType(DoubleType, containsNull = false)

  private def order = InterpretedOrdering.forSchema(Seq(LongType, VecType))

  def task(k: Int, seed: Long, dim: Int)
      : (TaskContext, Iterator[(Long, Array[Double])]) => Part =
    (_, it) => {
      val ord = order
      // max-heap of the k first rows seen so far
      val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
      var misfits = 0L
      var width = -1
      while (it.hasNext) {
        val v = it.next()._2
        if (dim > 0 && v.length != dim) {
          if (misfits == 0L) width = v.length
          misfits += 1
        }
        val a = UnsafeArrayData.fromPrimitiveArray(v)
        val h = XxHash64Function.hash(seed, LongType,
          XxHash64Function.hash(a, VecType, 42L))
        val row = InternalRow(h, a)
        if (heap.size < k) heap.add(row)
        else if (k > 0 && ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row)
        }
      }
      Part(heap.toArray(Array.empty[InternalRow]).sorted(ord), misfits, width)
    }

  /** The k first of all tasks' picks; a stable sort over the picks in
    * partition order. */
  def merge(parts: Array[Part], k: Int): Array[Array[Double]] =
    parts.flatMap(_.picks).sorted(order).take(k)
      .map(_.getArray(1).toDoubleArray())
}
