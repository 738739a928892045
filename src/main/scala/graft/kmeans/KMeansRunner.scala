package graft.kmeans

import scala.util.DynamicVariable

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeArrayData, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.expressions.RoundHalfUp

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
  * (by the seed draw), one block per partition; a bare `points` scan —
  * what [[KMeansCli]] passes — is read with no query plan at all, the
  * way the reference's text splits go straight to its mappers (see
  * [[LloydKernel]]). A round is ONE single-stage job over the cached
  * vectors (assign + per-partition partial sums, k·(d+1) values per
  * partition merged on the driver). The reference re-reads the input
  * from HDFS and launches a fresh MR job every round (~22 s fixed
  * overhead per its own §3 evaluation). The seed draw, a job with a task
  * per partition, also times a round's work in each task; where a
  * round's tasks would compute, summed, for less time than the round's
  * job would take, that fixed cost is most of a round, and every round
  * runs in loop jobs instead: one task runs round after round over every
  * cached partition (see [[runLoop]]), so a small run is two jobs, the
  * draw and one loop job. Otherwise — large k, many partitions, the
  * 100 TB posture — every round stays one job, whose cost on a
  * 1000-executor cluster is k·(d+1)·#partitions doubles to the driver.
  *
  * Input contract of [[run]]: every coordinate is finite (a NaN or
  * infinite coordinate fails the run before round 1, with the count of
  * such vectors) and, with `dim` > 0, every vector is `dim` wide.
  */
object KMeansRunner {

  /** `dim` > 0 declares the vector width: every vector must have it,
    * checked by the seed draw, before round 1. */
  def run(points: DataFrame, vecCol: String, k: Int, maxIter: Int,
          eps: Double, seed: Long, dim: Int = 0): KMeansResult = {
    // maxIter = 1 is legal and runs ZERO rounds, like the reference's
    // `while (1 < 1)` (KMeans.java:130): result = the seeded sample.
    require(k > 0 && maxIter >= 1)
    runLoop(points, vecCol, k, maxIter, eps, seed,
      (kernel, s, timed) => draw(kernel, k, s, dim, finite = true, timed),
      identity)
  }

  /** ORACLE-REPLAYABLE variant of [[run]]: identical loop semantics,
    * but (a) the seed sample orders by a multiplicative hash of the
    * INTEGER id column instead of xxhash64 of the vector — the same
    * seeded, layout-independent selection, now computable by any SQL
    * engine — and (b) each round's new centroids are quantized to
    * 6 decimals ([[graft.expressions.RoundHalfUp.round]], Spark `round`
    * semantics) BEFORE the shift test, so both
    * engines enter every round from bit-identical centroids and
    * float-summation-order divergence cannot compound across rounds.
    * This is what lets a DuckDB recursive CTE replay the whole seeded
    * Lloyd recursion value-exactly (the kmeans_full oracle). */
  def runReplayable(points: DataFrame, vecCol: String, idCol: String,
                    k: Int, maxIter: Int, eps: Double, seed: Long): KMeansResult = {
    require(k > 0 && maxIter >= 1)
    runLoop(points, vecCol, k, maxIter, eps, seed,
      (_, s, _) => Sample(idHashSampleCentroids(points, vecCol, idCol, k, s), None),
      _.map(_.map(RoundHalfUp.round(_, 6))))
  }

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
    draw(new LloydKernel(points, vecCol, cache = false), k, seed, dim = 0,
      finite = false, timed = false).centroids

  /** A seed sample, and from a timed draw whether the rounds run in loop
    * jobs ([[loopPaysFrom]]); `None` leaves that to round 1. */
  private final case class Sample(centroids: Array[Array[Double]],
                                  loopPays: Option[Boolean])

  /** The k vectors first in `(xxhash64(v, seed), v)` order — the rows
    * `orderBy(xxhash64(v, lit(seed)), v).limit(k)` returns — drawn by
    * one job over the kernel's vectors: each task keeps its
    * partition's k first ([[SeedDraw]]), the driver merges them in
    * partition order. Over a cached kernel the first draw is the job
    * that fills the cache, so the points are extracted once per run.
    * The same job counts the vectors whose width is not `dim` (when
    * `dim` > 0) and fails if there are any; with `finite` it also fails
    * on vectors with a NaN or infinite coordinate, which no centroid is
    * nearer to than `Double.MaxValue`, so a round would drop them.
    * A `timed` draw also times its job, and each task estimates a round
    * over its partition from the picks ([[SeedDraw.task]]): the verdict
    * of [[loopPaysFrom]] on those figures comes with the sample. */
  private def draw(kernel: LloydKernel, k: Int, seed: Long, dim: Int,
                   finite: Boolean, timed: Boolean): Sample = {
    val vs = kernel.vectors
    val t0 = System.nanoTime()
    val parts = vs.sparkContext.runJob(vs, SeedDraw.task(k, seed, dim, timed))
    val wallNs = System.nanoTime() - t0
    val misfits = parts.map(_.misfits).sum
    require(misfits == 0L, s"declared dim=$dim but data has " +
      s"${parts.find(_.misfits > 0L).get.width} coordinates " +
      s"(vectors not $dim wide: $misfits)")
    val nonFinite = parts.map(_.nonFinite).sum
    require(!finite || nonFinite == 0L, "k-means input has a NaN or " +
      s"infinite coordinate in $nonFinite vectors")
    Sample(SeedDraw.merge(parts, k),
      if (timed) Some(loopPaysFrom(parts.map(p => (p.taskNs, p.roundNs)), wallNs))
      else None)
  }

  /** Where the rounds run: `None` (the default) lets the measurement
    * decide ([[loopPaysFrom]]); `Some(true)` runs every round in loop
    * jobs, `Some(false)` one job per round. A seam for tests, which pin
    * that both placements give the same result. */
  private[kmeans] val forceLoop = new DynamicVariable[Option[Boolean]](None)

  /** Whether rounds run in loop jobs ([[LloydKernel.loopJob]]): when a
    * round's tasks compute, summed, for less time than the round takes
    * as one job on the driver. One task then does the work of a round
    * in less time than a job's fixed cost, so rounds in one task beat a
    * job per round; where rounds are real work (large k, many
    * partitions) the tasks' sum exceeds the wall time and the rounds
    * keep their parallel jobs. */
  private[kmeans] def loopPays(taskNs: Long, roundWallNs: Long): Boolean =
    taskNs < roundWallNs

  /** [[loopPays]] from a job with a task per partition: each task's
    * (compute ns, round ns), its round ns being what a round over its
    * partition computes for, and the job's wall time. A round as one
    * job is predicted to take the job's fixed cost — its wall time less
    * its longest task — plus the longest round. From the seed draw, a
    * task's round ns is its estimate ([[SeedDraw.task]]); from round 1
    * itself it is the task's own ns, and the prediction is the round's
    * wall time. A job with no task (an empty input) gives `false`. */
  private[kmeans] def loopPaysFrom(tasks: Seq[(Long, Long)], wallNs: Long): Boolean =
    tasks.nonEmpty && loopPays(tasks.map(_._2).sum,
      wallNs - tasks.map(_._1).max + tasks.map(_._2).max)

  /** Loop body shared by [[run]] and [[runReplayable]]: `sample` draws
    * the (re-)init centroid set for a given seed, timed when its flag is
    * set; `post` is applied to each round's new centroids before the
    * shift test (identity for the plain run, decimal quantization for
    * the replayable one).
    *
    * The rounds run on a [[LloydKernel]] — its input is built once
    * (through the plan, or straight from a bare `points` scan's byte
    * ranges) and no round plans anything (guide §1.2 step 1: the
    * per-round Catalyst replanning was the loop's measured floor, not
    * the k-row aggregate). The rounds run in loop jobs, one task running
    * round after round, or one job per round, a task per partition.
    * The first sample decides ([[loopPaysFrom]]): [[run]]'s draw is a
    * job with a task per partition, timed, whose tasks estimate a round.
    * Re-init draws are not timed. [[runReplayable]] samples through a
    * DataFrame, so its round 1 runs as one job and decides for the rest
    * from its own tasks' time. Both placements step through the same
    * [[LloydRule]], so the result is the same bits either way.
    * A loop job returns at an empty cluster, and the re-draw (a job
    * over the kernel) runs here. The kernel persists its blocks,
    * one object of primitive vectors per partition (replacing the
    * former DataFrame persist: caching both would hold the corpus
    * twice). The kernel is built before the first sample, which [[run]]
    * draws from the kernel's vectors: that draw fills the cache, so the
    * source is read once and round 1 is a cached round. The seed sample
    * is also where an empty input, a `dim` mismatch and non-finite
    * coordinates are caught, before any round runs — inside the `try`, so a failed draw leaves nothing
    * persisted. */
  private def runLoop(pts: DataFrame, vecCol: String, k: Int, maxIter: Int,
                      eps: Double, seed: Long,
                      sample: (LloydKernel, Long, Boolean) => Sample,
                      post: Array[Array[Double]] => Array[Array[Double]])
      : KMeansResult = {
    val kernel = new LloydKernel(pts, vecCol)
    try {
      val first = sample(kernel, seed, forceLoop.value.isEmpty)
      require(first.centroids.nonEmpty,
        "k-means input is empty: no points to sample initial centroids from")
      val rule = LloydRule(k, maxIter, eps, post)
      var s = LloydState(first.centroids)
      var reinits = 0
      var loop = forceLoop.value.orElse(first.loopPays)
      while (s.iter < maxIter && !s.converged) {
        s = loop match {
          case Some(true) => kernel.loopJob(s, rule)
          case Some(false) => kernel.stepJob(s, rule)._1
          case None =>
            val t0 = System.nanoTime()
            val (next, taskNs) = kernel.stepJob(s, rule)
            loop = Some(loopPaysFrom(taskNs.map(t => (t, t)), System.nanoTime() - t0))
            next
        }
        if (s.empty) {
          // empty-cluster policy: full re-init, skip error check,
          // iteration still counts (KMeans.java:167-171).
          reinits += 1
          s = s.copy(centroids = sample(kernel, seed + s.iter, false).centroids,
            iter = s.iter + 1, empty = false)
        }
      }
      KMeansResult(s.centroids, s.iter, s.error, s.log, reinits, s.converged)
    } finally kernel.unpersist()
  }
}

/** Where a Lloyd loop stands between rounds: the centroids the next
  * round starts from, the reference driver's `iter` (from 1), the last
  * shift and every shift so far, and whether the loop converged or the
  * last round left a cluster empty (the driver then re-draws). */
private[kmeans] final case class LloydState(
    centroids: Array[Array[Double]], iter: Int = 1,
    error: Double = Double.NaN, log: Vector[Double] = Vector.empty,
    converged: Boolean = false, empty: Boolean = false)

/** The reference driver's loop rule (KMeans.java:130-183), the one body
  * both round placements step through. */
private[kmeans] final case class LloydRule(
    k: Int, maxIter: Int, eps: Double,
    post: Array[Array[Double]] => Array[Array[Double]]) {

  /** Another round runs: `iter < maxIter` (at most maxIter−1 rounds,
    * KMeans.java:113,130), not converged, no cluster left empty. */
  def continues(s: LloydState): Boolean =
    s.iter < maxIter && !s.converged && !s.empty

  /** The state after a round whose merged per-cluster (sums, counts)
    * are `merged`. Fewer than k clusters with a point (a cluster left
    * empty, or a seed sample of fewer than k vectors) marks the state
    * empty and changes nothing else (Spark's groupBy emits no row for an
    * unseen key, unlike the reference's always-k emission,
    * KMeans.java:64-67).
    * Otherwise the means, through `post`, become the centroids, and the
    * shift is logged; the loop converges when it is below `eps`
    * (KMeans.java:174-179), and the reference breaks BEFORE iter++ on
    * convergence (KMeans.java:176-183): the converged round keeps its
    * own index. */
  def step(s: LloydState, merged: LloydKernel.Partial): LloydState = {
    val (sums, counts) = merged
    if (counts.count(_ > 0L) < k) s.copy(empty = true)
    else {
      val next = post(Array.tabulate(sums.length)(i =>
        LloydKernel.mean(sums(i), counts(i))))
      val error = KMeansOps.shift(s.centroids, next)
      val converged = error < eps
      LloydState(next, if (converged) s.iter else s.iter + 1, error,
        s.log :+ error, converged)
    }
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
    * vectors are not `dim` wide, the width of the first of them, how
    * many of its vectors have a NaN or infinite coordinate, its compute
    * time, and its estimate of a round over its partition (ns; 0 when
    * not timed). */
  final case class Part(picks: Array[InternalRow], misfits: Long, width: Int,
                        nonFinite: Long, taskNs: Long, roundNs: Long)

  /** Rows a timed draw runs its sample round over. */
  val PrefixRows = 256

  private val VecType = ArrayType(DoubleType, containsNull = false)

  private def order = InterpretedOrdering.forSchema(Seq(LongType, VecType))

  /** The draw over a partition. `timed`, it keeps the partition's first
    * [[PrefixRows]] rows and, once its picks are settled, runs
    * [[LloydKernel.roundFn]] over them against the picks — the work of
    * a round from those centroids — and scales that time to the
    * partition's row count, and by k / picks when it has fewer than k
    * picks. The round's result is dropped. */
  def task(k: Int, seed: Long, dim: Int, timed: Boolean)
      : (TaskContext, Iterator[VecBlock]) => Part =
    (ctx, it) => {
      val t0 = System.nanoTime()
      val ord = order
      // max-heap of the k first rows seen so far
      val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
      var misfits = 0L
      var width = -1
      var nonFinite = 0L
      val prefix = if (timed) new Array[Array[Double]](PrefixRows) else null
      var n = 0L
      while (it.hasNext) {
        val rows = it.next().rows
        var r = 0
        while (r < rows.length) {
          val v = rows(r)
          if (prefix != null && n < PrefixRows) prefix(n.toInt) = v
          n += 1
          if (dim > 0 && v.length != dim) {
            if (misfits == 0L) width = v.length
            misfits += 1
          }
          // xxhash64(v, seed) as Spark computes it, unboxed: each coordinate
          // as a long (−0.0 as 0, NaN canonical), then the long seed
          var h = 42L
          var finite = true
          var j = 0
          while (j < v.length) {
            val x = v(j)
            h = XXH64.hashLong(if (x == 0.0) 0L else java.lang.Double.doubleToLongBits(x), h)
            if (!java.lang.Double.isFinite(x)) finite = false
            j += 1
          }
          h = XXH64.hashLong(seed, h)
          if (!finite) nonFinite += 1
          // a row is built only for a vector that can enter the heap
          if (heap.size < k || (k > 0 && h <= heap.peek().getLong(0))) {
            val row = InternalRow(h, UnsafeArrayData.fromPrimitiveArray(v))
            if (heap.size < k) heap.add(row)
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll(); heap.add(row)
            }
          }
          r += 1
        }
      }
      val picks = heap.toArray(Array.empty[InternalRow]).sorted(ord)
      val roundNs = if (prefix == null || n == 0L) 0L else {
        val rows = java.util.Arrays.copyOf(prefix, math.min(n, PrefixRows.toLong).toInt)
        val centroids = picks.map(_.getArray(1).toDoubleArray())
        val round = LloydKernel.roundFn(centroids, LloydKernel.Every)
        val r0 = System.nanoTime()
        round(ctx, Iterator.single(new VecBlock(rows, null)))
        ((System.nanoTime() - r0).toDouble * n / rows.length * k / centroids.length).toLong
      }
      Part(picks, misfits, width, nonFinite, System.nanoTime() - t0, roundNs)
    }

  /** The k first of all tasks' picks; a stable sort over the picks in
    * partition order. */
  def merge(parts: Array[Part], k: Int): Array[Array[Double]] =
    parts.flatMap(_.picks).sorted(order).take(k)
      .map(_.getArray(1).toDoubleArray())
}
