package graft.kmeans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Reusable physical kernel for ITERATIVE Lloyd loops.
  *
  * Motivation (optimization guide §1.2 step 1 — fix the job shape):
  * [[KMeansOps.lloydRound]] is a DataFrame, so a driver loop that calls
  * it per round pays the full Catalyst stack (analysis → optimization →
  * physical planning → AQE stage orchestration) for every round, on a
  * plan whose SHAPE never changes — only the centroid literals do.
  * Profiled at the bench's 100k grid point (32 cores, steal ≤1%) the
  * DataFrame loop's steady state was 0.165 s/iter of which the k-row
  * aggregate itself is single-digit ms: the floor was planning + the
  * AQE two-job choreography, not data. Same story for kmeans_full at
  * sf0.1 (~170 ms/round on 2000 cached rows).
  *
  * The kernel plans ONCE: the vector column is extracted through the
  * physical plan (`queryExecution.toRdd` — one Catalyst pass) into an
  * RDD of primitive `double[]` (optionally persisted), and each
  * [[round]] is then one `runJob` straight on those vectors, closed
  * over the round's centroid matrix (k·d doubles in the task binary —
  * the same "centroids ride with the task" posture as the literal
  * plan). No Catalyst work and no new RDD per round (so no call-site
  * walk and no closure-cleaning of RDD's own lambdas), no shuffle at
  * all: each task accumulates its partition's per-cluster (sum, count)
  * partials exactly like HashAggregateExec's partial mode (row order,
  * left-to-right per dimension), and the driver merges the
  * k·(d+1)-sized partials in PARTITION-INDEX order (`runJob` returns
  * them so) — a deterministic merge where the exchange's was
  * arrival-ordered.
  *
  * Value contract: identical to `lloydRound(...).collect()` —
  * assignment is the [[graft.expressions.NearestCentroid]] loop
  * verbatim (strict `<`, ties to the lowest index, bound by both
  * lengths), means are sum/count in double arithmetic, empty clusters
  * yield no entry. Float caveat: the final merge's summation ORDER is
  * partition-index instead of the shuffle's nondeterministic fetch
  * order — both are absorbed by the 6dp quantization every iterative
  * consumer applies before a value is observed (the kmeans_full oracle
  * contract), and KMeansSpec pins kernel == DataFrame on the test
  * corpora.
  *
  * With `idCol` set the kernel also carries each row's integer id, so
  * a consumer can run MEMBERSHIP-FILTERED rounds ([[roundRaw]]'s
  * `member` predicate — the mini-batch per-round hash draw) without
  * re-planning the filter each round.
  */
final class LloydKernel(points: DataFrame, vecCol: String,
                        cache: Boolean = true,
                        idCol: Option[String] = None) {

  /** One pass through the source plan; optionally persisted so every
    * job after the first (in [[KMeansRunner]] the first is the seed
    * draw, so every round) reads primitive vectors with zero
    * re-extraction cost. (`toDoubleArray` copies out of the
    * possibly-reused InternalRow buffer, so the cached arrays are
    * stable.) With cache=false each round re-executes the extraction
    * RDD — still zero Catalyst work per round (the physical RDD is
    * fixed); the right mode when the source is already a persisted
    * relation. */
  private val vecs: RDD[(Long, Array[Double])] = {
    val cols = idCol.toSeq.map(col) :+ col(vecCol)
    val rdd = GraftSqlBridge.internalRdd(points.select(cols: _*))
    val hasId = idCol.isDefined
    rdd.map { r =>
      if (hasId) (r.getLong(0), r.getArray(1).toDoubleArray())
      else (-1L, r.getArray(0).toDoubleArray())
    }
  }

  /** The vectors every job of this kernel runs over: its rounds and
    * [[KMeansRunner]]'s seed draws. */
  private[kmeans] val vectors: RDD[(Long, Array[Double])] =
    if (cache) vecs.persist(StorageLevel.MEMORY_AND_DISK)
      .setName(s"LloydKernel($vecCol)")
    else vecs

  /** One Lloyd round: (cluster, mean, count) for every NON-EMPTY
    * cluster, same values as `KMeansOps.lloydRound(...).collect()`. */
  def round(centroids: Array[Array[Double]])
      : Array[(Int, Array[Double], Long)] = {
    val d = centroids.head.length
    roundRaw(centroids).map { case (i, sums, n) =>
      val mean = new Array[Double](d)
      var j = 0
      while (j < d) { mean(j) = sums(j) / n; j += 1 }
      (i, mean, n)
    }
  }

  /** One assignment + per-cluster (vector sum, count) pass over the
    * rows whose id passes `member` — the raw ClusteringFeature
    * aggregate (what [[KMeansOps.summarize]] returns), for consumers
    * that blend rather than average (mini-batch). `member` must be
    * deterministic (it runs inside tasks and on retries). */
  def roundRaw(centroids: Array[Array[Double]],
               member: Long => Boolean = _ => true)
      : Array[(Int, Array[Double], Long)] = {
    val k = centroids.length
    val d = centroids.head.length
    // one partial per partition, in partition-index order
    val partials = vectors.sparkContext.runJob(vectors,
      LloydKernel.roundFn(centroids, member))

    val totS = Array.ofDim[Double](k, d)
    val totN = new Array[Long](k)
    partials.foreach { case (s, n) =>
      var i = 0
      while (i < k) {
        val si = s(i)
        val ti = totS(i)
        var j = 0
        while (j < d) { ti(j) += si(j); j += 1 }
        totN(i) += n(i)
        i += 1
      }
    }
    Array.range(0, k).withFilter(totN(_) > 0L).map { i =>
      (i, totS(i), totN(i))
    }
  }

  /** Drop the persisted vectors (no-op when built with cache=false). */
  def unpersist(): Unit =
    if (cache) { vectors.unpersist(blocking = false); () }
}

private[kmeans] object LloydKernel {

  /** A round's task: its partition's per-cluster (vector sums, counts).
    * Built here rather than in the class so the closure cleaner, which
    * runs on every job, inspects this small object's bytecode. */
  def roundFn(centroids: Array[Array[Double]], member: Long => Boolean)
      : (TaskContext, Iterator[(Long, Array[Double])]) =>
        (Array[Array[Double]], Array[Long]) = {
    val k = centroids.length
    val d = centroids.head.length
    (_, it) => {
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      while (it.hasNext) {
        val (id, v) = it.next()
        if (member(id)) {
          // NearestCentroid.nullSafeEval verbatim: strict <, first wins
          var best = -1
          var bestD = Double.MaxValue
          var i = 0
          while (i < k) {
            val c = centroids(i)
            val m = math.min(v.length, c.length)
            var dd = 0.0
            var j = 0
            while (j < m) {
              val diff = v(j) - c(j)
              dd += diff * diff
              j += 1
            }
            if (dd < bestD) { bestD = dd; best = i }
            i += 1
          }
          if (best >= 0) {
            val s = sums(best)
            val m = math.min(v.length, d)
            var j = 0
            while (j < m) { s(j) += v(j); j += 1 }
            counts(best) += 1
          }
        }
      }
      (sums, counts)
    }
  }
}
