package graft.kmeans

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
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
  *
  * For [[KMeansRunner]] the kernel runs rounds in two placements that
  * give the same bits: [[stepJob]], one job per round as above, and
  * [[loopJob]], ONE task that runs round after round over every cached
  * partition, merging each round's partials in the same partition-index
  * order. A job's fixed cost (~8 ms in local mode) is several times the
  * compute of a round over 10k points, so a small input's rounds cost
  * the job, not the data; the loop job pays that cost once per run.
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

  /** The loop job's one-partition view of [[vectors]]. */
  private lazy val allInOne = new OneTaskRDD(vectors)

  /** One Lloyd round: (cluster, mean, count) for every NON-EMPTY
    * cluster, same values as `KMeansOps.lloydRound(...).collect()`. */
  def round(centroids: Array[Array[Double]])
      : Array[(Int, Array[Double], Long)] =
    roundRaw(centroids).map { case (i, sums, n) =>
      (i, LloydKernel.mean(sums, n), n)
    }

  /** One assignment + per-cluster (vector sum, count) pass over the
    * rows whose id passes `member` — the raw ClusteringFeature
    * aggregate (what [[KMeansOps.summarize]] returns), for consumers
    * that blend rather than average (mini-batch). `member` must be
    * deterministic (it runs inside tasks and on retries). */
  def roundRaw(centroids: Array[Array[Double]],
               member: Long => Boolean = _ => true)
      : Array[(Int, Array[Double], Long)] = {
    // one partial per partition, in partition-index order
    val partials = vectors.sparkContext.runJob(vectors,
      LloydKernel.roundFn(centroids, member))
    val (sums, counts) = LloydKernel.merge(partials.iterator, centroids)
    Array.range(0, centroids.length).withFilter(counts(_) > 0L).map { i =>
      (i, sums(i), counts(i))
    }
  }

  /** The round from `s` as one job, a task per partition, stepped by
    * `rule` on the driver; also the tasks' summed compute time (ns). */
  private[kmeans] def stepJob(s: LloydState, rule: LloydRule)
      : (LloydState, Long) = {
    val parts = vectors.sparkContext.runJob(vectors,
      LloydKernel.timedRoundFn(s.centroids))
    (rule.step(s, LloydKernel.merge(parts.iterator.map(_._1), s.centroids)),
      parts.map(_._2).sum)
  }

  /** The rounds from `s` while `rule` lets them continue, all in ONE
    * task ([[OneTaskRDD]]): each round runs [[LloydKernel.roundFn]] over
    * every partition in index order and steps from the merged partials,
    * as [[stepJob]] does on the driver, so both give the same bits. The
    * job ends at the iteration bound, at convergence, or at an empty
    * cluster, which the driver re-draws. */
  private[kmeans] def loopJob(s: LloydState, rule: LloydRule): LloydState =
    vectors.sparkContext.runJob(allInOne, LloydKernel.loopFn(s, rule)).head

  /** Drop the persisted vectors (no-op when built with cache=false). */
  def unpersist(): Unit =
    if (cache) { vectors.unpersist(blocking = false); () }
}

private[kmeans] object LloydKernel {

  /** A partition's per-cluster (vector sums, counts). */
  type Partial = (Array[Array[Double]], Array[Long])

  private val Every: Long => Boolean = _ => true

  /** The partials summed in the order given — partition-index order in
    * every placement — into k totals as wide as the first centroid. */
  def merge(partials: Iterator[Partial], centroids: Array[Array[Double]])
      : Partial = {
    val k = centroids.length
    val d = centroids.head.length
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
    (totS, totN)
  }

  /** A cluster's mean from its vector sum and count. */
  def mean(sums: Array[Double], n: Long): Array[Double] = sums.map(_ / n)

  /** [[roundFn]] over every row, also returning the task's compute time
    * (ns) — what the runner weighs against the round's wall time. */
  def timedRoundFn(centroids: Array[Array[Double]])
      : (TaskContext, Iterator[(Long, Array[Double])]) => (Partial, Long) = {
    val round = roundFn(centroids, Every)
    (ctx, it) => {
      val t0 = System.nanoTime()
      val p = round(ctx, it)
      (p, System.nanoTime() - t0)
    }
  }

  /** The loop job's task: rounds from `s0` while `rule` continues. */
  def loopFn(s0: LloydState, rule: LloydRule)
      : (TaskContext, Iterator[OneTaskRDD.Passes[(Long, Array[Double])]]) =>
        LloydState =
    (ctx, it) => {
      val partitions = it.next()
      var s = s0
      while (rule.continues(s)) {
        val round = roundFn(s.centroids, Every)
        s = rule.step(s, merge(partitions().map(round(ctx, _)), s.centroids))
      }
      s
    }

  /** A round's task: its partition's per-cluster (vector sums, counts).
    * Built here rather than in the class so the closure cleaner, which
    * runs on every job, inspects this small object's bytecode. */
  def roundFn(centroids: Array[Array[Double]], member: Long => Boolean)
      : (TaskContext, Iterator[(Long, Array[Double])]) => Partial = {
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

/** The loop job's RDD: ONE partition over every partition of `prev`.
  * Its one element reads `prev`'s partitions again, in index order, each
  * time it is called — one call per round, over the cached blocks when
  * `prev` is persisted. The partition carries `prev`'s `Partition`
  * objects, as `CoalescedRDDPartition` does: a task cannot ask
  * `prev.partitions` for them, because the plan RDDs under a kernel
  * (`SQLExecutionRDD`) can list their partitions on the driver only. */
private[kmeans] final class OneTaskRDD[T: ClassTag](prev: RDD[T])
    extends RDD[OneTaskRDD.Passes[T]](prev.context,
      Seq(new NarrowDependency(prev) {
        override def getParents(partitionId: Int): Seq[Int] =
          rdd.partitions.indices
      })) {

  override protected def getPartitions: Array[Partition] =
    Array(new OneTaskRDD.AllOf(firstParent[T].partitions))

  override def compute(split: Partition, context: TaskContext)
      : Iterator[OneTaskRDD.Passes[T]] = {
    val parents = split.asInstanceOf[OneTaskRDD.AllOf].parents
    val parent = firstParent[T]
    Iterator.single(() => parents.iterator.map(parent.iterator(_, context)))
  }
}

private[kmeans] object OneTaskRDD {
  /** A pass over every parent partition: one iterator each, in order. */
  type Passes[T] = () => Iterator[Iterator[T]]

  final class AllOf(val parents: Array[Partition]) extends Partition {
    override def index: Int = 0
  }
}
