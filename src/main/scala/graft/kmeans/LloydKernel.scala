package graft.kmeans

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.sources.PointsTable

/** The engine's one Lloyd round, for every iterative Lloyd loop: the
  * paper's job ([[KMeansRunner]]), `kmeans_full`, `kmeans_bisecting`,
  * `kmeans_minibatch`, `km_update`/`km_shift` and the residual IVF
  * coarse training.
  *
  * Motivation (optimization guide §1.2 step 1 — fix the job shape): a
  * Lloyd round as a DataFrame (assign → per-cluster sum/count hash
  * aggregate → mean, as the test-side `LloydOracle` still runs it) makes a
  * driver loop that calls it per round pay the full Catalyst stack
  * (analysis → optimization → physical planning → AQE stage
  * orchestration) for every round, on a plan whose SHAPE never changes
  * — only the centroid literals do. Profiled at the bench's 100k grid
  * point (32 cores, steal ≤1%) the DataFrame loop's steady state was
  * 0.165 s/iter of which the k-row aggregate itself is single-digit ms:
  * the floor was planning + the AQE two-job choreography, not data.
  * Same story for kmeans_full at sf0.1 (~170 ms/round on 2000 cached
  * rows).
  *
  * The kernel builds its input ONCE, as an RDD of [[VecBlock]]s — one
  * object per partition holding the partition's primitive `double[]`
  * rows (optionally persisted, so the cache sizes one object per
  * partition, not one per row) — and each [[round]] is then one
  * `runJob` straight on those blocks, closed over the round's centroid
  * matrix (k·d doubles in the task binary — the same "centroids ride
  * with the task" posture as the literal plan). The input has two
  * sources, which fill the same blocks in the same row order:
  *  - a bare `points` scan (`spark.read.format("points").load(p)` with
  *    vector column `point`, no id column, not cached) is read without
  *    the planner: the scan's own split plan and conf broadcast, and
  *    each task runs the source's line loop straight into its block
  *    ([[PointsBlockRDD]]) — the Hadoop job's text splits into mappers;
  *  - any other DataFrame goes through its physical plan
  *    (`queryExecution.toRdd` — one Catalyst pass).
  * No Catalyst work and no new RDD per round (so no call-site
  * walk and no closure-cleaning of RDD's own lambdas), no shuffle at
  * all: each task accumulates its partition's per-cluster (sum, count)
  * partials exactly like HashAggregateExec's partial mode (row order,
  * left-to-right per dimension), and the driver merges the
  * k·(d+1)-sized partials in PARTITION-INDEX order (`runJob` returns
  * them so) — a deterministic merge where the exchange's was
  * arrival-ordered.
  *
  * Value contract: a DataFrame round's collected rows, which the
  * specs compute with the test-side `LloydOracle` — assignment is the
  * [[graft.expressions.NearestCentroid]] loop verbatim (strict `<`,
  * ties to the lowest index, bound by both lengths), means are
  * sum/count in double arithmetic, empty clusters yield no entry.
  * Float caveat: the final merge's summation ORDER is partition-index
  * instead of the shuffle's nondeterministic fetch order — both are
  * absorbed by the 6dp quantization every consumer but the paper's job
  * applies before a value is observed (the kmeans_full oracle
  * contract), and KMeansSpec pins kernel == oracle on the test
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
  * the job, not the data; the loop job pays that cost once per run. The
  * runner picks the placement from its seed draw, whose tasks time
  * [[LloydKernel.roundFn]] over a prefix of their rows. The runner's
  * kernel is always cached, and so is `kmeans_minibatch`'s, which calls
  * [[roundRaw]]; `km_update`, `km_shift`, the IVF coarse training and
  * `kmeans_bisecting` build theirs with `cache = false` and call
  * [[round]], one job per round.
  */
final class LloydKernel(points: DataFrame, vecCol: String,
                        cache: Boolean = true,
                        idCol: Option[String] = None) {

  /** One read of the input, a [[VecBlock]] per partition; optionally
    * persisted so every job after the first (in [[KMeansRunner]] the
    * first is the seed draw, so every round) reads primitive vectors
    * with zero re-extraction cost. With cache=false each round re-reads
    * the input into blocks — still zero Catalyst work per round (the
    * RDD is fixed); the right mode when the source is already a
    * persisted relation, or is read once per round anyway (the fixed
    * round counts of `km_update` and the IVF coarse training: corpus
    * passes = rounds). */
  private[kmeans] val vectors: RDD[VecBlock] = {
    val blocks = LloydKernel.pointsFile(points, vecCol, idCol)
      .getOrElse(LloydKernel.viaPlan(points, vecCol, idCol))
    if (cache) blocks.persist(StorageLevel.MEMORY_AND_DISK)
      .setName(s"LloydKernel($vecCol)")
    else blocks
  }

  /** The loop job's one-partition view of [[vectors]]. */
  private lazy val allInOne = new OneTaskRDD(vectors)

  /** One Lloyd round: (cluster, mean, count) for every NON-EMPTY
    * cluster, in cluster order. */
  def round(centroids: Array[Array[Double]])
      : Array[(Int, Array[Double], Long)] =
    roundRaw(centroids).map { case (i, sums, n) =>
      (i, LloydKernel.mean(sums, n), n)
    }

  /** One assignment + per-cluster (vector sum, count) pass over the
    * rows whose id passes `member` — the raw ClusteringFeature
    * aggregate (ClusteringFeature.java:7-9), for consumers
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
    * `rule` on the driver; also each task's compute time (ns). */
  private[kmeans] def stepJob(s: LloydState, rule: LloydRule)
      : (LloydState, Array[Long]) = {
    val parts = vectors.sparkContext.runJob(vectors,
      LloydKernel.timedRoundFn(s.centroids))
    (rule.step(s, LloydKernel.merge(parts.iterator.map(_._1), s.centroids)),
      parts.map(_._2))
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

  /** Every row is a member. */
  val Every: Long => Boolean = _ => true

  /** The blocks of a bare `points` scan, read without the planner
    * ([[PointsBlockRDD]]); None for any other plan. "Bare" is the shape
    * of the analyzed plan — a `DataSourceV2Relation` over a
    * [[PointsTable]] — read for its `point` column with no id column,
    * and not served by the session's cache (a cached frame keeps its
    * cached relation). */
  def pointsFile(points: DataFrame, vecCol: String, idCol: Option[String])
      : Option[RDD[VecBlock]] =
    GraftSqlBridge.logicalPlan(points) match {
      case r: DataSourceV2Relation
          if vecCol == "point" && idCol.isEmpty && !GraftSqlBridge.isCached(points) =>
        r.table match {
          case t: PointsTable => Some(PointsBlockRDD(points.sparkSession, t))
          case _ => None
        }
      case _ => None
    }

  /** The blocks of any DataFrame, through its physical plan. */
  def viaPlan(points: DataFrame, vecCol: String, idCol: Option[String])
      : RDD[VecBlock] = {
    val cols = idCol.toSeq.map(col) :+ col(vecCol)
    GraftSqlBridge.internalRdd(points.select(cols: _*))
      .mapPartitions(blockOf(idCol.isDefined))
  }

  /** A partition's plan rows in one block. `toDoubleArray` copies out
    * of the possibly-reused InternalRow buffer, so the arrays are
    * stable. */
  private def blockOf(hasId: Boolean): Iterator[InternalRow] => Iterator[VecBlock] =
    rows => {
      val block = new VecBlock.Builder(hasId)
      if (hasId) rows.foreach(r => block.add(r.getLong(0), r.getArray(1).toDoubleArray()))
      else rows.foreach(r => block.add(r.getArray(0).toDoubleArray()))
      Iterator.single(block.result())
    }

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
      : (TaskContext, Iterator[VecBlock]) => (Partial, Long) = {
    val round = roundFn(centroids, Every)
    (ctx, it) => {
      val t0 = System.nanoTime()
      val p = round(ctx, it)
      (p, System.nanoTime() - t0)
    }
  }

  /** The loop job's task: rounds from `s0` while `rule` continues. */
  def loopFn(s0: LloydState, rule: LloydRule)
      : (TaskContext, Iterator[OneTaskRDD.Passes[VecBlock]]) =>
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

  /** A round's task: its partition's per-cluster (vector sums, counts),
    * over its block's rows in order. Built here rather than in the class
    * so the closure cleaner, which runs on every job, inspects this
    * small object's bytecode. */
  def roundFn(centroids: Array[Array[Double]], member: Long => Boolean)
      : (TaskContext, Iterator[VecBlock]) => Partial = {
    val k = centroids.length
    val d = centroids.head.length
    (_, it) => {
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      while (it.hasNext) {
        val block = it.next()
        val rows = block.rows
        val ids = block.ids
        var r = 0
        while (r < rows.length) {
          val v = rows(r)
          if (member(if (ids == null) -1L else ids(r))) {
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
          r += 1
        }
      }
      (sums, counts)
    }
  }
}

/** A partition's rows as ONE object — what the kernel caches, so the
  * block manager sizes and stores one object per partition instead of
  * one tuple per row. `rows(r)` is row r's vector; `ids(r)` its id when
  * the kernel has an id column, else `ids` is null. Each row keeps its
  * own `double[]`: a flat row-major array per partition, indexed
  * `data(o + j)`, measured slower in the round's inner loop than
  * `v(j)` over a row array. */
private[kmeans] final class VecBlock(val rows: Array[Array[Double]],
                                     val ids: Array[Long]) extends Serializable

private[kmeans] object VecBlock {

  /** A partition's rows, in arrival order, into one block. */
  final class Builder(withIds: Boolean) {
    private val rows = Array.newBuilder[Array[Double]]
    private val ids = if (withIds) Array.newBuilder[Long] else null

    def add(v: Array[Double]): Unit = rows += v

    def add(id: Long, v: Array[Double]): Unit = { ids += id; rows += v }

    def result(): VecBlock =
      new VecBlock(rows.result(), if (ids == null) null else ids.result())
  }
}

/** The loop job's RDD: ONE partition over every partition of `prev`.
  * Its one element reads `prev`'s partitions again, in index order, each
  * time it is called — one call per round, over the cached blocks when
  * `prev` is persisted. The partition carries `prev`'s `Partition`
  * objects, as `CoalescedRDDPartition` does: a task cannot ask
  * `prev.partitions` for them, because the RDDs under a kernel
  * (`SQLExecutionRDD`, [[PointsBlockRDD]]) can list their partitions on
  * the driver only. */
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
