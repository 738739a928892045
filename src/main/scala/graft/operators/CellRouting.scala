package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{CellTree, NearestCentroid, ProbeCells, ProbeCellsTree}

/** The one routing chokepoint for every n-SCALED coarse-cell consumer
  * (the IVF families, the KNN-graph build, the ANN index, diverse
  * sampling): nearest cell(s) for a vector against the
  * [[KMeansQueries.coarseK]] = ⌈n/256⌉ centroid set.
  *
  * Below [[CellTree.Branch]] cells the flat native scans run —
  * [[ProbeCells]] / [[NearestCentroid]], exact, bitwise-identical to
  * the DuckDB oracles' `ORDER BY list_distance LIMIT n` replay. Every
  * correctness SF lands here (k = 8). Above Branch the flat scan is
  * the board's super-linear term — O(k·d) per row with k ∝ n is
  * Θ(n²·d/256) per corpus pass (BENCH_LADDER r15: ann_knn_graph 1.59
  * growth/decade, dedup_embed_cluster 1.20) — so routing switches to
  * the [[CellTree]] beam descent: O(Branch·Beam·log(k)·d) per row,
  * making the corpus routing pass O(n log n) at any scale. The
  * switch changes which NEAR-nearest cell a vector blocks into (an
  * approximation an IVF structure already makes by existing), never
  * the scoring arithmetic that follows.
  *
  * Assignment and probing MUST come from the same router: the
  * corpus-side cell a vector lands in has to appear in its own probe
  * list, or self-pairs vanish from every cell-blocked join. Both
  * entry points below share one tree per centroid set, and probe's
  * first element IS assign's cell (same descent, same tie-break). */
object CellRouting {

  /** Routing-algorithm revision, embedded in every durable artifact
    * path that persists a cell ASSIGNMENT (AnnTiers segments, the
    * AnnIndex root): assignments written by one router and probed by
    * another break the assign-equals-probe-top-1 invariant above
    * [[CellTree.Branch]] cells, so a router change must rotate the
    * artifact paths and force a rebuild. rev 2 = the beam tree
    * (r16; rev 1 was the flat scan at every k). */
  val RouterRev = 2

  /** The `n` nearest cell ids as a column, (distance, id) ascending. */
  def probe(vec: Column, cents: Array[Array[Double]], n: Int): Column =
    if (cents.length <= CellTree.Branch) ProbeCells(vec, cents, n)
    else ProbeCellsTree(vec, CellTree.build(cents), n)

  /** The single routed cell id as a column. */
  def assignCol(vec: Column, cents: Array[Array[Double]]): Column =
    if (cents.length <= CellTree.Branch) NearestCentroid(vec, cents)
    else element_at(ProbeCellsTree(vec, CellTree.build(cents), 1), 1)

  /** [[graft.kmeans.KMeansOps.assignDyn]]-shaped assignment: the input
    * frame plus a routed `cluster` column — drop-in at every coarse
    * call site. */
  def assign(points: DataFrame, vecCol: String,
             cents: Array[Array[Double]]): DataFrame =
    points.withColumn("cluster", assignCol(col(vecCol), cents))
}
