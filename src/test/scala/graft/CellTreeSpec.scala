package graft

import org.apache.spark.sql.functions._

import graft.expressions.{CellTree, ProbeCells, ProbeCellsTree}
import graft.operators.{CellRouting, OperatorReferences}

/** Contract of the beam-tree cell router that replaces the flat
  * O(k·d) routing scan for n-scaled coarse-cell sets (the
  * ann_knn_graph / dedup_embed_cluster super-linear term):
  *  - at k ≤ Branch the tree is one level and must be BITWISE equal
  *    to [[ProbeCells]] — that is the regime every correctness SF
  *    (k = 8) runs in, so the DuckDB oracles are untouched;
  *  - above Branch the beam descent must stay deterministic,
  *    self-consistent (probe top-1 == assign), and exact on
  *    spatially coherent cells (the structure the contiguous-block
  *    parents assume);
  *  - [[CellRouting]] must route the DRIVER-side pruning list and
  *    the in-plan probe column through the same path. */
class CellTreeSpec extends SparkSessionSpec {
  import spark.implicits._

  test("single-level tree (k <= Branch) is bitwise-equal to ProbeCells") {
    val cents = operators.KMeansQueries.firstKCentroids(spark, sf0001, 24)
    assert(cents.length <= CellTree.Branch)
    val tree = CellTree.build(cents)
    assert(tree.levels.length == 1)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (n <- Seq(1, 2, 4, 40)) {
      val flat = emb.select(col("vec_id"),
        ProbeCells(col("v"), cents, n).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      val treed = emb.select(col("vec_id"),
        ProbeCellsTree(col("v"), tree, n).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(flat == treed, s"topN=$n")
    }
  }

  test("beam descent is exact on spatially coherent cells with real pruning") {
    // 1000 cells on a line: blocks of 32 are spatially coherent, the
    // tree is 2 levels (1000 leaves under a 32-node root), and a
    // leaf-level scan touches at most Beam*Branch = 128 of the 1000
    // cells — real pruning, exact answers
    val k = 1000
    val cents = Array.tabulate(k)(i => Array(i.toDouble, 0.0))
    val tree = CellTree.build(cents)
    assert(tree.levels.length == 2)
    assert(tree.levels(0).length <= CellTree.Branch)
    for (j <- Seq(0, 1, 31, 32, 500, 735, 998, 999)) {
      val got = tree.routeArray(Array(j + 0.25, 0.0), 3).toSeq
      assert(got == Seq(j, j + (if (j == k - 1) -1 else 1),
        if (j == k - 1) j - 2 else if (j == 0) 2 else j - 1).map(_.toInt),
        s"query near cell $j")
    }
  }

  test("tree probe is deterministic and self-consistent at large k") {
    val k = 300
    val rnd = new scala.util.Random(41)
    val cents = Array.fill(k)(Array.fill(16)(rnd.nextGaussian()))
    val tree = CellTree.build(cents)
    val vs = (0 until 50).map(_ => Array.fill(16)(rnd.nextGaussian()))
    for (v <- vs) {
      val p4 = tree.routeArray(v, 4).toSeq
      assert(p4.length == 4 && p4.distinct == p4)
      assert(p4.forall(id => id >= 0 && id < k))
      // probe top-1 IS assign — the cell-blocked-join consistency rule
      assert(tree.routeArray(v, 1).toSeq == Seq(p4.head))
      // deterministic: a rebuilt tree routes identically
      assert(CellTree.build(cents.map(_.clone())).routeArray(v, 4).toSeq == p4)
    }
  }

  test("CellRouting column path matches the driver path in both regimes") {
    for (k <- Seq(8, 100)) {
      val cents = operators.KMeansQueries.firstKCentroids(spark, sf0001, k)
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val viaCol = emb.select(col("vec_id"),
        CellRouting.probe(col("v"), cents, 2).as("p"),
        CellRouting.assignCol(col("v"), cents).as("c"))
        .as[(Long, Seq[Int], Int)].collect()
      viaCol.foreach { case (id, p, c) =>
        assert(p.head == c, s"vec $id: probe head != assign at k=$k")
      }
      val viaDriver = emb.as[(Long, Seq[Double])].collect().map {
        case (id, v) => id -> OperatorReferences.probeDriver(cents, v.toArray, 2)
      }.toMap
      assert(viaCol.map(r => r._1 -> r._2).toMap == viaDriver, s"k=$k")
    }
  }

  test("ProbeCellsTree equality is value-based over a rebuilt tree") {
    val cents = Array.tabulate(50)(i => Array(i.toDouble, 1.0))
    val a = CellTree.build(cents)
    val b = CellTree.build(cents.map(_.clone()))
    assert(a == b && a.hashCode == b.hashCode)
    val child = org.apache.spark.sql.GraftSqlBridge.expression(col("v"))
    assert(new ProbeCellsTree(child, a, 2) == new ProbeCellsTree(child, b, 2))
    assert(new ProbeCellsTree(child, a, 2).hashCode ==
      new ProbeCellsTree(child, b, 2).hashCode)
    val c = CellTree.build(cents.updated(7, Array(7.0, 2.0)))
    assert(a != c)
    assert(new ProbeCellsTree(child, a, 2) != new ProbeCellsTree(child, c, 2))
    assert(new ProbeCellsTree(child, a, 2) != new ProbeCellsTree(child, a, 3))
  }
}
