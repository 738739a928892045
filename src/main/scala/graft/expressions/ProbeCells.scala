package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Native Catalyst expression for IVF probe routing: the `topN` cell
  * ids nearest to the row's vector, ordered by (squared distance, cell
  * id) ascending — the top-n generalization of [[NearestCentroid]]
  * (n = 1 yields exactly its argmin, same strict-< tie-break).
  *
  * Replaces the declarative composition
  * `slice(array_sort(zip_with(distances, sequence, struct)), 1, n)`
  * that the IVF probe routing used: the
  * higher-order functions in that form are not codegen'd — every row
  * allocated k structs and ran an interpreted comparator sort of all k
  * cells just to keep the first n ≤ 4. With the cell count scaling as
  * k = ⌈n/256⌉ ([[graft.operators.KMeansQueries.coarseK]]) that
  * per-row O(k log k) interpreted sort made corpus-side probe routing
  * the measured super-linear term of the KNN-graph family
  * (BENCH_LADDER r13: dedup_embed_cluster 1.13 growth/decade). This
  * form is one fused primitive loop: O(k·d) flops plus an O(k·n)
  * insertion-select into two length-n scratch arrays — no structs, no
  * comparator dispatch, and bitwise-identical output at every scale
  * (asserted against the declarative form in OperatorsSpec), so oracle
  * replay is unchanged.
  *
  * Contract matches [[NearestCentroid]]: inputs are length-matched and
  * NaN-free (distance accumulates over min(vec, centroid) length; the
  * declarative form instead null-poisons a length-mismatched distance
  * and sorts it last). Null vector ⇒ null (null-intolerant), matching
  * the built-in composition. The centroid matrix rides as a codegen
  * reference object — generated source is byte-identical across
  * centroid updates, so the codegen cache hits.
  */
case class ProbeCells(child: Expression, centroids: Array[Array[Double]],
                      topN: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "probe_cells"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nElems = arr.numElements()
    // one bulk copy per row: the k·d inner loop then reads a local
    // double[] instead of k·d megamorphic ArrayData.getDouble calls
    // (see NearestCentroid.bulkCopy — here k is the n-scaled cell
    // count, so the copy always amortizes)
    val v = arr.toDoubleArray()
    val k = centroids.length
    val nSel = math.min(topN, k)
    val selD = new Array[Double](nSel)
    val selI = new Array[Int](nSel)
    var filled = 0
    var i = 0
    while (i < k) {
      val c = centroids(i)
      val m = math.min(nElems, c.length)
      var d = 0.0
      var j = 0
      while (j < m) {
        val diff = v(j) - c(j)
        d += diff * diff
        j += 1
      }
      // lexicographic (d, cid) select: i ascends, so a tie on d keeps
      // the earlier (lower) cell id — the strict-< scan of the top-1
      // case, generalized
      if (filled < nSel || d < selD(nSel - 1)) {
        var p = if (filled < nSel) filled else nSel - 1
        while (p > 0 && d < selD(p - 1)) {
          selD(p) = selD(p - 1); selI(p) = selI(p - 1); p -= 1
        }
        selD(p) = d; selI(p) = i
        if (filled < nSel) filled += 1
      }
      i += 1
    }
    new GenericArrayData(selI.map(Int.box).asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val k = ctx.freshName("k")
      val nSel = ctx.freshName("nSel")
      val selD = ctx.freshName("selD")
      val selI = ctx.freshName("selI")
      val filled = ctx.freshName("filled")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val m = ctx.freshName("m")
      val nElems = ctx.freshName("nElems")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val p = ctx.freshName("p")
      val boxed = ctx.freshName("boxed")
      val v = ctx.freshName("v")
      s"""
         |int $k = $cents.length;
         |int $nSel = java.lang.Math.min($topN, $k);
         |double[] $selD = new double[$nSel];
         |int[] $selI = new int[$nSel];
         |int $filled = 0;
         |int $nElems = $arr.numElements();
         |double[] $v = $arr.toDoubleArray();
         |for (int $i = 0; $i < $k; $i++) {
         |  double[] $c = $cents[$i];
         |  int $m = java.lang.Math.min($nElems, $c.length);
         |  double $d = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    double $diff = $v[$j] - $c[$j];
         |    $d += $diff * $diff;
         |  }
         |  if ($filled < $nSel || $d < $selD[$nSel - 1]) {
         |    int $p = ($filled < $nSel) ? $filled : $nSel - 1;
         |    while ($p > 0 && $d < $selD[$p - 1]) {
         |      $selD[$p] = $selD[$p - 1]; $selI[$p] = $selI[$p - 1]; $p--;
         |    }
         |    $selD[$p] = $d; $selI[$p] = $i;
         |    if ($filled < $nSel) $filled++;
         |  }
         |}
         |Object[] $boxed = new Object[$nSel];
         |for (int $i = 0; $i < $nSel; $i++) $boxed[$i] = $selI[$i];
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
       """.stripMargin
    })

  // VALUE equality over the centroid matrix (case-class equality on an
  // Array field is reference equality): plan-cache lookup and exchange
  // reuse compare ANALYZED/canonicalized trees with ==, and every call
  // site collects a fresh centroid array — reference equality made two
  // builds of the same probe never match, so a persisted subtree
  // (dedup_embed_cluster's edge set) recomputed on every reuse instead
  // of hitting its cache. Same contract as NearestCentroid/PqEncodeCodes.
  // the matrix hash is cached per instance: Catalyst calls
  // hashCode/equals constantly during planning (rule memoization, set
  // dedup, canonicalized-plan compare), and an O(k·d) deepHashCode per
  // call turned AQE replanning into the measured bottleneck of the
  // x100 knn-graph build (executors idle, driver hashing)
  @transient private lazy val matrixHash: Int =
    java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])

  override def equals(other: Any): Boolean = other match {
    case p: ProbeCells =>
      topN == p.topN && child == p.child &&
        matrixHash == p.matrixHash &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]],
          p.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    getClass, child, Integer.valueOf(topN),
    Integer.valueOf(matrixHash))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ProbeCells {
  /** Column-API entry point. */
  def apply(vec: Column, centroids: Array[Array[Double]], topN: Int): Column =
    GraftSqlBridge.column(
      new ProbeCells(GraftSqlBridge.expression(vec), centroids, topN))
}
