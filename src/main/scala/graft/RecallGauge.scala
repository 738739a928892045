package graft

import org.apache.spark.sql.functions.sum

/** Dev tool: print the graph-ANN tier's aggregate recall@k at one or
  * more scale factors (the per-query breakdown is `ann_recall_graph`;
  * this sums it to the single number the tuning loop watches).
  * Usage: runMain graft.RecallGauge [sfDir ...]
  */
object RecallGauge {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = Session.get()
    for (dir <- dirs) {
      val t0 = System.nanoTime()
      val agg = operators.Similarity.annRecallGraph(spark, dir)
        .agg(sum("n_hits"), sum("k")).collect()(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[recall] $dir recall@k=" +
        f"${agg.getLong(0).toDouble / agg.getLong(1)}%.4f ($dt%.1f s)")
    }
    spark.stop()
  }
}
