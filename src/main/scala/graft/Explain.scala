package graft

/** Plan-audit main: prints the formatted physical plan of selected
  * queries (or all) so scan pruning (ReadSchema/PushedFilters),
  * join strategies, and WholeStageCodegen spans can be inspected.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.get()
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
