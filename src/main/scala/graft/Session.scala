package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on, so a number measured by one
  * main means the same in another: master `SPARK_MASTER`, else
  * `local[$cpus]`; GraftExtensions, AQE, UTC, parquet nanos as longs,
  * no UI, log level WARN. Exchanges default to one partition per
  * thread: a wider AQE `initialPartitionNum` (8×cpus) measured slower
  * on the x10/x100 ladder rungs (graph_triangles x10 13.8 → 25.8 s).
  * Where a session already exists (tests, notebooks, the benchmark
  * harness), `getOrCreate` returns it with the runtime settings
  * re-applied, and its log level stays the one its host set. */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Whether [[get]] would return a session that exists already: one
    * active on this thread, or the default one. */
  def exists: Boolean =
    SparkSession.getActiveSession.isDefined || SparkSession.getDefaultSession.isDefined

  def get(shufflePartitions: Int = cpus): SparkSession = {
    val creates = !exists
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    if (creates) spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
