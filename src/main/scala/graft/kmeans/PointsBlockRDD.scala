package graft.kmeans

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

import graft.sources.{PointsPartitionReader, PointsScan, PointsTable}

/** [[LloydKernel]]'s source for a bare `points` scan, built without the
  * planner — the way the reference's Hadoop job hands its text splits
  * straight to the mappers. Its partitions are the scan's own byte
  * ranges ([[PointsScan.planInputPartitions]]) and its tasks read
  * through the scan's reader factory, which carries the session's
  * Hadoop conf as one broadcast. Each task runs
  * [[PointsPartitionReader.nextLine]] — the source's line loop, so split
  * ownership, blank lines and the malformed-line message stay there —
  * and copies each line's values straight into one [[VecBlock]]. It
  * reports the task's input metrics (bytes and records read) as
  * `DataSourceRDD` does. Building it lists the input files and takes
  * the session's conf broadcast (a new one only when the conf changed):
  * no plan, no codegen, no closure to clean. */
private[kmeans] final class PointsBlockRDD(
    sc: SparkContext,
    @transient private val inputs: Array[InputPartition],
    factory: PartitionReaderFactory)
  extends RDD[VecBlock](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate(inputs.length)(i => new PointsBlockRDD.Range(i, inputs(i)))

  override def compute(split: Partition, context: TaskContext): Iterator[VecBlock] = {
    val metrics = new GraftSqlBridge.ScanMetrics(context)
    val reader = factory
      .createReader(split.asInstanceOf[PointsBlockRDD.Range].input)
      .asInstanceOf[PointsPartitionReader]
    val block = new VecBlock.Builder(withIds = false)
    try {
      while (reader.nextLine()) {
        block.add(reader.point())
        metrics.record()
      }
    } finally {
      reader.close()
      metrics.done()
    }
    Iterator.single(block.result())
  }
}

private[kmeans] object PointsBlockRDD {

  final class Range(val index: Int, val input: InputPartition) extends Partition

  /** The blocks of `table`'s whole file set, split as the scan splits
    * it in `session`. */
  def apply(session: SparkSession, table: PointsTable): PointsBlockRDD = {
    val scan = new PointsScan(table.path, table.splitSize, PointsTable.Schema,
      session, session.sessionState.newHadoopConf())
    new PointsBlockRDD(session.sparkContext, scan.planInputPartitions(),
      scan.createReaderFactory())
  }
}
