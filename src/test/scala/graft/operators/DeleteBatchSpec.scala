package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSessionSpec

/** Direct lifecycle tests for [[AnnIndex.appendDeleteBatch]] — the
  * crash-shaped states the AnnTiers round-trip can't easily reach:
  * torn legacy migrations, low-id batch collisions, and the auto-fold
  * bound on batch growth. */
class DeleteBatchSpec extends SparkSessionSpec {
  import spark.implicits._

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_delete_batches").toString

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def p(root: String, s: String) =
    new org.apache.hadoop.fs.Path(s"$root/$s")

  private def append(root: String, ids: Long*): Unit =
    AnnIndex.appendDeleteBatch(spark, root, ids.toDF("vec_id"))

  private def tombstoneSet(root: String): Set[Long] =
    AnnIndex.readSegment(spark, root, "deletes")
      .select("vec_id").distinct().as[Long].collect().toSet

  private def batchDirs(root: String): Seq[String] =
    fs.listStatus(p(root, "deletes")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))

  test("auto-fold bounds the batch count at the threshold and " +
       "preserves the tombstone set") {
    val root = freshRoot()
    val n = AnnIndex.DeleteFoldThreshold + 3
    var maxDirs = 0
    (1 to n).foreach { i =>
      append(root, i.toLong)
      maxDirs = math.max(maxDirs, batchDirs(root).size)
    }
    // the fold fires when the count EXCEEDS the threshold, so the
    // high-water mark is threshold+1 (just before) and the count right
    // after a fold is 1; per-append listStatus cost is bounded forever
    assert(maxDirs <= AnnIndex.DeleteFoldThreshold + 1,
      s"batch dirs reached $maxDirs")
    assert(batchDirs(root).size < AnnIndex.DeleteFoldThreshold)
    assert(tombstoneSet(root) == (1 to n).map(_.toLong).toSet,
      "folding must never lose or invent a tombstone")
  }

  test("torn migration (marker moved first, data left loose) is " +
       "healed by the next append") {
    val root = freshRoot()
    // legacy layout: data + _SUCCESS at the segment root
    Seq(1L, 2L).toDF("vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/deletes")
    // simulate the round-13 crash shape ADVICE described: _SUCCESS
    // already migrated into the batch dir, data file still loose, so
    // a committed()-keyed retry would skip the rest forever
    val dst = p(root, s"deletes/batch_id=${AnnIndex.MaintBatchBase}")
    fs.mkdirs(dst)
    assert(fs.rename(p(root, "deletes/_SUCCESS"),
      new org.apache.hadoop.fs.Path(dst, "_SUCCESS")))
    assert(fs.listStatus(p(root, "deletes"))
      .exists(s => s.isFile && !s.getPath.getName.startsWith("_")),
      "precondition: loose data files at the segment root")

    append(root, 3L)
    assert(!fs.listStatus(p(root, "deletes")).exists(_.isFile),
      "the retry must finish the migration, not strand loose files")
    assert(tombstoneSet(root) == Set(1L, 2L, 3L),
      "the legacy set and the new batch must both survive")
  }

  test("torn migration (data moved, marker left loose) is finished " +
       "by the next append") {
    val root = freshRoot()
    Seq(7L).toDF("vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/deletes")
    val dst = p(root, s"deletes/batch_id=${AnnIndex.MaintBatchBase}")
    fs.mkdirs(dst)
    fs.listStatus(p(root, "deletes"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .foreach { st =>
        assert(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dst, st.getPath.getName)))
      }
    append(root, 8L)
    assert(!fs.listStatus(p(root, "deletes")).exists(_.isFile))
    assert(tombstoneSet(root) == Set(7L, 8L))
  }

  test("maintenance ids live above the stream id range: a resumed " +
       "stream can never clobber them, and the fold leaves stream " +
       "batches alone") {
    val root = freshRoot()
    // stream-shaped batches: small checkpointed micro-batch ids
    Seq(10L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/deletes/batch_id=0")
    Seq(11L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/deletes/batch_id=1")
    append(root, 20L)
    val dirs = batchDirs(root)
    assert(dirs.contains(s"batch_id=${AnnIndex.MaintBatchBase}"),
      s"maintenance batch must claim the namespaced id range, got $dirs")
    assert(tombstoneSet(root) == Set(10L, 11L, 20L),
      "stream and maintenance tombstones must union at read")
    // fold enough maintenance batches to trigger; stream dirs survive
    (1 to AnnIndex.DeleteFoldThreshold + 1).foreach(i =>
      append(root, 100L + i))
    assert(batchDirs(root).count(_.stripPrefix("batch_id=").toLong <
      AnnIndex.MaintBatchBase) == 2,
      "the auto-fold must never drop a stream-owned batch (its replay " +
        "contract would re-create it and resurrect folded tombstones)")
    assert(tombstoneSet(root) ==
      Set(10L, 11L, 20L) ++ (1 to AnnIndex.DeleteFoldThreshold + 1)
        .map(100L + _))
  }
}
