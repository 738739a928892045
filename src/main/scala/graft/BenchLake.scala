package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AnnIndex
import graft.sources.SnapshotTable

/** Write-path scale ladder for the lakehouse and the incremental
  * index ingest — the measurements behind the two architectural
  * claims the batch ladder cannot test (its families grow the INPUT;
  * these hold the batch fixed and grow the TABLE underneath):
  *
  *  - `lake_merge_fixed`: a constant 1 000-key MERGE into a snapshot
  *    table of x1/x10/x100 documents committed as constant-size file
  *    sets (the 100 TB shape: set COUNT scales, set size doesn't).
  *    Claim: the stats-scoped COW merge costs the TOUCHED sets plus an
  *    O(#sets) driver-side manifest pass — never the table.
  *  - `lake_append_fixed`: a constant 1 000-row exactly-once
  *    `commitBatch` append against the same growing table. Claim:
  *    an append writes its batch and republishes the manifest — no
  *    data-proportional work.
  *  - `ann_ingest_fixed`: a constant 1 000-vector micro-batch encoded
  *    with an x-scaled index's frozen quantizers and written in the
  *    bucketed cell layout (an incremental ANN ingest). Corpus
  *    size enters only through the coarse cell count k(n) inside the
  *    per-row argmin — the measurement bounds that term at the rungs.
  *
  * Output: one BENCH_LADDER-shaped JSON object (points +
  * growth_per_decade) for scripts/merge_ladder.py to union into
  * BENCH_LADDER.json. Flat families read as growth ≈ 0.1·(t_hi/t_lo);
  * ~1.0 would mean the write path scales with the TABLE — the failure
  * mode these families exist to rule out. */
object BenchLake {

  private val SetRows = 5000L   // constant file-set size (docs)
  private val BatchRows = 1000L // constant measured write batch

  private def drain(): Unit = {
    System.gc(); Thread.sleep(80); System.gc(); Thread.sleep(80)
  }

  /** Seed `root` with the x-dir documents as ceil(n/SetRows) file sets
    * of SetRows each (contiguous doc_id ranges → disjoint stats
    * envelopes), exactly once (a published version gates the seed). */
  private def seedTable(spark: SparkSession, root: String,
                        xDir: String): Unit = {
    if (SnapshotTable.latestVersion(spark, root).isDefined) return
    val docs = spark.read.parquet(s"$xDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    var lo = 0L
    var batch = 0L
    while (lo < n) {
      SnapshotTable.commitBatch(spark, root,
        docs.where(col("doc_id") >= lo && col("doc_id") < lo + SetRows),
        batchId = batch, statsKey = Some("doc_id"))
      lo += SetRows
      batch += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.get()
    val factors = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 100)
    val artifacts = graft.sources.Artifacts.root(spark)

    val out = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, Double]]()
    def record(fam: String, point: String, sec: Double): Unit = {
      out.getOrElseUpdate(fam,
        scala.collection.mutable.LinkedHashMap[String, Double]())
        .put(point, sec)
      System.err.println(f"[lake] $fam%-18s $point%-6s $sec%8.2f s")
    }
    /** 1 cold + warm runs, median warm (1 warm at x100 — large enough
      * to amortize noise, and the writes accumulate real state). */
    def time(fam: String, point: String, warm: Int)(body: => Unit): Unit = {
      def once(): Double = {
        drain()
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      once()
      val runs = Seq.fill(warm)(once()).sorted
      record(fam, point, runs(runs.length / 2))
    }

    for (f <- factors) {
      val point = s"x$f"
      val warm = if (f >= 100) 1 else 3
      val xDir = s"$artifacts/ladder3_x$f"
      require(new java.io.File(xDir).isDirectory,
        s"$xDir missing — run BenchLadder first to build the x dirs")

      // --- lake_merge_fixed: constant 1k-key upsert into the x-table
      val mergeRoot = s"$artifacts/lakebench_merge_$point"
      seedTable(spark, mergeRoot, xDir)
      val updates = spark.range(BatchRows)
        .select(col("id").as("doc_id"),
          concat(lit("updated "), col("id")).as("text"))
      time("lake_merge_fixed", point, warm) {
        SnapshotTable.merge(spark, mergeRoot, updates, "doc_id"); ()
      }

      // --- lake_append_fixed: constant 1k-row exactly-once append
      val appendRoot = s"$artifacts/lakebench_append_$point"
      seedTable(spark, appendRoot, xDir)
      var nextBatch = SnapshotTable.latestVersion(spark, appendRoot)
        .getOrElse(0) + 1000L // clear of the seed batch ids
      time("lake_append_fixed", point, warm) {
        val rows = spark.range(BatchRows)
          .select((col("id") + nextBatch * 10000000L).as("doc_id"),
            lit("appended").as("text"))
        SnapshotTable.commitBatch(spark, appendRoot, rows,
          batchId = nextBatch, statsKey = Some("doc_id"))
        nextBatch += 1
      }

      // --- ann_ingest_fixed: constant 1k-vector micro-batch encode +
      // bucketed write with the x-index's frozen quantizers; scratch
      // output keeps artifacts pristine
      val idxPath = AnnIndex.ensureIndex(spark, xDir)
      val cents = AnnIndex.readCents(spark, idxPath)
      val cb = AnnIndex.readCodebook(spark, idxPath)
      val batchVecs = spark.read.parquet(s"$xDir/embeddings.parquet")
        .limit(BatchRows.toInt)
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          graft.functions.VectorFunctions.toDoubleVec(col("embedding"))
            .as("v"),
          col("label"))
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_ann_ingest").toString
      var i = 0
      time("ann_ingest_fixed", point, warm) {
        graft.sources.ParquetSink.writeCellBucketed(
          AnnIndex.encode(batchVecs, cents, cb),
          s"$scratch/batch_id=$i", sortCols = Seq("vec_id"))
        i += 1
      }
    }

    val rungOrder = Seq("x1", "x10", "x100")
    val growth = out.map { case (fam, pts) =>
      val keys = rungOrder.filter(pts.contains)
      fam -> (if (keys.size >= 2 && pts(keys(keys.size - 2)) > 0 &&
          pts(keys.last) > 0) {
        val decades =
          rungOrder.indexOf(keys.last) - rungOrder.indexOf(keys(keys.size - 2))
        math.pow(pts(keys.last) / pts(keys(keys.size - 2)),
          1.0 / decades) / 10.0
      } else -1.0)
    }
    def m2j(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s""""$k": ${f"$v%.4f"}""" }.mkString("{", ", ", "}")
    println("{" +
      s""""points": ${out.map { case (f, p) =>
        s""""$f": ${m2j(p)}""" }.mkString("{", ", ", "}")}, """ +
      s""""growth_per_decade": ${m2j(growth)}, """ +
      """"note": "lake_merge_fixed/lake_append_fixed: constant 1k-row """ +
      """write into a snapshot table of x1/x10/x100 docs committed as """ +
      """constant-size file sets; ann_ingest_fixed: constant 1k-vector """ +
      """micro-batch encoded with the x-index's frozen quantizers. """ +
      """Flat time across rungs = the write costs the batch, never """ +
      """the table."}""")
    Caches.releaseAll(spark)
    spark.stop()
  }
}
