package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE index root for the non-IVF-PQ quantization tiers — BQ codes,
  * SQ8 codes, their trained params, and the kNN navigation graph —
  * governed by the SAME segment model as [[AnnIndex]] (build-once
  * `_SUCCESS`-gated segments): every tier artifact is written once
  * per (corpus, size) under one root whose path self-invalidates.
  *
  * Segment layout under `anntiers_<dir>_n<count>`:
  *  - `codes_bq/` — (vec_id, lo, hi): 8 B/vector sign codes
  *  - `params_bq/` — 1 row: the per-dimension mean thresholds
  *  - `codes_sq8/` — (vec_id, codes): 64 B/vector affine int8
  *  - `params_sq8/` — 1 row: (mn, mx, step)
  *  - `graph/` — the kNN navigation edges (n·K rows)
  *  - `params_ivfpqr_cents/`, `params_ivfpqr_cb/`, `codes_ivfpqr/` —
  *    the residual IVF-PQ's Lloyd-trained quantizers + 4 B/vector
  *    residual codes
  *
  * Scale posture: identical to [[AnnIndex]] — the code tables are the
  * big artifacts, written once per (corpus, size) and served from
  * disk. */
object AnnTiers {

  /** The shared tier-index root — keyed by data dir AND corpus row
    * count (the [[AnnIndex.indexPath]] self-invalidation rule), count
    * memoized per session ([[graft.Tables.cachedCount]]). */
  def root(spark: SparkSession, dir: String): String = {
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // routerRev in the path: cell assignments persisted in a segment
    // and the probe lists serving it MUST come from the same router
    // (CellRouting's invariant) — a router change (flat → beam tree,
    // r16) silently breaks every pre-existing k>Branch segment unless
    // the path itself rotates, forcing a rebuild under the new router
    // (ADVICE r16)
    s"${graft.sources.Artifacts.root(spark)}/anntiers_${key}" +
      s"_rt${CellRouting.RouterRev}_n$n"
  }

  /** Build-once segment gate: reuse a committed segment, else build
    * and commit it; returns the segment read back from disk. */
  private[operators] def ensureSegment(spark: SparkSession, dir: String,
      seg: String, coalesceTo: Int)(build: => DataFrame): DataFrame = {
    val path = root(spark, dir)
    if (!AnnIndex.segmentAvailable(spark, path, seg)) {
      val df = build
      (if (coalesceTo > 0) df.coalesce(coalesceTo) else df)
        .write.mode("overwrite").parquet(s"$path/$seg")
    }
    AnnIndex.readSegment(spark, path, seg)
  }

  /** Cell-keyed segment in the BUCKETED layout
    * ([[graft.sources.ParquetSink.writeCellBucketed]]): the seed-cells
    * artifact of the graph tier — (vec_id, v, nrm, cluster), one row
    * per corpus vector, dirs on `bucket = cluster % 64`, files sorted
    * by (cluster, vec_id). Written once at build; a probe-pruned read
    * ([[readCellSegment]]) then touches ONLY the probed cells' buckets
    * and row groups, so graph-search seeding never pays the corpus-
    * wide O(n·k·d) assignment at serve time (measured: 14.6 of the
    * 17.1 s x100 warm search before this segment existed). */
  private[operators] def ensureCellSegment(spark: SparkSession,
      dir: String, seg: String)(build: => DataFrame): Unit = {
    val path = root(spark, dir)
    if (!AnnIndex.segmentAvailable(spark, path, seg))
      graft.sources.ParquetSink.writeCellBucketed(build, s"$path/$seg",
        sortCols = Seq("vec_id"))
  }

  /** Read a bucketed cell segment, optionally pruned to `probeCells`:
    * bucket-dir pruning first (partition filter — non-probed dirs are
    * skipped before any IO), then the cell equality parquet row-group
    * stats resolve inside the surviving files. The physical `bucket`
    * column is dropped — layout bookkeeping, not segment data. */
  private[operators] def readCellSegment(spark: SparkSession, dir: String,
      seg: String, probeCells: Option[Seq[Int]] = None): DataFrame = {
    val raw = spark.read.parquet(s"${root(spark, dir)}/$seg")
    probeCells.fold(raw) { cs =>
      raw.where(col("bucket").isin(cs.map(c => Int.box(
          graft.sources.ParquetSink.bucketOf(c))).distinct: _*))
        .where(col("cluster").isin(cs.map(Int.box): _*))
    }.drop("bucket")
  }

  /** 1-row trained-parameter segment (the quantizer-is-part-of-the-
    * index rule): trained by one tiny aggregate on the first build,
    * read back as a 1-row parquet ever after; `limit(1)` enforces the
    * 1-row contract at read time and gives the plan linter the bound
    * it needs to accept the broadcast parameter join. */
  private[operators] def paramSegment(spark: SparkSession, dir: String,
      seg: String)(train: => DataFrame): DataFrame =
    ensureSegment(spark, dir, seg, 1)(train).limit(1)
}
