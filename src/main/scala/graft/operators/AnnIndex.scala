package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.VectorFunctions._
import graft.kmeans.KMeansOps
import graft.sources.ParquetSink

/** PERSISTED IVF-PQ index — the build-once / query-many shape real
  * 100 TB vector search runs on, closing the gap where every `ann_*`
  * query re-derived centroids + codebook and re-encoded the corpus
  * per run ([[Similarity]] keeps those as the self-contained variants).
  *
  * Build ([[annIndexBuild]]) writes three artifacts under a
  * deterministic per-corpus path:
  *  - `codes/` — one row per corpus vector: (vec_id, code_0..7,
  *    packed), in the BUCKETED CELL LAYOUT
  *    ([[ParquetSink.writeCellBucketed]]): hive dirs on
  *    `bucket = cell % CellBuckets` (a CONSTANT fan-out — one dir per
  *    cell would be ~400M directories at 100 TB), files sorted by
  *    (cell, vec_id), so a probe-pruned search skips non-probed
  *    bucket dirs before any IO and parquet row-group stats resolve
  *    the probed cells inside the surviving files, at 4 packed bytes
  *    per vector — the corpus's raw embeddings are never touched
  *    again;
  *  - `cents/` — the k coarse centroids (k rows);
  *  - `codebook/` — the PQ sub-codebooks (PqM·PqKsub rows).
  *
  * Search ([[annIndexSearch]]) answers the standard query batch by
  * SCANNING the index: centroids + codebook load from their k-row
  * artifacts (driver-side, same O(k·d) weight as the k-means loop's
  * collects), the query batch probes its cells, and the codes scan is
  * statically pruned to the probed cells before ADC scoring. The
  * result is bit-identical to [[Similarity.annIvfPq]] — same oracle.
  *
  * Artifact root: `spark.graft.artifacts.dir` (a shared filesystem
  * path on a real cluster — HDFS/S3); defaults to the JVM tmpdir,
  * which is correct only in local mode. The path is keyed by data dir
  * AND corpus row count, so a regenerated corpus self-invalidates.
  */
object AnnIndex {

  import Similarity.{NProbe, PqKsub, PqM, TopK}

  /** Small daemon pool for OVERLAPPING independent artifact writes
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially): the k-row cents/codebook writes — and their
    * Catalyst planning — ride alongside the corpus-sized codes write
    * instead of queueing behind it. Spark job submission is
    * thread-safe; job descriptions/groups are thread-local so each
    * write labels itself. 3 threads: that is the widest independent
    * write set any lifecycle step has. */
  private lazy val writePool =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"ann-index-write-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Run independent write actions concurrently and wait for all;
    * the first failure propagates (writes are overwrite-idempotent,
    * so a retried step re-runs cleanly). */
  private def inParallel(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = writePool
    Await.result(
      Future.sequence(actions.map(a => Future(a()))), Duration.Inf)
    ()
  }

  def indexPath(spark: SparkSession, dir: String): String = {
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // v2: codes carry the label metadata column (filtered search);
    // the version bump keeps a stale label-less artifact from being
    // reused by the build-once gate. rt<rev>: the cluster column is a
    // CellRouting assignment and the probe lists serving the segment
    // must come from the SAME router — the path rotates with the
    // router revision so pre-tree artifacts rebuild (ADVICE r16)
    s"${graft.sources.Artifacts.root(spark)}/ivfpq3_${key}" +
      s"_rt${CellRouting.RouterRev}_n$n"
  }

  /** Assignment + PQ encode of one (vec_id, v) corpus against a given
    * centroid set and codebook — narrow projections over the scan,
    * shared by the base build and the frozen-codebook delta append.
    *
    * The per-block argmin runs as the native codegen
    * [[graft.expressions.PqEncodeCodes]] expression, not the
    * declarative [[Similarity.withBlockDists]] + array_position form
    * the from-scratch queries keep: Spark's higher-order functions are
    * interpreted, and their M·K per-row lambda evaluations were ~40 of
    * the 69 s of the r13 x100 index-build rung — the dominant
    * per-row constant on the one corpus-sized job of the index
    * lifecycle. Code-for-code equality of the two forms is spec-pinned
    * (PqEncodeSpec), so the oracle replay is unchanged. */
  private[graft] def encode(corpus: DataFrame, cents: Array[Array[Double]],
                     cb: Array[Array[Array[Double]]]): DataFrame =
    CellRouting.assign(corpus, "v", cents)
      .withColumn("pq_codes", graft.expressions.PqEncodeCodes(col("v"), cb))
      .select(col("vec_id") +: col("label") +: col("cluster") +:
        (0 until PqM).map(m =>
          element_at(col("pq_codes"), m + 1).as(s"code_$m")): _*)
      .withColumn("packed",
        (0 until PqM).map(m => col(s"code_$m").cast("long") *
          (1L << (4 * m))).reduce(_ + _))

  /** Write the full index (codes + cents + codebook); returns its path.
    * The codes write is the one corpus-sized job: assignment + PQ
    * encode are narrow projections over the scan, then ONE shuffle
    * routes rows to their cell directory (one file per cell). */
  def buildIndex(spark: SparkSession, dir: String): String = {
    val path = indexPath(spark, dir)
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val cb = Similarity.pqCodebook(spark, dir)
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"),
        col("label"))
    val encoded = encode(emb, cents, cb)
    val spark2 = spark
    import spark2.implicits._
    // three independent artifacts, one pool: the tiny cents/codebook
    // writes (plus their planning) overlap the corpus-sized codes
    // write instead of serializing after it (guide §2.6)
    inParallel(
      () => ParquetSink.writeCellBucketed(encoded, s"$path/codes",
        sortCols = Seq("vec_id")),
      () => cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cents"),
      () => (for { m <- 0 until PqM; j <- 0 until PqKsub }
          yield (m, j, cb(m)(j).toSeq))
        .toDF("m", "j", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook"))
    path
  }

  /** Build-once gate: reuse the artifact when its committed codes dir
    * exists, else build. (The path embeds the corpus row count, so a
    * changed corpus never reuses a stale index.) */
  def ensureIndex(spark: SparkSession, dir: String): String = {
    val path = indexPath(spark, dir)
    val success = new org.apache.hadoop.fs.Path(s"$path/codes/_SUCCESS")
    val fs = success.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(success)) path else buildIndex(spark, dir)
  }

  /** Build the index, then report per-cell invariants READ BACK FROM
    * THE ARTIFACT — cell population, vec_id range, and the sum of
    * packed code words (a fingerprint of every code nibble in the
    * cell). The DuckDB oracle recomputes all of it from the raw
    * embeddings, so a corrupted write, a mis-routed row, or a codec
    * drift between build and artifact all surface as value
    * mismatches. */
  def annIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val path = buildIndex(spark, dir)
    spark.read.parquet(s"$path/codes")
      .groupBy(col("cluster").cast("int").as("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("packed")).as("sum_packed"))
  }

  /** Read the persisted k-row centroid artifact back as the in-plan
    * array form. */
  private[graft] def readCents(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/cents")
      .orderBy(col("cid")).collect().map(_.getSeq[Double](1).toArray)

  /** Read the persisted PQ codebook artifact back as [m][j][dim]. */
  private[graft] def readCodebook(spark: SparkSession,
                           path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    Array.tabulate(PqM, PqKsub)((m, j) => rows((m, j)))
  }

  /** Deterministic "newly arrived" vectors for the append path: each
    * base vector re-enters REVERSED with vec_id offset by the corpus
    * size — disjoint ids, different geometry, closed-form for the
    * oracle (list_reverse + count offset). */
  private def deltaCorpus(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    emb.crossJoin(broadcast(emb.agg(count(lit(1)).as("n_base"))))
      .select((col("vec_id") + col("n_base")).as("vec_id"),
        reverse(toDoubleVec(col("embedding"))).as("v"), col("label"))
  }

  /** Encode the delta corpus with the artifact's frozen quantizers and
    * write it as the `codes_delta` segment (overwrite-idempotent);
    * shared by the append report and the compaction. Returns the index
    * path. */
  private[graft] def ensureDelta(spark: SparkSession, dir: String): String = {
    val path = ensureIndex(spark, dir)
    val cents = readCents(spark, path)
    val cb = readCodebook(spark, path)
    val encoded = encode(deltaCorpus(spark, dir), cents, cb)
    ParquetSink.writeCellBucketed(encoded, s"$path/codes_delta",
      sortCols = Seq("vec_id"))
    path
  }

  /** Delta-once gate for the SEARCH path: reuse a committed
    * `codes_delta` segment, else encode+write it. (The append/compact
    * queries call [[ensureDelta]] directly — rewriting the segment IS
    * the operation they measure; a search must stay a pure read when
    * the segments already exist.) */
  private def ensureDeltaOnce(spark: SparkSession, dir: String): String = {
    val path = ensureIndex(spark, dir)
    if (segmentAvailable(spark, path, "codes_delta")) path
    else ensureDelta(spark, dir)
  }

  /** Deterministic tombstone rule: every vector whose id ≡
    * [[DeleteRes]] (mod [[DeleteMod]]) across base ∪ delta is deleted
    * — closed-form, so the DuckDB oracles replay the exact live set. */
  val DeleteMod = 13
  val DeleteRes = 5

  /** Write the tombstone artifact (delete-once gate, like the delta):
    * a thin (vec_id) relation under `deletes/`. Tombstones are the
    * third segment-model piece (Lucene's .liv files): deletion never
    * rewrites a code segment — it records ids; readers subtract them
    * ([[minusDeletes]]) and the next compaction drops them
    * physically. */
  private def ensureDeletes(spark: SparkSession, dir: String): String = {
    val path = ensureDeltaOnce(spark, dir)
    if (!segmentAvailable(spark, path, "deletes"))
      committedSegments(spark, path)
        .where(col("vec_id") % DeleteMod === DeleteRes)
        .select(col("vec_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/deletes")
    path
  }

  /** INCREMENTAL append — the segment model (Lucene/FAISS shape) that
    * makes a 100 TB index maintainable: new vectors are encoded with
    * the FROZEN centroids + codebook READ FROM THE ARTIFACT (real
    * systems never re-derive the quantizers on ingest — that would
    * silently re-key every existing cell) and written as a SEPARATE
    * `codes_delta` segment, overwrite-idempotent, leaving the base
    * segment untouched. Search/compaction reads the segment union.
    * The query reports per-(segment, cell) invariants over the merged
    * index read back from disk; the oracle re-derives both segments
    * from raw embeddings — base as ann_index_build, delta over the
    * reversed+offset corpus with the SAME base-derived quantizers. */
  def annIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureDelta(spark, dir)
    spark.read.parquet(s"$path/codes").withColumn("segment", lit("base"))
      .unionByName(spark.read.parquet(s"$path/codes_delta")
        .withColumn("segment", lit("delta")))
      .groupBy(col("segment"), col("cluster").cast("int").as("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("packed")).as("sum_packed"))
  }

  /** SEGMENT COMPACTION — the third phase of the index lifecycle
    * (build → append → compact): fold the delta segment back into one
    * canonical segment so searches stop paying the per-segment scan
    * union and small-files tax. Codes are NOT re-derived — compaction
    * is a pure RE-LAYOUT of already-encoded rows (the quantizers are
    * frozen, so re-encoding would be wasted work and a silent
    * correctness hazard): read the segment union, ONE shuffle routes
    * rows back to their cell directory, sorted by vec_id within each
    * cell — restoring exactly the layout/pruning properties of a fresh
    * build at delta-plus-base scan cost, never touching raw
    * embeddings. Compaction is also where TOMBSTONES die: the rewrite
    * keeps only live rows ([[minusDeletes]]), reclaiming the deleted
    * vectors' space — the Lucene merge semantic. The report reads the
    * COMPACTED artifact back and emits the same per-cell invariants
    * as `ann_index_build`; the oracle re-derives base+delta codes
    * from raw embeddings, subtracts the closed-form tombstone rule,
    * and aggregates the live rows as one segment, so a row lost,
    * duplicated, mis-routed or wrongly surviving its tombstone
    * surfaces as a value mismatch. */
  def annIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureDelta(spark, dir)
    ensureDeletes(spark, dir)
    val merged = minusDeletes(spark, path, committedSegments(spark, path))
    ParquetSink.writeCellBucketed(merged, s"$path/codes_compacted",
      sortCols = Seq("vec_id"))
    spark.read.parquet(s"$path/codes_compacted")
      .groupBy(col("cluster").cast("int").as("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("packed")).as("sum_packed"))
  }

  /** Every COMMITTED code segment at `path`: the base segment plus the
    * `codes_delta` segment when its `_SUCCESS` marker exists — the
    * Lucene/FAISS segment rule that a reader sees base ∪ deltas, never
    * the base alone. Same union the compaction folds.
    *
    * `probeCells` pushes a cell filter into EACH segment scan before
    * the layout column is dropped: bucket-dir pruning first
    * (the `bucket = cell % CellBuckets` hive dirs —
    * whole directories skipped before any IO), then the cell equality
    * itself, which parquet row-group min/max stats resolve inside the
    * surviving files because every file is sorted by cell
    * ([[ParquetSink.writeCellBucketed]]). */
  private[graft] def committedSegments(spark: SparkSession, path: String,
      probeCells: Option[Seq[Int]] = None): DataFrame = {
    def seg(name: String): DataFrame = {
      val raw = spark.read.parquet(s"$path/$name")
      val filtered = probeCells.fold(raw) { cs =>
        val bucketPruned =
          if (raw.columns.contains("bucket"))
            raw.where(col("bucket").isin(cs.map(c =>
              Int.box(ParquetSink.bucketOf(c))).distinct: _*))
          else raw
        bucketPruned.where(col("cluster").isin(cs.map(Int.box): _*))
      }
      if (filtered.columns.contains("bucket")) filtered.drop("bucket")
      else filtered
    }
    val base = seg("codes")
    if (segmentAvailable(spark, path, "codes_delta"))
      base.unionByName(seg("codes_delta")
        .select(base.columns.toIndexedSeq.map(col): _*))
    else base
  }

  /** A segment is committed: its root `_SUCCESS` marker exists. */
  private[graft] def segmentAvailable(spark: SparkSession, path: String,
                                      seg: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/$seg/_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(marker)
  }

  /** Read a segment. The bucketed layout surfaces `bucket` as a
    * discovered partition column — physical bookkeeping, not segment
    * data — so it is dropped here. */
  private[graft] def readSegment(spark: SparkSession, path: String,
                                 seg: String): DataFrame = {
    val df = spark.read.parquet(s"$path/$seg")
    if (df.columns.contains("bucket")) df.drop("bucket") else df
  }

  /** Apply the committed tombstone set (when one exists) to a code
    * relation — the LIVE-DOCS rule: a segment reader ALWAYS subtracts
    * the delete artifact; a search that returned tombstoned vectors
    * would be exactly the staleness bug the delta union fixed, in the
    * other direction. Anti join on the id; the tombstone side is a
    * thin (vec_id) relation AQE broadcasts while it is small and
    * shuffles once it is not — both correct at 100 TB. */
  private def minusDeletes(spark: SparkSession, path: String,
                           codes: DataFrame): DataFrame =
    if (segmentAvailable(spark, path, "deletes"))
      codes.join(readSegment(spark, path, "deletes").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    else codes

  /** The tombstone set as a JOINABLE unit relation: deduplicated on
    * vec_id, because a duplicated tombstone in a LEFT join would fan
    * out segment rows and corrupt every count downstream. The anti
    * join in [[minusDeletes]] is set-semantic already and skips the
    * distinct's exchange. */
  private def tombstones(spark: SparkSession, path: String): DataFrame =
    readSegment(spark, path, "deletes")
      .select(col("vec_id")).distinct()
      .withColumn("deleted", lit(1))

  /** Shared ADC search plan over the committed segments at `path`
    * (base ∪ delta): centroids + codebook load from their k-row
    * artifacts, the probe set is derived driver-side from the tiny
    * query batch (a literal `IN` the codes scans prune partitions on),
    * probed rows are ADC-scored from broadcast per-query lookup tables
    * and cut through the native top-k heaps. `labelFiltered` adds the
    * vector-DB metadata rule: the label equality is a JOIN condition
    * applied BEFORE ranking (post-filtering an unfiltered top-k
    * under-returns) — the label lives ALONGSIDE the codes in the
    * segment, so the filter never re-joins raw data. */
  private[graft] def searchSegments(spark: SparkSession, dir: String,
                                    path: String,
                                    labelFiltered: Boolean,
                                    applyDeletes: Boolean = true): DataFrame = {
    val qsBase = Similarity.queriesDf(spark, dir)
      .select(col("query_id"), col("qv"))
    val qs =
      if (!labelFiltered) qsBase
      else qsBase
        .join(t(spark, dir, "embeddings")
            .select(col("vec_id"), col("label").as("q_label")),
          col("query_id") === col("vec_id"))
        .select(col("query_id"), col("qv"), col("q_label"))
    val cents = readCents(spark, path)
    val cb = readCodebook(spark, path)
    // static partition filter: the DISTINCT probed cells of the query
    // batch, routed IN-PLAN by the same CellRouting.probe expression
    // as the probe join below (agreement by construction — a
    // tree-probed cell can never be pruned out of the segment scan)
    // and collected as a cell-count-bounded list. The former variant
    // collected every query VECTOR driver-side — fine at 100-query
    // contract batches, a driver bottleneck the moment the query side
    // becomes corpus-sized; distinct cells are ≤ k (the coarse
    // codebook size) no matter how many queries route through them.
    val probedAll = qs
      .select(explode(CellRouting.probe(col("qv"), cents, NProbe))
        .as("pc"))
      .distinct().collect().map(_.getInt(0)).sorted
    // cell pruning FIRST (bucket-dir pruning + row-group stats reach
    // both segment scans, inside committedSegments), then the
    // live-docs subtraction on the already-pruned rows
    // (`applyDeletes = false` is spec-only: the tombstone-contrast
    // test proves the delete is what hides a vector, not candidate
    // generation)
    val pruned =
      committedSegments(spark, path, Some(probedAll.toIndexedSeq))
    val codes =
      if (applyDeletes) minusDeletes(spark, path, pruned) else pruned
    val probedLuts = Similarity.withBlockDists(qs, "qv", cb, "lut_")
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
    val joinCond = col("probe_cell") === col("cluster") &&
      col("vec_id") =!= col("query_id") &&
      (if (labelFiltered) col("label") === col("q_label") else lit(true))
    val adc = round(sqrt((0 until PqM).map(m =>
      element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)), 6)
    val scored = codes.join(broadcast(probedLuts), joinCond)
      .select(col("query_id") +: col("vec_id").as("neighbor_id") +:
        (if (labelFiltered) Seq(col("label")) else Nil) :+
        adc.as("adc_dist"): _*)
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id") +: col("neighbor_id") +: col("rank") +:
        (if (labelFiltered) Seq(col("label")) else Nil) :+
        col("adc_dist"): _*)
  }

  /** IVF-PQ search over the PERSISTED index, SEGMENT-COMPLETE: the
    * corpus side reads the committed segments (base ∪ `codes_delta`)
    * MINUS the committed tombstones — appended vectors are searchable
    * IMMEDIATELY and deleted vectors invisible IMMEDIATELY, without
    * waiting for compaction (the round-5 verdict flagged the
    * base-only staleness; ignoring tombstones is the same bug with
    * the opposite sign). The query ensures delta + deletes exist
    * first, so its result is deterministic regardless of which index
    * query ran before it; the oracle re-derives base + delta codes
    * from raw embeddings, subtracts the closed-form tombstone rule,
    * and ADC-ranks over the live union. */
  def annIndexSearch(spark: SparkSession, dir: String): DataFrame =
    searchSegments(spark, dir, ensureDeletes(spark, dir),
      labelFiltered = false)

  /** FILTERED search over the persisted index — [[annIndexSearch]]'s
    * segment-complete live scan with the label predicate applied
    * BEFORE ranking (see [[searchSegments]]). */
  def annIndexSearchFiltered(spark: SparkSession, dir: String): DataFrame =
    searchSegments(spark, dir, ensureDeletes(spark, dir),
      labelFiltered = true)

  /** TOMBSTONE DELETE — the segment model's third phase (build →
    * append → DELETE → compact): deletion writes ids, never touches a
    * code segment (Lucene's .liv shape — rewriting a 100 TB segment
    * per delete batch would be absurd). The report reads the
    * artifacts back and classifies every (segment ∪ delta) row
    * live/deleted per cell; the oracle re-derives both segments from
    * raw embeddings and applies the same closed-form rule, so a
    * tombstone that missed a segment or leaked into the live count
    * shows up as a value mismatch. */
  def annIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureDeletes(spark, dir)
    val tomb = tombstones(spark, path)
    committedSegments(spark, path)
      .join(tomb, Seq("vec_id"), "left")
      .groupBy(col("cluster").cast("int").as("cluster"))
      .agg(count(when(col("deleted").isNull, 1)).as("n_live"),
        count(col("deleted")).as("n_deleted"),
        sum(when(col("deleted").isNull, col("packed"))).as("sum_packed_live"))
  }

  /** SEGMENT CATALOG — the `segments_N` readout every segment-model
    * index ships (Lucene's segment info / FAISS's index stats): one
    * row per code segment with its vector count, occupied-cell count,
    * tombstone overlap and live count, and the id range. Drives the
    * operational questions the lifecycle raises (is compaction due?
    * how much of a segment is dead?) without touching raw vectors:
    * the plan is two thin segment scans + the tombstone anti-ish
    * left join + one O(segments) aggregate. The query materializes
    * the full lifecycle state first (base, delta, deletes) so the
    * catalog is deterministic and the oracle replays it closed-form
    * (assignment replay for cells, the mod-13 rule for tombstones). */
  def annIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureDeletes(spark, dir)
    val tomb = tombstones(spark, path)
    def seg(name: String, label: String) =
      readSegment(spark, path, name).withColumn("segment", lit(label))
    seg("codes", "base").unionByName(seg("codes_delta", "delta"))
      .join(tomb, Seq("vec_id"), "left")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_vectors"),
        count_distinct(col("cluster")).as("n_cells"),
        count(col("deleted")).as("n_tombstoned"),
        count(when(col("deleted").isNull, 1)).as("n_live"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_index_stats" -> annIndexStats,
    "ann_index_search_filtered" -> annIndexSearchFiltered,
    "ann_index_build" -> annIndexBuild,
    "ann_index_append" -> annIndexAppend,
    "ann_index_delete" -> annIndexDelete,
    "ann_index_compact" -> annIndexCompact,
    "ann_index_search" -> annIndexSearch)

  val oracles: Map[String, String] = Map(
    // the segment catalog replayed closed-form: assignment replay for
    // occupied cells, id offset for the delta range, mod-13 tombstones
    "ann_index_stats" ->
      s"""WITH ${Similarity.centsCte}, evs AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), b AS (
         |  SELECT e.vec_id,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM evs e
         |), dv AS (
         |  SELECT vec_id + (SELECT count(*) FROM embeddings) AS vec_id,
         |         list_reverse(v) AS v
         |  FROM evs
         |), d AS (
         |  SELECT e.vec_id,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM dv e
         |), m AS (
         |  SELECT 'base' AS segment, vec_id, cluster FROM b
         |  UNION ALL
         |  SELECT 'delta' AS segment, vec_id, cluster FROM d
         |)
         |SELECT segment, count(*) AS n_vectors,
         |  count(DISTINCT cluster) AS n_cells,
         |  count(*) FILTER (WHERE vec_id % $DeleteMod = $DeleteRes)
         |    AS n_tombstoned,
         |  count(*) FILTER (WHERE vec_id % $DeleteMod <> $DeleteRes)
         |    AS n_live,
         |  CAST(min(vec_id) AS BIGINT) AS min_vec_id,
         |  CAST(max(vec_id) AS BIGINT) AS max_vec_id
         |FROM m GROUP BY segment""".stripMargin,
    // recompute the per-cell invariants from the raw embeddings via the
    // same assignment + PQ-encode SQL the ann_* oracles share
    "ann_index_build" -> {
      val packed = (0 until PqM)
        .map(m => s"CAST(code_$m AS BIGINT) * ${1L << (4 * m)}")
        .mkString(" + ")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |)
         |SELECT CAST(cluster AS INT) AS cluster, count(*) AS n_vectors,
         |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
         |       CAST(sum($packed) AS BIGINT) AS sum_packed
         |FROM codes2 GROUP BY cluster""".stripMargin
    },
    // the delta segment re-derived from raw embeddings: reversed+offset
    // vectors, encoded against the SAME base-derived quantizers
    "ann_index_append" -> {
      val packed = (0 until PqM)
        .map(m => s"CAST(code_$m AS BIGINT) * ${1L << (4 * m)}")
        .mkString(" + ")
      val codeColsD = (0 until PqM).map(m =>
        s"""    (SELECT s.j FROM seeds s
           |     ORDER BY ${Similarity.sqdSql("e.v", "s.c", m)}, s.j LIMIT 1)
           |      AS code_$m""".stripMargin)
        .mkString(",\n")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), ev_d AS (
         |  SELECT vec_id + (SELECT count(*) FROM embeddings) AS vec_id,
         |         list_reverse(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings
         |), codes_d AS (
         |  SELECT e.vec_id,
         |$codeColsD,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM ev_d e
         |)
         |SELECT 'base' AS segment, CAST(cluster AS INT) AS cluster,
         |       count(*) AS n_vectors, min(vec_id) AS min_vec_id,
         |       max(vec_id) AS max_vec_id,
         |       CAST(sum($packed) AS BIGINT) AS sum_packed
         |FROM codes2 GROUP BY cluster
         |UNION ALL
         |SELECT 'delta' AS segment, CAST(cluster AS INT) AS cluster,
         |       count(*) AS n_vectors, min(vec_id) AS min_vec_id,
         |       max(vec_id) AS max_vec_id,
         |       CAST(sum($packed) AS BIGINT) AS sum_packed
         |FROM codes_d GROUP BY cluster""".stripMargin
    },
    // the compacted artifact == base ∪ delta re-derived from raw
    // embeddings, aggregated as ONE segment (same CTEs as the append
    // oracle, minus the segment discriminator)
    "ann_index_compact" -> {
      val packed = (0 until PqM)
        .map(m => s"CAST(code_$m AS BIGINT) * ${1L << (4 * m)}")
        .mkString(" + ")
      val codeColsD = (0 until PqM).map(m =>
        s"""    (SELECT s.j FROM seeds s
           |     ORDER BY ${Similarity.sqdSql("e.v", "s.c", m)}, s.j LIMIT 1)
           |      AS code_$m""".stripMargin)
        .mkString(",\n")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), ev_d AS (
         |  SELECT vec_id + (SELECT count(*) FROM embeddings) AS vec_id,
         |         list_reverse(CAST(embedding AS DOUBLE[])) AS v
         |  FROM embeddings
         |), codes_d AS (
         |  SELECT e.vec_id,
         |$codeColsD,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM ev_d e
         |), merged AS (
         |  SELECT vec_id, cluster, $packed AS pk FROM codes2
         |  UNION ALL
         |  SELECT vec_id, cluster, $packed AS pk FROM codes_d
         |)
         |SELECT CAST(cluster AS INT) AS cluster, count(*) AS n_vectors,
         |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
         |       CAST(sum(pk) AS BIGINT) AS sum_packed
         |FROM merged
         |WHERE vec_id % $DeleteMod <> $DeleteRes
         |GROUP BY cluster""".stripMargin
    },
    // live/deleted classification per cell over base ∪ delta, the
    // closed-form tombstone rule applied to the re-derived codes
    "ann_index_delete" -> {
      val packed = (0 until PqM)
        .map(m => s"CAST(code_$m AS BIGINT) * ${1L << (4 * m)}")
        .mkString(" + ")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), ${deltaCodesCte(withLabel = false)}, merged AS (
         |  SELECT vec_id, cluster, $packed AS pk FROM codes2
         |  UNION ALL
         |  SELECT vec_id, cluster, $packed AS pk FROM codes_d
         |)
         |SELECT CAST(cluster AS INT) AS cluster,
         |       count(*) FILTER (WHERE vec_id % $DeleteMod <> $DeleteRes)
         |         AS n_live,
         |       count(*) FILTER (WHERE vec_id % $DeleteMod = $DeleteRes)
         |         AS n_deleted,
         |       CAST(sum(pk) FILTER (WHERE vec_id % $DeleteMod <> $DeleteRes)
         |            AS BIGINT) AS sum_packed_live
         |FROM merged GROUP BY cluster""".stripMargin
    },
    // segment-complete search: ann_ivfpq's ADC ranking replayed over
    // the base ∪ delta code union (delta codes re-derived from raw
    // embeddings with the SAME frozen quantizers, like the append
    // oracle) — appended vectors must surface without compaction
    "ann_index_search" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${Similarity.sqdSql("p.qv", "s.c", m)} FROM seeds s WHERE s.j = c2.code_$m)")
        .mkString(" + ") + ")"
      val codeList = (0 until PqM).map(m => s"code_$m").mkString(", ")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), ${deltaCodesCte(withLabel = false)}, allc AS (
         |  SELECT vec_id, cluster, $codeList FROM codes2
         |  UNION ALL
         |  SELECT vec_id, cluster, $codeList FROM codes_d
         |), probed AS (
         |  SELECT query_id, qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT ${Similarity.NProbe})) AS probe
         |  FROM q
         |)
         |SELECT query_id, neighbor_id, rank, adc_dist FROM (
         |  SELECT p.query_id, c2.vec_id AS neighbor_id,
         |    round($adc, 6) AS adc_dist,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY round($adc, 6), c2.vec_id) AS rank
         |  FROM allc c2 JOIN probed p
         |    ON list_contains(p.probe, c2.cluster)
         |   AND c2.vec_id <> p.query_id
         |   AND c2.vec_id % $DeleteMod <> $DeleteRes)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin
    },
    // the segment-complete replay with the label equality as a
    // PRE-RANKING join predicate (the annFiltered rule); delta rows
    // carry the base row's label through ev_d
    "ann_index_search_filtered" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${Similarity.sqdSql("p.qv", "s.c", m)} FROM seeds s WHERE s.j = c2.code_$m)")
        .mkString(" + ") + ")"
      val codeList = (0 until PqM).map(m => s"code_$m").mkString(", ")
      s"""WITH ${Similarity.centsCte}, ${Similarity.pqCodesCte}, codes2 AS (
         |  SELECT cd.*, emb.label,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |       JOIN embeddings emb USING (vec_id)
         |), ${deltaCodesCte(withLabel = true)}, allc AS (
         |  SELECT vec_id, cluster, label, $codeList FROM codes2
         |  UNION ALL
         |  SELECT vec_id, cluster, label, $codeList FROM codes_d
         |), probed AS (
         |  SELECT q.query_id, q.qv, emb.label AS q_label,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT ${Similarity.NProbe})) AS probe
         |  FROM q JOIN embeddings emb ON q.query_id = emb.vec_id
         |)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
         |       label, adc_dist
         |FROM (
         |  SELECT p.query_id, c2.vec_id AS neighbor_id, c2.label,
         |    round($adc, 6) AS adc_dist,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY round($adc, 6), c2.vec_id) AS rank
         |  FROM allc c2 JOIN probed p
         |    ON list_contains(p.probe, c2.cluster)
         |   AND c2.vec_id <> p.query_id
         |   AND c2.vec_id % $DeleteMod <> $DeleteRes
         |   AND c2.label = p.q_label)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin
    })

  /** `ev_d`/`codes_d` CTE fragment for the oracles: the delta corpus
    * (each base vector REVERSED with its vec_id offset by the corpus
    * size — [[deltaCorpus]]'s closed form) re-encoded with the SAME
    * base-derived frozen quantizers. Requires `centsCte` + `pqCodesCte`
    * in the enclosing WITH; `withLabel` carries the base row's label. */
  private def deltaCodesCte(withLabel: Boolean): String = {
    val codeColsD = (0 until PqM).map(m =>
      s"""    (SELECT s.j FROM seeds s
         |     ORDER BY ${Similarity.sqdSql("e.v", "s.c", m)}, s.j LIMIT 1)
         |      AS code_$m""".stripMargin)
      .mkString(",\n")
    val evLbl = if (withLabel) ", label" else ""
    val codesLbl = if (withLabel) ",\n    e.label" else ""
    s"""ev_d AS (
       |  SELECT vec_id + (SELECT count(*) FROM embeddings) AS vec_id,
       |         list_reverse(CAST(embedding AS DOUBLE[])) AS v$evLbl
       |  FROM embeddings
       |), codes_d AS (
       |  SELECT e.vec_id,
       |$codeColsD,
       |    (SELECT c.cid FROM cents c
       |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster$codesLbl
       |  FROM ev_d e
       |)""".stripMargin
  }
}
