package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Caches.TrackedDataset
import graft.Tables.t
import graft.functions.VectorFunctions._
import graft.expressions.RoundHalfUp
import graft.kmeans.{KMeansOps, LloydKernel}

/** Approximate-nearest-neighbor search over the `embeddings` table —
  * five paths, from exact baseline to the billion-scale layout:
  *  - `ann_topk_cosine`: brute-force cosine top-k — the correctness
  *    baseline. The (small) query set is broadcast; the scan side
  *    streams once; per-query top-k via window rank. At scale this is
  *    one pass over the data per query batch, no shuffle of the corpus.
  *  - `ann_ivf`: IVF-style pruned search — the k-means centroids (the
  *    engine's own clustering kernel) act as the coarse quantizer; each
  *    query probes only its `NProbe` nearest cells, cutting the scanned
  *    fraction to ~NProbe/k while returning near-identical neighbors.
  *  - `ann_pq_codes` / `ann_pq`: product quantization — vectors encode
  *    to 8 four-bit codes; search is asymmetric distance computation
  *    from broadcast lookup tables, never touching raw vectors.
  *  - `ann_ivfpq`: the composition — coarse routing × code compression.
  *
  * Ranking ties are broken on (rounded score desc, vec_id) so Spark and
  * the DuckDB oracle rank identically despite float-summation order;
  * every ranker cuts through the native TopKPerKey heaps before a
  * window over the survivors.
  */
object Similarity {

  /** Segment roots whose recall-ground-truth fingerprint has been
    * verified against the raw corpus this JVM (see [[annRecallGraph]]
    * — segments are immutable and rebuilds rotate the root, so one
    * audit per root is exhaustive). */
  private val annRecallAudited =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val NQueries = 10
  val TopK = 10
  val NProbe = 2

  private[operators] def emb(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      // norm computed once per corpus vector, before any join fan-out
      .withColumn("nrm", l2Norm(col("v")))

  private[operators] def queriesDf(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))

  private def cosineScore: Column =
    RoundHalfUp(
      dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)

  /** Per-query top-k + rank. The cut runs through the native
    * [[graft.plans.TopKPerKey]] operator — map-side bounded heaps, so
    * only parts·queries·k survivor rows reach the exchange instead of
    * every (corpus × query) score the `row_number` lowering would
    * shuffle and sort. The rank column is then a window over the
    * already-tiny survivor set (≤ queries·k rows). Ordering is total —
    * (rounded score, neighbor_id) — so the survivor SET equals the
    * window lowering's by construction (PlansSpec proves the operator
    * equivalence; the ann oracles gate these queries end-to-end). */
  private def rankTopK(scored: DataFrame): DataFrame = {
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }

  /** Brute-force cosine top-k: exact baseline. */
  def annTopKCosine(spark: SparkSession, dir: String): DataFrame = {
    val scored = emb(spark, dir)
      .join(broadcast(queriesDf(spark, dir)),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineScore.as("score"))
    rankTopK(scored)
  }

  /** IVF-pruned cosine top-k: probe the NProbe nearest k-means cells.
    * Routing is in-plan ([[CellRouting.probe]] on the query DF) and the
    * probe list EXPLODES to (query, cell) rows joined on
    * `cell = cluster` — an equi key, so the corpus side hash-joins (or
    * broadcasts, as here, while the query batch is small) instead of
    * evaluating an array_contains nested-loop predicate per
    * (corpus × query) pair. Probed cells are distinct per query ⇒ no
    * duplicate scoring. */
  def annIvfCosine(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val assigned = CellRouting.assign(emb(spark, dir), "v", cents)
    val probed = queriesDf(spark, dir)
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
    val scored = assigned
      .join(broadcast(probed),
        col("probe_cell") === col("cluster") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineScore.as("score"))
    rankTopK(scored)
  }

  val GraphK = 5
  /** Skew salt for the all-vectors candidate join: sub-blocks per
    * cell. Bounds the hottest cell's per-task candidate block at
    * pop·probers/KnnSalt whatever the cell-population skew. */
  val KnnSalt = 8

  /** ALL-VECTORS KNN GRAPH — the corpus-wide neighbor structure that
    * powers near-dup clustering, diversity sampling and
    * graph-propagated quality labels: every vector's top-[[GraphK]]
    * cosine neighbors, not just a broadcast query batch's. The
    * broadcast formulation is impossible here (the "query" side IS
    * the corpus), so both sides route through the IVF cells: each
    * vector probes its [[NProbe]] nearest cells (in-plan, exploded to
    * (vector, cell) rows) and candidates materialize via the EQUI
    * join probe_cell = cluster — candidate count is Σ cell_size ×
    * probers-per-cell. The "never n²" claim holds BECAUSE the cell
    * count scales with the corpus ([[KMeansQueries.coarseK]] =
    * ⌈n/256⌉): per-cell population stays ~constant, so candidates are
    * O(n·NProbe·256) — linear in n. (With a fixed k this same plan is
    * Θ(n²·NProbe/k), the classic IVF scale trap.) Per-vector ranking
    * cuts through the native TopKPerKey heaps before the survivor
    * window. Same deterministic seeded cells as [[annIvfCosine]], so
    * the DuckDB oracle replays the identical approximation. */
  def annKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val corpus = emb(spark, dir)
    // served from the SAME durable (cells, graph) segments
    // [[annGraphSearch]] maintains: the kNN-graph join is a build
    // artifact, not a per-query plan — every consumer
    // ([[graft.operators.Dedup.dedupEmbedCluster]]'s clustering
    // screen, the beam searcher, this query itself) reads one
    // persisted parquet keyed by (corpus, router revision) instead of
    // re-paying assignment + the salted probe join per run. A graph
    // system at 100 TB serves neighbors from the index it built, not
    // from rebuilding it.
    AnnTiers.ensureCellSegment(spark, dir, "cells") {
      CellRouting.assign(corpus, "v", cents)
        .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
    }
    AnnTiers.ensureSegment(spark, dir, "graph", 0) {
      knnGraphFrom(corpus, AnnTiers.readCellSegment(spark, dir, "cells"),
        cents)
    }
  }

  /** [[annKnnGraph]]'s body over caller-supplied corpus/assignment —
    * so [[annGraphSearch]] shares one persisted corpus scan and one
    * cell assignment between the graph build and its IVF seed instead
    * of recomputing both. */
  private def knnGraphFrom(corpus: DataFrame, assigned: DataFrame,
                           cents: Array[Array[Double]]): DataFrame = {
    // The cell equi join EXPLODES ~NProbe·pop× its input: AQE sizes
    // post-shuffle partitions from the tiny INPUT bytes (a few MB of
    // vectors) and coalesces the join to one partition, serializing
    // the candidate scoring and the top-k heaps on a single core
    // (measured at 20k vectors: 19 s single-threaded vs 2.6 GFLOP of
    // actual work). Pin BOTH sides to an explicit hash partitioning —
    // EnsureRequirements reuses it for the join, and AQE never
    // coalesces a user-specified repartition — capped at 4× the
    // cluster's parallelism so huge corpora don't fragment into
    // per-cell tasks.
    //
    // The cell key alone is NOT enough: real embedding corpora are
    // anisotropic, the coarse cells are untrained (first-k), and the
    // densest cell's candidate block grows as pop² — profiled at the
    // x100 rung as ONE straggler task holding the stage while 31 cores
    // idled (an explicit repartition also opts out of AQE's skew-join
    // splitting, which keys on ENSURE_REQUIREMENTS exchanges). So the
    // corpus side is SALTED: each corpus row lands in one of
    // [[KnnSalt]] sub-blocks of its cell, each prober replicates to
    // every salt, and the join keys on (cell, salt) — the same
    // candidate set, scored once each (a corpus row has exactly one
    // salt), with the hottest cell spread over KnnSalt tasks.
    //
    // The salt SCALES with corpus size (estimated from the cell count
    // — cells are ⌈n/256⌉ by construction, no count() job): below
    // ~64k vectors even the most skewed cell is a sub-second block
    // and salting just multiplies the prober shuffle volume (probers
    // replicate their full vector payload across every salt); above
    // it, one extra salt unit per 64k vectors up to [[KnnSalt]]. A
    // hard 1→8 gate at the threshold made the x10→x100 ladder step
    // pay an 80× prober-volume jump for a 10× corpus — a measurement
    // cliff, not an operator property; the ramp keeps the replication
    // proportional to the straggler risk it buys down (the hottest
    // cell's block grows with n, so the protection need does too).
    val sc = corpus.sparkSession.sparkContext
    val salt = math.max(1, math.min(KnnSalt.toLong,
      cents.length * KMeansQueries.CoarseCellTarget / 65536L)).toInt
    val p = math.max(sc.defaultParallelism,
      math.min(cents.length * salt, 4 * sc.defaultParallelism))
    val salts = array((0 until salt).map(lit): _*)
    val probed = corpus
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
      .withColumn("salt", explode(salts))
      .repartition(p, col("probe_cell"), col("salt"))
    val scored = assigned
      .withColumn("salt_c", pmod(col("vec_id"), lit(salt)).cast("int"))
      .repartition(p, col("cluster"), col("salt_c"))
      .join(probed,
        col("probe_cell") === col("cluster") &&
          col("salt") === col("salt_c") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineScore.as("score"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true),
      GraphK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("score"))
  }

  val BeamWidth = 8
  val BeamHops = 2
  val GraphTopK = 3
  /** Seed-only probe width: the beam entry probes twice the IVF
    * serving path's cells — seed coverage is what bounds beam recall
    * (hops saturate fast on a [[GraphK]]-degree graph; measured
    * recall is flat in hops 1→5 and beam 8→16 but moves with every
    * probed cell), and extra cells cost more equi-join partitions,
    * never a corpus pass — the probed fraction still shrinks with
    * scale because the cell count grows as ⌈n/256⌉. */
  val SeedProbe = 4

  /** GRAPH-NAVIGATION ANN SEARCH — the modern (HNSW/NSG-family) tier
    * next to IVF/PQ/BQ: greedy BEAM SEARCH over the prebuilt kNN
    * graph ([[annKnnGraph]] — the single-layer navigable graph).
    * Every query's beam is SEEDED FROM THE IVF COARSE CELLS — the
    * frontier starts as the query's top-[[BeamWidth]] cosine
    * candidates among its [[SeedProbe]] nearest cells' members (the
    * [[annIvfCosine]] probe, widened, cut to the beam), playing the role
    * of HNSW's upper layers: navigation begins next to the query
    * instead of at one global entry whose graph distance grows with
    * the corpus. Then [[BeamHops]] rounds of expand-score-prune:
    * frontier ∪ its graph neighbors, cosine-scored against the
    * query, cut to the [[BeamWidth]] best (ties → smallest id;
    * scores 6dp-rounded, so both engines rank identically). The hops
    * patch exactly what the IVF seed misses — true neighbors living
    * outside the probed cells are reached through graph edges, so
    * beam recall ≥ seed recall by construction and two hops suffice
    * where the blind-entry design needed six. Output: the final
    * frontier's top [[GraphTopK]] excluding the query itself.
    *
    * Scale shape: the navigation graph is n·K rows, built ONCE per
    * (corpus, size) and persisted as a durable parquet artifact
    * ([[AnnTiers.ensureSegment]] — serving runs never pay the kNN
    * build join);
    * the seed is one probe-cell equi join (the IVF serving path);
    * per hop the
    * frontier relation (queries·beam rows) BROADCASTS into one edge
    * join and one corpus join — the searches never shuffle anything
    * corpus-sized, which is exactly how a graph index serves at
    * 100 TB (the graph is the big artifact; lookups ride broadcasts).
    * The beam cut runs through the native TopKPerKey heaps. */
  def annGraphSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = emb(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    // build-once: the seed-cells segment persists the corpus cell
    // assignment (vec_id, v, nrm, cluster) in the bucketed layout —
    // the DiskANN-shaped artifact that lets serving seed from probed
    // cells WITHOUT the corpus-wide O(n·k·d) nearest-centroid pass
    // (which was 14.6 of the 17.1 s x100 warm search as an in-plan
    // assignment); the graph build consumes the same segment in full,
    // so assignment runs exactly once per (corpus, size)
    AnnTiers.ensureCellSegment(spark, dir, "cells") {
      CellRouting.assign(e, "v", cents)
        .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
    }
    // the navigation graph IS the index artifact (the AnnIndex rule):
    // built once per (corpus, size), persisted as parquet, served
    // from disk ever after — a searcher never pays the n·K kNN join
    val edges = AnnTiers.ensureSegment(spark, dir, "graph", 0) {
      knnGraphFrom(e, AnnTiers.readCellSegment(spark, dir, "cells"),
        cents)
    }.select(col("query_id").as("node"), col("neighbor_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialized once (NQueries rows, one partition): every hop and
    // the seed probe broadcast this relation, and each broadcast build
    // otherwise re-plans and re-executes the corpus filter subtree —
    // profiled as part of the 1.2 s of between-job driver gap in the
    // 2.3 s warm run (34 jobs totalling 1.1 s of execution)
    val queries = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
      .coalesce(1)
      .localCheckpoint(true)
    // IVF-seeded entry: the query's top-BeamWidth candidates from its
    // SeedProbe nearest coarse cells (the query's own vector may seed
    // its beam — it navigates well and the final cut excludes it).
    // The probed cell union is collected as distinct cell ids (the
    // AnnIndex.searchSegments pattern — cell-count-bounded, never
    // query-count-bounded) so it reaches the cells scan as bucket-dir
    // pruning + a pushed row-group filter; per-query exactness comes
    // from the probe_cell = cluster equi join on the pruned superset.
    val probedQ = queries.withColumn("probe_cell",
      explode(CellRouting.probe(col("qv"), cents, SeedProbe)))
    // routed by the SAME CellRouting.probe expression as the in-plan
    // probedQ, so the pruning list and the probe join agree by
    // construction; collected as DISTINCT CELLS (≤ coarse-codebook
    // size, never query-batch-sized — the former all-query-vectors
    // collect was the one driver-side structure that grew with an
    // input relation)
    val probedAll = probedQ.select(col("probe_cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    val seedScored =
      AnnTiers.readCellSegment(spark, dir, "cells", Some(probedAll))
        .join(broadcast(probedQ), col("probe_cell") === col("cluster"))
        .select(col("query_id"), col("vec_id").as("node"),
          cosineScore.as("score"))
    // frontier is queries·beam rows (~80): coalesce each eager
    // checkpoint to ONE partition — the checkpoint's 32 near-empty
    // tasks were pure scheduling overhead, and every consumer is a
    // broadcast that reads the whole relation anyway
    var frontier: DataFrame = graft.plans.TopKPerKey.topKPerKey(seedScored,
      Seq("query_id"), Seq("score" -> false, "node" -> true), BeamWidth)
      .select(col("query_id"), col("node"))
      .coalesce(1)
      .localCheckpoint(true)
    for (hop <- 1 to BeamHops) {
      val expanded = frontier.select(col("query_id"), col("node"))
        .unionByName(edges.join(broadcast(frontier
            .select(col("query_id"), col("node"))), "node")
          .select(col("query_id"), col("neighbor_id").as("node")))
        .distinct()
      // ONE composed broadcast per hop instead of two: the candidate
      // pairs join their query vectors inside the broadcast build
      // (both sides are beam-bounded tiny relations), so the corpus
      // side pays a single broadcast hash join — same rows, one less
      // broadcast build + join stage per hop
      val cand = expanded.join(queries, "query_id")
      val scored = e
        .select(col("vec_id").as("node"), col("v"), col("nrm"))
        .join(broadcast(cand), "node")
        .select(col("query_id"), col("node"), cosineScore.as("score"))
      // materialize the (queries·beam)-row frontier each NON-FINAL
      // hop: without this the hop lineage nests — every broadcast
      // re-executes all prior hops (measured 36 s warm at sf0.1; ~3 s
      // with the cut). The LAST hop has exactly one consumer (the
      // final ranking below), so its materialization bought nothing
      // but an extra action + plan — it stays lazy and executes
      // inside the output plan.
      val cut = graft.plans.TopKPerKey.topKPerKey(scored,
        Seq("query_id"), Seq("score" -> false, "node" -> true), BeamWidth)
      frontier =
        if (hop < BeamHops) cut.coalesce(1).localCheckpoint(true)
        else cut
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    // the Vamana membership rule: only vectors PRESENT in the graph
    // segment (≥1 outgoing edge) are returnable. The seed reads the
    // `cells` segment and the hops score the raw corpus, and neither
    // is the graph artifact, so without the semi-join the result set
    // would follow those inputs rather than the index being searched.
    // Applied before ranking, so ranks stay gapless.
    val live = frontier.where(col("node") =!= col("query_id"))
      .join(edges.select(col("node")).distinct(), Seq("node"), "left_semi")
    val out = live
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= GraphTopK)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        col("score"))
      .localCheckpoint(true) // eager: caller reads after the unpersists
    edges.unpersist()
    e.unpersist()
    out
  }

  /** In-engine recall@k of the GRAPH tier — [[annRecall]]'s shape
    * for [[annGraphSearch]]: the beam search's top-k joined against
    * exact cosine top-k, per-query hit counts and the recall ratio.
    * The quality gauge a production graph index publishes next to
    * its serving latency.
    *
    * Sampling envelope: ground truth is exact ONLY over the
    * deterministic [[NQueries]]-query sample (vec_id < NQueries) —
    * never all queries — so the gauge costs one corpus pass
    * (queries·n scores with a tiny broadcast query side) regardless
    * of scale, the `q_approx_distinct` witness pattern. At 100 TB
    * the sample size grows (hundreds of queries), not the per-query
    * cost shape; recall over a fixed random sample estimates corpus
    * recall within ±1/√(sample·k) — the envelope a consumer applies
    * to `recall_at_k`. */
  def annRecallGraph(spark: SparkSession, dir: String): DataFrame = {
    // graph side FIRST: it ensures the durable cells segment exists —
    // the exact side then reads (vec_id, v, nrm) back from that
    // segment instead of re-scanning the raw parquet and re-deriving
    // every norm (at 100 TB the gauge's ground-truth pass decodes the
    // index's own layout, not a second copy of the corpus; scores are
    // bit-identical — the segment stores the same doubles emb()
    // computes)
    val approx = annGraphSearch(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1))
    val corpus = AnnTiers.readCellSegment(spark, dir, "cells")
    // re-anchor the gauge (ADVICE r16): ground truth reads the
    // index's own durable segment for IO efficiency, but a recall
    // gauge must stay INDEPENDENT of the structure it audits — a
    // segment-writer bug that drops or duplicates corpus rows would
    // otherwise shrink the ground-truth pool on both sides and
    // inflate measured recall undetected. Two thin-column aggregates
    // (count + order-insensitive xxhash64-XOR of the vec_id set)
    // prove the segment holds exactly the corpus's id set before it
    // is trusted as ground truth; cost is two single-column scans —
    // noise next to the gauge's queries×n scoring pass.
    // audited once per (JVM, segment root): the segment is immutable
    // once its _SUCCESS lands and rebuilds rotate the root (count- and
    // router-revision-keyed path), so re-fingerprinting on every gauge
    // run re-buys the same proof — two extra jobs per run, +1.2 s on
    // the sf0.1 board — for no new information
    val segKey = AnnTiers.root(spark, dir) + "/cells"
    if (!annRecallAudited.contains(segKey)) {
      def idFingerprint(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(vec_id))"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val (segFp, rawFp) =
        (idFingerprint(corpus), idFingerprint(emb(spark, dir)))
      require(segFp == rawFp,
        s"cells segment diverged from the corpus (segment n/idhash " +
          s"$segFp vs raw $rawFp): rebuild the segment before trusting " +
          "it as recall ground truth")
      annRecallAudited.add(segKey)
      ()
    }
    val queries = corpus.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val exact = rankTopK(corpus
        .join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosineScore.as("score")))
      .where(col("rank") <= GraphTopK)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
      .select(col("query_id"), col("n_hits"), col("k"),
        round(col("n_hits").cast("double") / col("k"), 6).as("recall_at_k"))
  }

  /** EMBEDDING DISTRIBUTION DRIFT — the monitoring op a production
    * corpus runs between snapshots: quantize BOTH corpus versions
    * onto the SAME frozen coarse cells (the deployed quantizer — a
    * drift monitor that re-fits its cells per snapshot measures its
    * own refit, not the data), compare per-cell populations as
    * integer-micro shares, and report per-cell drift plus each
    * side's share. Σ|Δshare|/2 over the output is total variation
    * distance, computable by the consumer from these rows. The two
    * "versions" are the deterministic even/odd corpus halves (the
    * cross-corpus convention). One scan per side → one k-row
    * aggregate each → a k-row join: linear in n, k rows on the
    * driver-side output, nothing corpus-sized anywhere. */
  def annCellDrift(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val assigned = CellRouting.assign(emb(spark, dir), "v", cents)
      .select(col("vec_id"), col("cluster"))
    def shares(side: DataFrame, n: String, s: String) = side
      .groupBy(col("cluster")).agg(count(lit(1)).as(n))
      .crossJoin(broadcast(side.agg(count(lit(1)).as("tot"))))
      .select(col("cluster"), col(n),
        round(col(n) * lit(1000000L) / col("tot")).cast("long").as(s))
    val base = shares(assigned.where(col("vec_id") % 2 === 0),
      "n_base", "share_base")
    val fresh = shares(assigned.where(col("vec_id") % 2 === 1),
      "n_new", "share_new")
    base.join(fresh, Seq("cluster"), "full")
      .select(col("cluster"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("share_new"), lit(0L))
          - coalesce(col("share_base"), lit(0L))).as("drift_micros"))
  }

  /** Every 5th vector is the unlabeled holdout for [[annLabelTransfer]];
    * the other 80% are the curated labeled base. */
  val LabelHoldout = 5L
  val LabelK = 5

  /** KNN LABEL TRANSFER — the semi-supervised labeling step of a
    * training-data pipeline: propagate labels from a curated LABELED
    * base (vec_id % [[LabelHoldout]] ≠ 0) to the unlabeled holdout by
    * majority vote over each target's top-[[LabelK]] cosine
    * neighbors, then report per-label transfer accuracy against the
    * held-out true labels. Candidates route through the same
    * n-scaled IVF cells as [[annKnnGraph]] (targets probe [[NProbe]]
    * cells, equi-join on the cell id), so the candidate set is
    * linear in n — label transfer over a 100 TB corpus pays the
    * probe fan-out, never corpus × holdout. Votes are deterministic
    * end-to-end: neighbors rank on (rounded score desc, vec_id), the
    * vote picks (count desc, label asc); a target whose probed cells
    * hold no labeled vector simply drops out (both engines replay
    * the identical candidate set). The vote/argmax runs on the
    * ≤ holdout·[[LabelK]] survivor rows — epsilon after the TopKPerKey
    * cut. */
  def annLabelTransfer(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"),
        col("label"))
      .withColumn("nrm", l2Norm(col("v")))
    val labeled = CellRouting.assign(
      e.where(col("vec_id") % LabelHoldout =!= 0), "v", cents)
    val targets = e.where(col("vec_id") % LabelHoldout === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("true_label"))
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
    val scored = labeled
      .join(targets, col("probe_cell") === col("cluster"))
      .select(col("query_id"), col("true_label"),
        col("vec_id").as("neighbor_id"), col("label").as("nb_label"),
        cosineScore.as("score"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true), LabelK)
    val votes = cut
      .groupBy(col("query_id"), col("true_label"), col("nb_label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n").desc, col("nb_label").asc)
    val pred = votes.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_targets"),
        sum(when(col("nb_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
  }

  val PqM = 8       // sub-blocks
  val PqSubDim = 8  // dims per block (PqM * PqSubDim = 64 = d)
  val PqKsub = 16   // codes per block → 8 × 4-bit codes per vector

  /** Sub-codebooks `[m][j][dim]`: the m-th 8-dim block of the first
    * [[PqKsub]] corpus vectors (deterministic seeding, the
    * [[KMeansQueries.firstKCentroids]] device; PQ code counts are a
    * fixed constant by design, unlike the n-scaled IVF cells of
    * [[KMeansQueries.coarseCentroids]] — a production run would
    * k-means each block with the engine's own kernel; seeding keeps the
    * DuckDB oracle exact). k·d = 16×64 doubles on the driver. */
  private[operators] def pqCodebook(spark: SparkSession,
                         dir: String): Array[Array[Array[Double]]] = {
    val seeds = KMeansQueries.firstKCentroids(spark, dir, PqKsub)
    Array.tabulate(PqM)(m => seeds.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
  }

  private[operators] def withBlockDists(df: DataFrame, vec: String,
                             cb: Array[Array[Array[Double]]],
                             prefix: String): DataFrame =
    (0 until PqM).foldLeft(df) { (d, m) =>
      d.withColumn(s"$prefix$m", KMeansOps.distancesDyn(
        slice(col(vec), m * PqSubDim + 1, PqSubDim), cb(m)))
    }

  /** Product-quantization encoding: per vector, per 8-dim block, the
    * nearest of 16 sub-centroids (strict-< argmin, the O4 tie-break) —
    * 64 doubles compress to 8 four-bit codes (4 B/vector packed —
    * 128× smaller than 512 B of doubles; emitted as int columns here).
    * Entirely narrow: a projection stack over the scan, codebook rides
    * as a typedLit reference object; at 100 TB the encode runs at scan
    * speed. recon_err (distance to the reconstruction) is the
    * quantization-quality witness. */
  def annPqCodes(spark: SparkSession, dir: String): DataFrame =
    annPqCodesFrom(spark, dir, pqCodebook(spark, dir))

  /** Encoding body with the codebook threaded in, so [[annPq]] derives
    * it once instead of paying a second seed-collect job. */
  private def annPqCodesFrom(spark: SparkSession, dir: String,
                             cb: Array[Array[Array[Double]]]): DataFrame =
    withBlockDists(emb(spark, dir), "v", cb, "ds_")
      .select(col("vec_id") +:
        (0 until PqM).map(m =>
          (array_position(col(s"ds_$m"), array_min(col(s"ds_$m"))) - 1)
            .cast("int").as(s"code_$m")) :+
        round(sqrt((0 until PqM).map(m => array_min(col(s"ds_$m")))
          .reduce(_ + _)), 6).as("recon_err"): _*)
      // the physical compressed representation: 8 nibbles in one
      // 32-bit word — the 4 B/vector an export would actually write
      .withColumn("packed",
        (0 until PqM).map(m => col(s"code_$m").cast("long") *
          (1L << (4 * m))).reduce(_ + _))

  /** PQ search via asymmetric distance computation: each query builds
    * per-block lookup tables (query-to-sub-centroid squared distances —
    * PqM·PqKsub doubles, broadcast with the query batch) and scores a
    * corpus row by summing 8 table lookups on its CODES — the corpus
    * vectors themselves are never touched after encoding. This is the
    * scan-side weight of PQ at 100 TB: 4 packed bytes per vector
    * instead of 512, with rank order preserved approximately (spec
    * pins recall vs the exact baseline). Distance rank ASC with id
    * tie-break; the corpus×queries score set cuts through the native
    * TopKPerKey heaps like the other ANN rankers. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(spark, dir)
    val codes = annPqCodesFrom(spark, dir, cb)
    val luts = withBlockDists(queriesDf(spark, dir).select(col("query_id"),
      col("qv")), "qv", cb, "lut_")
    val scored = codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(sqrt((0 until PqM).map(m =>
          element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)), 6)
          .as("adc_dist"))
    // the corpus×queries score set is the largest intermediate here —
    // cut it through the native heaps like the other ANN rankers, then
    // rank the ≤ q·k survivors
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  /** IVF-PQ — the canonical billion-scale ANN layout (coarse inverted
    * lists + product-quantized residual-free codes): corpus rows carry
    * (coarse cell, 8 PQ codes); a query probes its NProbe nearest
    * cells ([[CellRouting.probe]], in-plan) and ADC-scores ONLY rows in
    * probed cells, from codes + broadcast lookup tables. At 100 TB the
    * scan touches ~NProbe/k of the corpus and reads 4 packed bytes per
    * touched vector — the multiplicative composition of the IVF prune
    * and the PQ compression, which is why this layout is the scale
    * default. Survivors cut through the native heaps as usual. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val cb = pqCodebook(spark, dir)
    val encoded = withBlockDists(
      CellRouting.assign(emb(spark, dir), "v", cents), "v", cb, "ds_")
      .select(col("vec_id") +: col("cluster") +:
        (0 until PqM).map(m =>
          (array_position(col(s"ds_$m"), array_min(col(s"ds_$m"))) - 1)
            .cast("int").as(s"code_$m")): _*)
    val probedLuts = withBlockDists(
      queriesDf(spark, dir).select(col("query_id"), col("qv")),
      "qv", cb, "lut_")
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
    val scored = encoded
      .join(broadcast(probedLuts),
        col("probe_cell") === col("cluster") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(sqrt((0 until PqM).map(m =>
          element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)), 6)
          .as("adc_dist"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  /** Lloyd rounds for the residual index's coarse quantizer and
    * per-block sub-codebooks. Fixed small counts (not
    * convergence-bound): each round is one corpus pass in BOTH
    * engines — the DuckDB oracle replays every round as a chained
    * CTE — and two rounds already move the seeds most of the way to
    * the local optimum on this corpus's near-flat spectrum. */
  val CoarseTrainRounds = 2
  val PqTrainRounds = 2

  /** Coarse quantizer TRAINED with the engine's own Lloyd kernel
    * ([[LloydKernel.round]]): [[CoarseTrainRounds]] rounds of
    * assign→mean from the deterministic first-k seed, each round's
    * means 6dp-rounded driver-side (the kmeans_full parity rule — both
    * engines re-round, so float summation order can never drift the
    * replay); an empty cell keeps its previous centroid (no re-init —
    * an index build wants determinism, not the clustering-quality
    * policy of [[graft.kmeans.KMeansRunner]]). k·d doubles on the
    * driver per round; the kernel is uncached, so corpus passes =
    * rounds. */
  private[operators] def trainedCoarseCentroids(
      spark: SparkSession, dir: String): Array[Array[Double]] = {
    var cents = KMeansQueries.coarseCentroids(spark, dir)
    val kern = new LloydKernel(emb(spark, dir), "v", cache = false)
    for (_ <- 1 to CoarseTrainRounds) {
      val next = cents.map(_.clone())
      kern.round(cents).foreach { case (i, m, _) =>
        next(i) = m.map(RoundHalfUp.round(_, 6))
      }
      cents = next
    }
    cents
  }

  /** Per-block k-means on the residual slices — the PQ `train()`
    * step: each round assigns every residual's m-th slice to its
    * nearest sub-centroid (the same strict-< argmin the encode uses)
    * and recenters. All [[PqM]] blocks train in ONE job per round:
    * the slices stack through a single explode into an
    * (m, code)-keyed hash aggregate — map-side combined, the exchange
    * carries [[PqM]]·[[PqKsub]] rows regardless of corpus size. Means
    * 6dp-rounded, empty codes keep their previous sub-centroid (same
    * contract as [[trainedCoarseCentroids]]). */
  private[operators] def trainResidualCodebook(assigned: DataFrame,
      seed: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    var cb = seed
    for (_ <- 1 to PqTrainRounds) {
      val coded = withBlockDists(assigned, "r", cb, "ds_")
        .select(col("r") +: (0 until PqM).map(m =>
          (array_position(col(s"ds_$m"), array_min(col(s"ds_$m"))) - 1)
            .cast("int").as(s"code_$m")): _*)
      val stacked = coded.select(explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), col(s"code_$m").as("j"),
            slice(col("r"), m * PqSubDim + 1, PqSubDim).as("sub"))): _*))
          .as("s"))
        .select(col("s.m").as("m"), col("s.j").as("j"), col("s.sub").as("sub"))
      val next = cb.map(_.map(_.clone()))
      stacked.groupBy(col("m"), col("j"))
        .agg(array((0 until PqSubDim).map(d => avg(col("sub")(d))): _*)
          .as("c"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1)) =
          r.getSeq[Double](2).toArray.map(RoundHalfUp.round(_, 6)))
      cb = next
    }
    cb
  }

  /** RESIDUAL IVF-PQ — the production (FAISS `IVFPQ`) refinement of
    * [[annIvfPq]]: codes quantize the RESIDUAL v − centroid(cell(v))
    * instead of the raw vector. Residuals concentrate near zero once
    * the coarse quantizer has soaked up the between-cell variance, so
    * the same 16-entry sub-codebooks spend their resolution on what
    * the cell didn't explain — the reason every production IVFPQ
    * encodes residuals. Query side: per probed cell a DIFFERENT
    * residual q − centroid(cell), so the LUTs are per (query, cell)
    * — still queries·NProbe·M tiny arrays riding the broadcast.
    * Both quantizers are TRAINED with the engine's own Lloyd kernel
    * (the FAISS `train()` step): the coarse cells run
    * [[CoarseTrainRounds]] rounds of [[LloydKernel.round]] from
    * the first-k seed, and the sub-codebooks run [[PqTrainRounds]]
    * rounds of per-block k-means over the residual slices from the
    * first-[[PqKsub]]-residual seed — every round's means 6dp-rounded
    * (the kmeans_full cross-engine parity rule) so the DuckDB oracle
    * replays the ENTIRE training as chained CTEs and lands on
    * bit-identical quantizers. Training runs ONCE per corpus: the
    * trained centroids, sub-codebooks and the encoded code table are
    * [[AnnTiers]] segments, so
    * a warm search reads them back instead of re-paying the ~7
    * corpus passes of the build. Same ADC join shape as [[annIvfPq]];
    * the geometry (residual) AND the quantizers (trained) changed,
    * which is what lets the spec pin recall ≥ raw IVF-PQ rather than
    * just distance-estimation error. */
  /** Residual assignment against a given trained coarse quantizer —
    * shared by the codebook training build and the code-segment
    * encode build (both run at most once per corpus). */
  private def ivfpqrAssigned(spark: SparkSession, dir: String,
      cents: Array[Array[Double]]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val centDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("c_cl", "cent"))
    CellRouting.assign(emb(spark, dir), "v", cents)
      .join(centDf, col("cluster") === col("c_cl"))
      .withColumn("r", zip_with(col("v"), col("cent"), (a, b) => a - b))
      .drop("c_cl", "cent")
  }

  /** The residual index's TRAINED coarse centroids as a persisted
    * tier segment (the quantizer-is-part-of-the-index rule): the
    * [[CoarseTrainRounds]]-round Lloyd training runs once per corpus;
    * every later search reads k rows back. */
  private def ivfpqrCents(spark: SparkSession, dir: String)
      : Array[Array[Double]] = {
    val spark2 = spark
    import spark2.implicits._
    AnnTiers.ensureSegment(spark, dir, "params_ivfpqr_cents", 1) {
      trainedCoarseCentroids(spark, dir).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "c")
    }.collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
  }

  /** The trained residual sub-codebooks, persisted the same way:
    * [[PqTrainRounds]] rounds of per-block k-means run once; serves
    * as [[PqM]]·[[PqKsub]] rows ever after. */
  private def ivfpqrCodebook(spark: SparkSession, dir: String,
      cents: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val spark2 = spark
    import spark2.implicits._
    val df = AnnTiers.ensureSegment(spark, dir, "params_ivfpqr_cb", 1) {
      val assigned = ivfpqrAssigned(spark, dir, cents)
      // seed AFTER the centroid vectors: the first coarseK vectors
      // ARE the coarse centroids, so their residuals are zero —
      // seeding on them wastes codes on the origin
      val ck = cents.length
      val seedRs = assigned
        .where(col("vec_id") >= ck && col("vec_id") < ck + PqKsub)
        .select(col("vec_id"), col("r")).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      val cb = trainResidualCodebook(assigned, Array.tabulate(PqM)(m =>
        seedRs.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))))
      (for { m <- 0 until PqM; j <- 0 until PqKsub }
        yield (m, j, cb(m)(j).toSeq)).toDF("m", "j", "c")
    }
    val arr = Array.fill(PqM, PqKsub)(Array.empty[Double])
    df.collect().foreach(r =>
      arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    arr
  }

  def annIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // train once, serve from segments ever after (the [[AnnTiers]]
    // rule): a warm search reads the k-row centroids, the 128-row
    // codebook and the 10-column code table — it never re-runs the
    // 7-corpus-pass Lloyd training the first build pays
    val cents = ivfpqrCents(spark, dir)
    val cb = ivfpqrCodebook(spark, dir, cents)
    val centDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("c_cl", "cent"))
    val encoded =
      AnnTiers.ensureSegment(spark, dir, "codes_ivfpqr", 0) {
        withBlockDists(ivfpqrAssigned(spark, dir, cents), "r", cb, "ds_")
          .select(col("vec_id") +: col("cluster") +:
            (0 until PqM).map(m =>
              (array_position(col(s"ds_$m"), array_min(col(s"ds_$m"))) - 1)
                .cast("int").as(s"code_$m")): _*)
      }
    val probedQ = queriesDf(spark, dir)
      .select(col("query_id"), col("qv"))
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
      .join(centDf, col("probe_cell") === col("c_cl"))
      .withColumn("qr", zip_with(col("qv"), col("cent"), (a, b) => a - b))
    val probedLuts = withBlockDists(probedQ, "qr", cb, "lut_")
    val scored = encoded
      .join(broadcast(probedLuts),
        col("probe_cell") === col("cluster") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(sqrt((0 until PqM).map(m =>
          element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)), 6)
          .as("adc_dist"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  val Sq8Levels = 255

  // PERSISTED QUANTIZER PARAMS + CODE SEGMENTS now live in the
  // unified tier index ([[AnnTiers]]): params trained once as 1-row
  // segments (a quantizer is part of the index, never re-derived per
  // run) and codes persisted at their compressed width.

  /** Scalar-quantized corpus — (vec_id, codes: array<int>) plus the
    * 1-row (mn, step) params broadcast into the plan. Quantization is
    * global-affine int8 (the SQ8 of FAISS/Lucene): code = min(255,
    * ⌊(x − mn)/step⌋) with step = (mx − mn)/255. The params are a
    * [[AnnTiers.paramSegment]] — trained by ONE tiny corpus aggregate on the
    * first build, then read back as a 1-row parquet on every later
    * run (cold included). The encode is a narrow codegen projection
    * at scan speed; the encoded corpus is 64 B/vector instead of
    * 512 B of doubles. */
  private def sq8Codes(spark: SparkSession, dir: String): DataFrame = {
    val params = AnnTiers.paramSegment(spark, dir, "params_sq8") {
      emb(spark, dir)
        .agg(min(array_min(col("v"))).as("mn"),
          max(array_max(col("v"))).as("mx"))
        .withColumn("step", (col("mx") - col("mn")) / lit(Sq8Levels.toDouble))
    }
    // the encoded corpus is itself a persisted index segment (the
    // [[AnnTiers]] unification): built once at 64 B/vector, read from
    // disk ever after
    AnnTiers.ensureSegment(spark, dir, "codes_sq8", 0) {
      emb(spark, dir).crossJoin(broadcast(params))
        .select(col("vec_id"),
          transform(col("v"), x =>
            least(lit(Sq8Levels.toLong),
              floor((x - col("mn")) / col("step"))).cast("int")).as("codes"))
    }.crossJoin(broadcast(params.select(col("mn"), col("step"))))
      .select(col("vec_id"), col("mn"), col("step"), col("codes"))
  }

  /** SQ8 search — the third compression point on the ANN spectrum
    * (raw 512 B → SQ8 64 B → PQ 4 B per vector): score queries against
    * the DEQUANTIZED codes (asymmetric — the raw query meets
    * mid-interval reconstructions mn + (c + 0.5)·step), so after the
    * one-time encode the corpus scan reads int8 codes only. SQ8 keeps
    * ~8× compression at near-exact rank quality (reconstruction error
    * ≤ step/2 per coordinate — spec-pinned), which is why it is the
    * default for re-rank tiers where PQ's 128× is too lossy. Same
    * broadcast-query / native-heap-cut shape as the other ANN paths. */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val scored = sq8Codes(spark, dir)
      .join(broadcast(queriesDf(spark, dir)
        .select(col("query_id"), col("qv"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(sqrt(aggregate(
          zip_with(col("qv"), col("codes"), (q, c) => {
            val d = q - (col("mn") +
              (c.cast("double") + lit(0.5d)) * col("step"))
            d * d
          }), lit(0.0d), (acc, x) => acc + x)), 6).as("sq8_dist"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("sq8_dist" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq8_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("sq8_dist"))
  }

  val RefineC = 50

  /** TWO-TIER refined search (the FAISS `IndexRefine` shape): IVF-PQ
    * prunes + ADC-scores a candidate pool of [[RefineC]] per query
    * (cheap, code-only), then ONLY those candidates join back to the
    * raw embeddings by vec_id — an equi hash join whose probe side is
    * queries·C rows, not the corpus — for exact L2 re-ranking of the
    * final top-k. This is how production systems buy back PQ's rank
    * error without scanning raw vectors: the corpus-sized pass reads
    * 4 B/vector codes, the exact pass touches ≤ queries·C rows
    * regardless of corpus size. Exact distances are summed in
    * ascending-coordinate order (matching the oracle's
    * generate_series replay), ranked with the usual rounded-score +
    * id tie-break through the native heaps. */
  /** BINARY-QUANTIZATION codes: the 64-dim embedding sign-packed
    * against PER-DIMENSION MEAN thresholds into two 32-bit words
    * (lo = dims 0..31, hi = 32..63 — two halves so no term ever
    * touches the BIGINT sign bit and the DuckDB replay can sum the
    * same powers of two without overflow). 64× memory compression:
    * the Hamming scan reads 8 bytes/vector instead of 512 — at 100 TB
    * of embeddings the code table is ~1.6 TB and the scan goes from
    * IO-bound to compute-trivial. The per-dimension mean thresholds
    * are an [[AnnTiers.paramSegment]]: trained by one 1-row aggregate on the
    * first build, read back as a 1-row parquet on every later run —
    * a cold search no longer pays a corpus pass before the Hamming
    * scan can start. */
  private def bqCodes(spark: SparkSession, dir: String): DataFrame = {
    // 8 B/vector code segment (the [[AnnTiers]] unification): raw
    // vectors are NOT carried alongside the codes any more — the
    // refine tier joins them back by candidate id, so the Hamming
    // scan truly reads 8 bytes/vector from disk
    AnnTiers.ensureSegment(spark, dir, "codes_bq", 0) {
      val e = emb(spark, dir)
      val thr = AnnTiers.paramSegment(spark, dir, "params_bq") {
        e.agg(array((0 until 64).map(i => avg(col("v")(i))): _*).as("thr"))
      }
      // sign-pack as a fold over the 32-dim slice — the higher-order
      // lambda compiles to ONE loop body instead of 32 inlined
      // conditionals per word (the 64-term chain cost ~1 s of codegen
      // compile on every cold plan); 2^i via pow is exact (i ≤ 31 ≪
      // the double mantissa)
      def packWord(off: Int): Column = aggregate(
        zip_with(slice(col("v"), off + 1, 32), slice(col("thr"), off + 1, 32),
          (x, t) => when(x > t, lit(1.0d)).otherwise(lit(0.0d))),
        struct(lit(0L).as("acc"), lit(0).as("i")),
        (s, bit) => struct(
          (s.getField("acc") +
            (bit * pow(lit(2.0d), s.getField("i").cast("double")))
              .cast("long")).as("acc"),
          (s.getField("i") + 1).as("i")),
        s => s.getField("acc"))
      e.crossJoin(broadcast(thr))
        .select(col("vec_id"), packWord(0).as("lo"), packWord(32).as("hi"))
    }
  }

  private def hammingCol: Column =
    (expr("bit_count(q_lo ^ lo)") + expr("bit_count(q_hi ^ hi)"))
      .cast("long")

  /** Binary-quantization Hamming top-k — the cheapest tier of the
    * quantization family (PQ → SQ8 → BQ): 1 bit/dim codes, popcount
    * distance, per-query heap cut. */
  def annBq(spark: SparkSession, dir: String): DataFrame = {
    val codes = bqCodes(spark, dir)
      .persistTracked()
    val qs = codes.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("lo").as("q_lo"), col("hi").as("q_hi"))
    val scored = codes.join(broadcast(qs),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        hammingCol.as("hamming"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("hamming" -> true, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("hamming"))
  }

  val BqRefineFactor = 4

  /** BQ candidate generation + exact cosine rerank — the production
    * BQ pipeline (the [[annRefine]] shape at the cheapest code tier):
    * Hamming cuts the corpus to [[BqRefineFactor]]·k candidates per
    * query, the exact score runs only on those. */
  def annBqRefine(spark: SparkSession, dir: String): DataFrame = {
    val codes = bqCodes(spark, dir)
      .persistTracked()
    val qs = codes.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("lo").as("q_lo"), col("hi").as("q_hi"))
    val scored = codes.join(broadcast(qs),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        hammingCol.as("hamming"))
    val cand = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("hamming" -> true, "neighbor_id" -> true),
      BqRefineFactor * TopK)
    // exact re-rank: ONLY the ≤ queries·C candidates join back to the
    // raw embeddings (the annRefine shape) — the Hamming scan itself
    // reads nothing but the 8 B codes
    val rescored = cand
      .join(emb(spark, dir), col("neighbor_id") === col("vec_id"))
      .join(broadcast(queriesDf(spark, dir)
        .select(col("query_id"), col("qv"), col("qnrm"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineScore.as("score"))
    rankTopK(rescored)
  }

  def annRefine(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val cb = pqCodebook(spark, dir)
    val encoded = withBlockDists(
      CellRouting.assign(emb(spark, dir), "v", cents), "v", cb, "ds_")
      .select(col("vec_id") +: col("cluster") +:
        (0 until PqM).map(m =>
          (array_position(col(s"ds_$m"), array_min(col(s"ds_$m"))) - 1)
            .cast("int").as(s"code_$m")): _*)
    val probedLuts = withBlockDists(
      queriesDf(spark, dir).select(col("query_id"), col("qv")),
      "qv", cb, "lut_")
      .withColumn("probe_cell",
        explode(CellRouting.probe(col("qv"), cents, NProbe)))
    val adcScored = encoded
      .join(broadcast(probedLuts),
        col("probe_cell") === col("cluster") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id").as("neighbor_id"),
        round(sqrt((0 until PqM).map(m =>
          element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)), 6)
          .as("adc_dist"))
    val pool = graft.plans.TopKPerKey.topKPerKey(adcScored,
      Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true),
      RefineC)
    val exact = pool
      .join(emb(spark, dir).select(col("vec_id"), col("v")),
        col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(sqrt(aggregate(
          zip_with(col("qv"), col("v"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x)), 6).as("exact_dist"))
    val cut = graft.plans.TopKPerKey.topKPerKey(exact,
      Seq("query_id"), Seq("exact_dist" -> true, "neighbor_id" -> true),
      TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_dist"), col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("exact_dist"))
  }

  /** RECALL@K EVALUATION — the metric every ANN deployment monitors:
    * per query, the fraction of the exact brute-force top-[[TopK]]
    * ([[annTopKCosine]]) that the IVF-PQ path ([[annIvfPq]]) actually
    * returned. The heavy lift is inside the two sub-plans (one exact
    * corpus stream, one pruned ADC scan — each already scale-shaped);
    * the comparison itself joins two queries·k-row results, so the
    * evaluation adds nothing corpus-sized. Keeping it IN the engine
    * (not a notebook script) is the point: recall regressions from a
    * re-trained quantizer or a probe-count change surface in the same
    * oracle-gated board as the searches themselves. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annTopKCosine(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annIvfPq(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
      .select(col("query_id"), col("n_hits"), col("k"),
        round(col("n_hits").cast("double") / col("k"), 6).as("recall_at_k"))
  }

  val HybridTopK = 5

  /** Hybrid keyword+vector retrieval — the modern RAG-retrieval shape,
    * and the first operator joining the TEXT corpus to its embeddings:
    * score = ½·(token Jaccard vs the query doc) + ½·(embedding
    * cosine), top-[[HybridTopK]] per query. The lexical leg is
    * integer-exact until one division (distinct-token overlap;
    * |A∪B| = |A|+|B|−|A∩B|), the blend is rounded BEFORE ranking, and
    * the ranker is the same native-TopKPerKey cut the ANN paths use.
    * This is the broadcast-query formulation (queries tiny, corpus
    * streams once); at corpus scale the lexical leg becomes an
    * inverted-index join (the tf-idf shape) and the vector leg the IVF
    * probe — both already in this module/TextAnalysis. */
  def retrievalHybrid(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val corpus = docs.join(vecs, docs("doc_id") === vecs("vec_id"))
      .select(col("doc_id"), col("toks"), col("v"),
        l2Norm(col("v")).as("nrm"))
    val qs = corpus.where(col("doc_id") % 997 === 0)
      .select(col("doc_id").as("query_id"), col("toks").as("q_toks"),
        col("v").as("q_v"), col("nrm").as("q_nrm"))
    val scored = hybridScores(corpus, qs)
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true),
      HybridTopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Core of [[retrievalHybrid]]: blended scores for every
    * (corpus row, query) pair. Exposed for the crafted-input spec. */
  def hybridScores(corpus: DataFrame, qs: DataFrame): DataFrame =
    corpus.join(broadcast(qs), col("doc_id") =!= col("query_id"))
      .withColumn("n_shared",
        size(array_intersect(col("toks"), col("q_toks"))))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (size(col("toks")) + size(col("q_toks")) - col("n_shared")))
      .withColumn("cos",
        dot(col("v"), col("q_v")) / (col("nrm") * col("q_nrm")))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("jaccard") * 0.5 + col("cos") * 0.5, 6).as("score"))

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 retrieval over a real INVERTED INDEX — the lexical-leg
    * handoff [[retrievalHybrid]]'s doc promises for corpus scale: the
    * posting-list relation (tok, doc_id, tf, dl) is built in one
    * explode+agg shuffle on the token key, document frequencies fold
    * over it (tf is unique per (tok, doc_id), so a plain count ≡
    * count(DISTINCT doc_id)), and query terms reach their postings by
    * an EQUI JOIN on the term — per-query work is proportional to the
    * matched posting lists, never the corpus, which is exactly why
    * search engines store this layout. Queries (the `doc_id % 997`
    * sample's distinct tokens) broadcast; (n_docs, avgdl) ride in the
    * plan as a broadcast 1-row aggregate.
    *
    * Determinism: per-term Okapi scores — idf = ln(1 + (N − df + ½)/
    * (df + ½)), tf-norm with k1=[[Bm25K1]], b=[[Bm25B]] — are
    * quantized to integer MICRO-units before the per-(query, doc) sum,
    * so the fold is order-independent (the hybrid operator's
    * "integer-exact until one division" rule applied to a float sum);
    * one division converts back for ranking through the native
    * TopKPerKey heaps. The posting list feeds both df and the score
    * join, so it materializes once via localCheckpoint (ContextCleaner
    * frees the blocks; no session CacheManager mutation). At 100 TB the
    * same relation becomes a build-once artifact exactly like the
    * [[AnnIndex]] parquet index. */
  /** POSITIONAL PHRASE MATCH — the exact-phrase member of the
    * retrieval family (BM25 ranks bags of words; a phrase query needs
    * POSITIONS): the corpus's positional trigram relation
    * ([[Dedup.shinglePosCol]] — each instance carries its 1-based
    * start) doubles as a positional inverted index, the most frequent
    * trigram (count desc, text asc — deterministic) becomes the query
    * phrase as a broadcast 1-row relation, and matching is an equi
    * join on the phrase text followed by one per-doc aggregation
    * (occurrence count + first position — the snippet anchor). One
    * corpus scan, one hash agg for the argmax, one keyed join: at
    * 100 TB the phrase probe is index-shaped, never a rescan. */
  def retrievalPhrase(spark: SparkSession, dir: String): DataFrame = {
    val inst = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(Dedup.shinglePosCol(col("toks"), 3)).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.span").as("span"))
      .persistTracked()
    val top = inst.groupBy(col("span"))
      .agg(count(lit(1)).as("corpus_occ"))
      .orderBy(col("corpus_occ").desc, col("span")).limit(1)
    inst.join(broadcast(top), "span")
      .groupBy(col("doc_id"), col("span"), col("corpus_occ"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("i")).cast("long").as("first_pos"))
      .select(col("doc_id"), col("span").as("phrase"), col("corpus_occ"),
        col("n_matches"), col("first_pos"))
  }

  def retrievalBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val scored = bm25Scores(docs, col("doc_id") % 997 === 0)
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true),
      HybridTopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Core of [[retrievalBm25]]: Okapi scores for every (query, doc)
    * pair sharing ≥1 term. `docs` is (doc_id, toks); `queryPred`
    * selects which doc_ids act as queries (their distinct terms ARE
    * their posting rows). EVERYTHING — document frequencies, corpus
    * stats (n_docs, avgdl via one distinct over (doc_id, dl)), and the
    * query term sets — derives from the single checkpointed posting
    * relation, so the corpus text is scanned exactly ONCE no matter
    * how many consumers fold over it. Exposed for the crafted-input
    * spec. */
  def bm25Scores(docs: DataFrame, queryPred: Column): DataFrame = {
    val postings = docs
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
    val qs = postings.where(queryPred)
      .select(col("doc_id").as("query_id"), col("tok"))
    postings.join(dfreq, "tok")
      .join(broadcast(qs), "tok")
      .where(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0d) + (col("n_docs") - col("df") + lit(0.5d))
          / (col("df") + lit(0.5d))))
      .withColumn("tfn",
        col("tf") * lit(Bm25K1 + 1) / (col("tf") + lit(Bm25K1)
          * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .withColumn("term_micros",
        round(col("idf") * col("tfn") * lit(1e6d)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_micros")).as("micros"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("micros") / lit(1e6d), 6).as("score"))
  }

  /** RRF rank constant — the k=60 every production deployment uses
    * (Cormack/Clarke/Buettcher SIGIR'09; the Elasticsearch default). */
  val RrfK = 60

  /** RECIPROCAL RANK FUSION — the OTHER standard hybrid-retrieval
    * combiner (beside [[retrievalHybrid]]'s score blend): each leg
    * contributes 1/([[RrfK]] + rank) and the legs' raw scores never
    * mix, so BM25's unbounded scale and cosine's [−1, 1] need no
    * calibration — the reason RRF is the default fusion in production
    * search stacks. Legs: the full Okapi ranking ([[bm25Scores]] — a
    * doc sharing no term has no lexical rank and contributes 0) and
    * the full cosine ranking over the embedded corpus; both rank by
    * (rounded score DESC, id), the fused score rounds BEFORE the final
    * cut (ties broken by id — total order, so both engines agree).
    * Queries are the doc_id % 997 == 0 docs that also carry an
    * embedding (both legs must exist for fusion to mean anything).
    * Scale shape: both legs are the broadcast-query formulation
    * (queries tiny, corpus streams once; windows partition per query);
    * at corpus scale each leg hands off to its index form — inverted
    * postings / IVF probe — and RRF's fusion join stays ≤ 2·q·n rows
    * keyed by (query, doc). */
  def retrievalRrf(spark: SparkSession, dir: String): DataFrame = {
    val nv = graft.Tables.cachedCount(spark, dir, "embeddings")
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val lexRank = bm25Scores(docs,
        col("doc_id") % 997 === 0 && col("doc_id") < nv)
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))))
      .select(col("query_id"), col("neighbor_id"), col("lex_rank"))
    val qs = emb(spark, dir).where(col("vec_id") % 997 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val vecRank = emb(spark, dir)
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineScore.as("score"))
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))))
      .select(col("query_id"), col("neighbor_id"), col("vec_rank"))
    val fused = lexRank
      .join(vecRank, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        round(
          coalesce(lit(1.0d) / (lit(RrfK) + col("lex_rank")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(RrfK) + col("vec_rank")), lit(0.0d)),
          9).as("rrf_score"))
    val cut = graft.plans.TopKPerKey.topKPerKey(fused,
      Seq("query_id"), Seq("rrf_score" -> false, "neighbor_id" -> true),
      HybridTopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("rrf_score"))
  }

  /** FILTERED vector search — metadata-constrained ANN, the vector-DB
    * capability RAG stacks rely on ("neighbors from MY tenant/category
    * only"): each query retrieves its top-k among corpus vectors
    * sharing the query's label. The filter is applied as a JOIN
    * PREDICATE — i.e. BEFORE scoring — which is the correctness-
    * critical order: post-filtering an unfiltered top-k silently
    * under-returns (a query whose true same-label neighbors rank 11th+
    * globally would get < k rows, or none). Pre-filtering also does
    * strictly less scoring work: only label-matched rows compute a
    * cosine. Same broadcast-query + native-TopKPerKey shape as the
    * other rankers; at scale the label predicate pushes into the
    * partition layout (partition by label) or the IVF cell routing. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val corpus = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"),
        col("label"))
      .withColumn("nrm", l2Norm(col("v")))
    val qs = corpus.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("q_label"))
    val scored = corpus.join(broadcast(qs),
        col("vec_id") =!= col("query_id") &&
          col("label") === col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label"), cosineScore.as("score"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("score" -> false, "neighbor_id" -> true), TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label").cast("long").as("label"), col("score"))
  }

  val MmrLambda = 0.7
  val MmrK = 5

  final case class MmrCand(query_id: Long, cand_id: Long, rel: Double,
                           v: Seq[Double])
  final case class MmrPick(query_id: Long, mmr_rank: Int, cand_id: Long,
                           score: Double)

  /** Pure greedy MMR over one query's candidate list: pick the highest
    * relevance first, then repeatedly the candidate maximizing
    * λ·rel − (1−λ)·max-sim-to-selected, every sim and every combined
    * score rounded to 6dp BEFORE comparison (Spark-round-compatible
    * [[RoundHalfUp.round]], exactly like the `round(x, 6)` both engines
    * apply) and ties broken on
    * cand_id — bit-reproducible against the DuckDB recursive-CTE
    * oracle. O(k·C·d) per query over C = [[TopK]] candidates. */
  def mmrSelect(query: Long, cands: Seq[MmrCand]): Seq[MmrPick] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var num = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        num += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      num / (math.sqrt(na) * math.sqrt(nb))
    }
    val pool = scala.collection.mutable.ArrayBuffer(
      cands.sortBy(c => (-c.rel, c.cand_id)): _*)
    val selected = scala.collection.mutable.ArrayBuffer[MmrCand]()
    val out = scala.collection.mutable.ArrayBuffer[MmrPick]()
    while (selected.length < MmrK && pool.nonEmpty) {
      val (best, score) =
        if (selected.isEmpty) (pool.head, RoundHalfUp.round(pool.head.rel, 6))
        else pool.map { c =>
          val maxSim = selected.map(s => RoundHalfUp.round(cos(c.v, s.v), 6)).max
          (c, RoundHalfUp.round(MmrLambda * c.rel - (1 - MmrLambda) * maxSim, 6))
        }.minBy { case (c, s) => (-s, c.cand_id) }
      out += MmrPick(query, selected.length + 1, best.cand_id, score)
      selected += best
      pool -= best
    }
    out.toSeq
  }

  /** MMR-diversified reranking — the second retrieval stage after
    * recall: from each query's brute-force top-[[TopK]] (the
    * ann_topk_cosine set, vectors carried along), greedily select
    * [[MmrK]] results trading relevance against redundancy
    * (λ = [[MmrLambda]]). The greedy loop runs per query GROUP via
    * flatMapGroups — distributed across queries, O(k·C·d) on ≤ C rows
    * per group, no driver involvement. The DuckDB oracle replays the
    * exact greedy recursion as a recursive CTE (LATERAL argmax per
    * step over the same rounded scores), so the selection ORDER — not
    * just the set — is value-checked. */
  def retrievalMmr(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val scored = emb(spark, dir)
      .join(broadcast(queriesDf(spark, dir)),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosineScore.as("rel"), col("v"))
    val cut = graft.plans.TopKPerKey.topKPerKey(scored,
      Seq("query_id"), Seq("rel" -> false, "cand_id" -> true), TopK)
    cut.as[MmrCand]
      .groupByKey(_.query_id)
      .flatMapGroups((q, it) => mmrSelect(q, it.toSeq).iterator)
      .toDF()
  }

  /** CONTRASTIVE PAIR MINING (hard negatives) — the embedding-model
    * training-data op: for each anchor query, the best SAME-label
    * neighbor (the positive) and the best DIFFERENT-label neighbor
    * (the hard negative — the pair InfoNCE/triplet losses learn
    * most from, precisely because cosine ranks it close), plus the
    * margin between them. One broadcast of the anchor batch against
    * the corpus scan, then ONE grouped aggregation of two
    * conditional (score, -id) struct maxes — never a window over the
    * corpus, never a self-join; ties break to the smaller id on both
    * sides. At 100 TB the anchor batch rides the IVF/graph tiers for
    * candidates; the exact scan here is the NQueries-sample gauge
    * shape. */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val labels = t(spark, dir, "embeddings")
      .select(col("vec_id").as("l_id"), col("label"))
    val anchors = queriesDf(spark, dir)
      .join(labels, col("query_id") === col("l_id"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("label").as("q_label"))
    val scored = emb(spark, dir)
      .join(labels, col("vec_id") === col("l_id"))
      .join(broadcast(anchors), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        struct(cosineScore.as("score"), (-col("vec_id")).as("nid")).as("s"),
        (col("label") === col("q_label")).as("same"))
    scored.groupBy(col("query_id"))
      .agg(max(when(col("same"), col("s"))).as("p"),
        max(when(!col("same"), col("s"))).as("n"))
      // a query whose label has no same-label (or no different-label)
      // candidate has no trainable pair — drop it, the oracle's
      // pos-JOIN-neg inner-join semantics made explicit rather than
      // fixture-dependent
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("query_id"),
        (-col("p.nid")).as("pos_id"), col("p.score").as("pos_score"),
        (-col("n.nid")).as("neg_id"), col("n.score").as("neg_score"),
        round(col("p.score") - col("n.score"), 6).as("margin"))
  }

  val PcaDim = 64
  /** Power-iteration rounds. The synthetic corpus's spectrum is nearly
    * flat (λ₂/λ₁ ≈ 0.93), so separation needs (λ₂/λ₁)^k ≪ 1 — 60
    * rounds give ~1e-2 admixture. Each round is d² driver flops and
    * one 64-row CTE pair in the oracle replay; corpus passes stay at
    * two regardless of the count. */
  val PcaIters = 60

  /** Quantized power iteration on a [[PcaDim]]² matrix: [[PcaIters]]
    * rounds of multiply-normalize with the iterate 6dp-quantized each
    * round (the engine's cross-engine determinism contract — both
    * sides re-round, so float summation order can never drift the
    * replay), then sign-canonicalized (largest-|w| coordinate
    * positive, ties → smallest index) and paired with its 6dp
    * Rayleigh quotient. */
  private def powerIter(m: Array[Array[Double]]): (Array[Double], Double) = {
    var w = Array.fill(PcaDim)(RoundHalfUp.round(1.0 / math.sqrt(PcaDim.toDouble), 6))
    for (_ <- 1 to PcaIters) {
      val u = Array.tabulate(PcaDim) { i =>
        var s = 0.0; var j = 0
        while (j < PcaDim) { s += m(i)(j) * w(j); j += 1 }; s
      }
      val nn = math.sqrt(u.map(x => x * x).sum)
      w = u.map(x => RoundHalfUp.round(x / nn, 6))
    }
    val pivot = w.indices.maxBy(i => (math.abs(w(i)), -i))
    val ws = if (w(pivot) < 0) w.map(-_) else w
    var lam = 0.0
    for (i <- 0 until PcaDim; j <- 0 until PcaDim)
      lam += ws(i) * m(i)(j) * ws(j)
    (ws, RoundHalfUp.round(lam, 6))
  }

  /** PCA / EMBEDDING WHITENING — the linear-algebra prep op a corpus
    * of embeddings runs before dedup thresholding, drift monitoring
    * or low-dim visualization: top-2 principal components of the
    * corpus covariance, each vector projected onto them, with the
    * component variances (Rayleigh quotients) carried per row.
    *
    * Distribution shape (the MLlib Gramian pattern, dimension-bounded
    * not corpus-bounded): per-dim means are ONE 64-expression
    * aggregate; the covariance's 64×64 entries come from one
    * posexplode (n·d rows) into a 64-GROUP hash aggregate of 64
    * products each — map-side combined, so the exchange carries 64
    * rows regardless of corpus size; the driver holds only the d²
    * matrix (fixed, tiny) and runs the quantized power iteration
    * ([[powerIter]]); projections are one scan with the components as
    * broadcast literals, folded in array order (deterministic
    * summation). Nothing corpus-sized is ever collected — at 100 TB
    * this is one pass for C, one for the projections. The DuckDB
    * oracle replays ALL of it: means, covariance, every
    * multiply-normalize round (chained CTEs), deflation, and the
    * projections — quantization at 6/9dp at every step keeps the two
    * engines in lockstep. */
  def annPca(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("v"))
      .persistTracked()
    // n and the per-dim means ride ONE aggregate job (they read the
    // same cached pass; a separate count() paid a whole extra
    // job+plan for a scalar the agg already knows)
    val nMu = e.agg(count(lit(1)).as("n"),
        array((0 until PcaDim).map(j =>
          round(avg(col("v")(j)), 6)): _*).as("mu"))
      .head()
    val n = nMu.getLong(0)
    val mu = nMu.getSeq[Double](1).toArray
    val muLit = array(mu.map(lit): _*)
    val xc = e.select(col("vec_id"),
        zip_with(col("v"), muLit, (a, b) => a - b).as("x"))
      .persistTracked()
    val cRows = xc.select(col("x"), posexplode(col("x")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(array((0 until PcaDim).map(j =>
        round(sum(col("xi") * col("x")(j)) / n, 9)): _*).as("crow"))
      .collect()
    val c1 = Array.ofDim[Double](PcaDim, PcaDim)
    cRows.foreach(r => c1(r.getInt(0)) = r.getSeq[Double](1).toArray)
    val (w1, lam1) = powerIter(c1)
    val c2 = Array.tabulate(PcaDim, PcaDim)((i, j) =>
      RoundHalfUp.round(c1(i)(j) - lam1 * w1(i) * w1(j), 9))
    val (w2, lam2) = powerIter(c2)
    def proj(w: Array[Double]) = round(
      aggregate(zip_with(col("x"), array(w.map(lit): _*), (a, b) => a * b),
        lit(0.0d), (acc, t) => acc + t), 6)
    // lazy: the caller's action computes projections straight off the
    // tracked xc cache (Caches.release owns the unpersist); the former
    // eager localCheckpoint paid one full extra materialization pass
    // plus a checkpoint read for nothing the cache didn't already give
    xc.select(col("vec_id"), proj(w1).as("pc1"), proj(w2).as("pc2"),
      lit(lam1).as("var1"), lit(lam2).as("var2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pca" -> annPca,
    "ann_hard_negatives" -> annHardNegatives,
    "retrieval_mmr" -> retrievalMmr,
    "ann_filtered" -> annFiltered,
    "retrieval_hybrid" -> retrievalHybrid,
    "retrieval_bm25" -> retrievalBm25,
    "retrieval_rrf" -> retrievalRrf,
    "retrieval_phrase" -> retrievalPhrase,
    "ann_cell_drift" -> annCellDrift,
    "ann_knn_graph" -> annKnnGraph,
    "ann_graph_search" -> annGraphSearch,
    "ann_recall_graph" -> annRecallGraph,
    "ann_label_transfer" -> annLabelTransfer,
    "ann_topk_cosine" -> annTopKCosine,
    "ann_ivf" -> annIvfCosine,
    "ann_pq_codes" -> annPqCodes,
    "ann_pq" -> annPq,
    "ann_sq8" -> annSq8,
    "ann_bq" -> annBq,
    "ann_bq_refine" -> annBqRefine,
    "ann_refine" -> annRefine,
    "ann_recall" -> annRecall,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_residual" -> annIvfPqResidual)

  /** DuckDB replay of [[bqCodes]] + the Hamming scan — shared WITH
    * prefix ending in `scored(query_id, neighbor_id, hamming)`. */
  private def bqCodesCte: String =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), dims AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), thr AS (
       |  SELECT dims.i AS i, avg(v[dims.i]) AS m
       |  FROM ev CROSS JOIN dims GROUP BY dims.i
       |), codes AS (
       |  SELECT ev.vec_id,
       |    CAST(sum(CASE WHEN dims.i <= 32 AND ev.v[dims.i] > t.m
       |             THEN CAST(1 AS BIGINT) << (dims.i - 1)
       |             ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN dims.i > 32 AND ev.v[dims.i] > t.m
       |             THEN CAST(1 AS BIGINT) << (dims.i - 33)
       |             ELSE 0 END) AS BIGINT) AS hi
       |  FROM ev CROSS JOIN dims JOIN thr t ON t.i = dims.i
       |  GROUP BY ev.vec_id
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
       |         AS BIGINT) AS hamming
       |  FROM codes q JOIN codes c
       |    ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id
       |)""".stripMargin

  /** Shared replay of [[annKnnGraph]] (requires [[centsCte]] in the
    * same WITH): every vector's IVF-probed top-[[GraphK]] cosine
    * neighbors as a `knn` CTE. Reused by the `dedup_embed_cluster`
    * oracle. */
  private[operators] def knnGraphCte: String =
    s"""assigned AS (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
       |         (SELECT c.cid FROM cents c
       |          ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c), c.cid
       |          LIMIT 1) AS cluster
       |  FROM embeddings e
       |), probed AS (
       |  SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
       |         (SELECT list(cid) FROM (
       |            SELECT cid FROM cents c
       |            ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c), c.cid
       |            LIMIT $NProbe)) AS probe
       |  FROM embeddings e
       |), knn AS (
       |  SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
       |  FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      round(list_cosine_similarity(p.qv, a.v), 6) AS score,
       |      row_number() OVER (
       |        PARTITION BY p.query_id
       |        ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
       |                 a.vec_id) AS rank
       |    FROM assigned a JOIN probed p
       |      ON list_contains(p.probe, a.cluster) AND a.vec_id <> p.query_id)
       |  WHERE rank <= $GraphK
       |)""".stripMargin

  private[operators] def centsCte =
    s"""cents AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
       |         CAST(embedding AS DOUBLE[]) AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT ${KMeansQueries.coarseKSql})
       |), q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < $NQueries
       |)""".stripMargin

  /** Squared distance over block m's global coordinates. A
    * generate_series TABLE function, not a list lambda — DuckDB lambdas
    * cannot capture correlated outer columns ("Referenced table not
    * found"). The 8-row sequential sum adds terms in ascending-i order,
    * matching Spark's left-to-right aggregate fold bit for bit. */
  private[operators] def sqdSql(a: String, b: String, m: Int): String =
    s"(SELECT sum(($a[g.i] - $b[g.i]) * ($a[g.i] - $b[g.i])) " +
      s"FROM generate_series(${m * PqSubDim + 1}, ${(m + 1) * PqSubDim}) g(i))"

  /** Squared distance of full-vector `full`'s block-`m` slice against
    * an 8-long sub-centroid list `sub` (the trained-codebook layout,
    * where each (m, j) row carries only its own block). Ascending-i
    * sum, same bit-for-bit fold as [[sqdSql]]. */
  private def sqdSubSql(full: String, sub: String, m: String): String =
    s"(SELECT sum(($full[$m * $PqSubDim + g.i] - $sub[g.i]) * " +
      s"($full[$m * $PqSubDim + g.i] - $sub[g.i])) " +
      s"FROM generate_series(1, $PqSubDim) g(i))"

  /** DuckDB replay of [[trainedCoarseCentroids]]: the first-k seed
    * (cc0), then one (assign ca_r → 6dp-rounded means cc_r) CTE pair
    * per Lloyd round, empty cells carried by the coalesce — landing on
    * the engine's exact trained `cents`. Also defines `ev` and `q`
    * (the [[centsCte]] contract this replaces for the residual
    * oracle). */
  private def trainedCentsCte: String = {
    val d = PqM * PqSubDim
    val rounds = (1 to CoarseTrainRounds).map { r =>
      s"""ca$r AS MATERIALIZED (
         |  SELECT e.vec_id, e.v,
         |    (SELECT c.cid FROM cc${r - 1} c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cl
         |  FROM ev e
         |), cc$r AS MATERIALIZED (
         |  SELECT b.cid, coalesce(nc.c, b.c) AS c
         |  FROM cc${r - 1} b LEFT JOIN (
         |    SELECT cl, list(mv ORDER BY dim) AS c FROM (
         |      SELECT cl, g.dim AS dim,
         |             round(sum(v[g.dim]) / count(*), 6) AS mv
         |      FROM ca$r CROSS JOIN generate_series(1, $d) g(dim)
         |      GROUP BY cl, g.dim)
         |    GROUP BY cl) nc ON nc.cl = b.cid
         |)""".stripMargin
    }.mkString(", ")
    s"""ev AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cc0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
       |         v AS c
       |  FROM (SELECT vec_id, v FROM ev
       |        ORDER BY vec_id LIMIT ${KMeansQueries.coarseKSql})
       |), $rounds, cents AS MATERIALIZED (
       |  SELECT cid, c FROM cc$CoarseTrainRounds
       |), q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < $NQueries
       |)""".stripMargin
  }

  /** DuckDB replay of [[trainResidualCodebook]]: rcb0 slices the
    * residual seeds per block, `bsub` stacks every residual's slices
    * once, then per round an assign (basj_r: strict-< argmin against
    * the previous codebook) and a 6dp-rounded recenter (rcb_r, empty
    * codes carried by the coalesce). Requires `asg` (residuals) and
    * `rseeds` in scope. */
  private def residualCbCtes: String = {
    val sub = PqSubDim
    val rounds = (1 to PqTrainRounds).map { r =>
      s"""basj$r AS MATERIALIZED (
         |  SELECT s.vec_id, s.m, s.sub,
         |    (SELECT b.j FROM rcb${r - 1} b WHERE b.m = s.m
         |     ORDER BY (SELECT sum((s.sub[g.i] - b.c[g.i]) *
         |                          (s.sub[g.i] - b.c[g.i]))
         |               FROM generate_series(1, $sub) g(i)),
         |       b.j LIMIT 1) AS j
         |  FROM bsub s
         |), rcb$r AS MATERIALIZED (
         |  SELECT b.m, b.j, coalesce(nc.c, b.c) AS c
         |  FROM rcb${r - 1} b LEFT JOIN (
         |    SELECT m, j, list(mv ORDER BY dim) AS c FROM (
         |      SELECT m, j, g.dim AS dim,
         |             round(sum(sub[g.dim]) / count(*), 6) AS mv
         |      FROM basj$r CROSS JOIN generate_series(1, $sub) g(dim)
         |      GROUP BY m, j, g.dim)
         |    GROUP BY m, j) nc ON nc.m = b.m AND nc.j = b.j
         |)""".stripMargin
    }.mkString(", ")
    s"""rcb0 AS MATERIALIZED (
       |  SELECT bm.m, s.j,
       |         list_slice(s.c, bm.m * $sub + 1, (bm.m + 1) * $sub) AS c
       |  FROM rseeds s CROSS JOIN generate_series(0, ${PqM - 1}) bm(m)
       |), bsub AS MATERIALIZED (
       |  SELECT a.vec_id, bm.m,
       |         list_slice(a.r, bm.m * $sub + 1, (bm.m + 1) * $sub) AS sub
       |  FROM asg a CROSS JOIN generate_series(0, ${PqM - 1}) bm(m)
       |), $rounds""".stripMargin
  }

  private[operators] def pqCodesCte: String = {
    val codeCols = (0 until PqM).map(m =>
      s"""    (SELECT s.j FROM seeds s
         |     ORDER BY ${sqdSql("e.v", "s.c", m)}, s.j LIMIT 1) AS code_$m""")
      .mkString(",\n")
    val minTerms = (0 until PqM).map(m =>
      s"(SELECT min(${sqdSql("e.v", "s.c", m)}) FROM seeds s)")
      .mkString(" + ")
    s"""seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
       |         CAST(embedding AS DOUBLE[]) AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT $PqKsub)
       |), ev AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), codes AS (
       |  SELECT e.vec_id,
       |$codeCols,
       |    round(sqrt($minTerms), 6) AS recon_err
       |  FROM ev e
       |)""".stripMargin
  }

  /** The [[powerIter]] loop as chained CTEs over a (i, j, c) matrix
    * relation `cMat`: PcaIters multiply-normalize rounds (iterate
    * re-rounded to 6dp each round — the lockstep contract), then the
    * sign canonicalization, ending in `<prefix>wf(i, w)`. */
  private def pcaIterCtes(cMat: String, prefix: String): String = {
    // every CTE is MATERIALIZED: each w_k references u_k twice and
    // u_k references the matrix — default inlining would expand the
    // chain exponentially (thousands of parquet re-scans; observed as
    // fd exhaustion before computing anything)
    val sb = new StringBuilder
    sb.append(s"${prefix}w0 AS MATERIALIZED " +
      "(SELECT i, CAST(0.125 AS DOUBLE) AS w FROM dims),\n")
    for (k <- 1 to PcaIters) {
      sb.append(s"${prefix}u$k AS MATERIALIZED " +
        s"(SELECT c.i AS i, sum(c.c * w.w) AS u " +
        s"FROM $cMat c JOIN ${prefix}w${k - 1} w ON c.j = w.i GROUP BY 1),\n")
      sb.append(s"${prefix}w$k AS MATERIALIZED (SELECT i, round(u / " +
        s"(SELECT sqrt(sum(u*u)) FROM ${prefix}u$k), 6) AS w " +
        s"FROM ${prefix}u$k),\n")
    }
    sb.append(s"${prefix}piv AS MATERIALIZED (SELECT i FROM ${prefix}w$PcaIters " +
      "ORDER BY abs(w) DESC, i LIMIT 1),\n")
    sb.append(s"${prefix}sgn AS MATERIALIZED (SELECT CASE WHEN (SELECT w.w FROM " +
      s"${prefix}w$PcaIters w WHERE i = (SELECT i FROM ${prefix}piv)) < 0 " +
      "THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS s),\n")
    sb.append(s"${prefix}wf AS MATERIALIZED " +
      s"(SELECT i, w * (SELECT s FROM ${prefix}sgn) " +
      s"AS w FROM ${prefix}w$PcaIters)")
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    // the FULL pipeline replayed: 6dp means, 9dp covariance, every
    // power-iteration round, deflation, and the in-order projections
    "ann_pca" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), nn AS MATERIALIZED (SELECT count(*) AS n FROM e),
         |dims AS MATERIALIZED (
         |  SELECT unnest(generate_series(1, $PcaDim)) AS i),
         |mu AS MATERIALIZED (
         |  SELECT d.i AS i, round(avg(v[d.i]), 6) AS m
         |  FROM e CROSS JOIN dims d GROUP BY 1
         |), xs AS MATERIALIZED (
         |  SELECT vec_id, d.i AS i, v[d.i] - mu.m AS x
         |  FROM e CROSS JOIN dims d JOIN mu ON mu.i = d.i
         |), c1 AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j,
         |         round(sum(a.x * b.x) / (SELECT n FROM nn), 9) AS c
         |  FROM xs a JOIN xs b USING (vec_id) GROUP BY 1, 2
         |),
         |${pcaIterCtes("c1", "a")},
         |lam1 AS MATERIALIZED (
         |  SELECT round(sum(wi.w * c.c * wj.w), 6) AS l
         |  FROM c1 c JOIN awf wi ON c.i = wi.i JOIN awf wj ON c.j = wj.i
         |), c2 AS MATERIALIZED (
         |  SELECT c.i, c.j,
         |         round(c.c - (SELECT l FROM lam1) * wi.w * wj.w, 9) AS c
         |  FROM c1 c JOIN awf wi ON c.i = wi.i JOIN awf wj ON c.j = wj.i
         |),
         |${pcaIterCtes("c2", "b")},
         |lam2 AS MATERIALIZED (
         |  SELECT round(sum(wi.w * c.c * wj.w), 6) AS l
         |  FROM c2 c JOIN bwf wi ON c.i = wi.i JOIN bwf wj ON c.j = wj.i
         |),
         |mul AS MATERIALIZED (SELECT list(m ORDER BY i) AS ml FROM mu),
         |wl1 AS MATERIALIZED (SELECT list(w ORDER BY i) AS wl1 FROM awf),
         |wl2 AS MATERIALIZED (SELECT list(w ORDER BY i) AS wl2 FROM bwf)
         |SELECT vec_id,
         |  round(list_inner_product(list_transform(
         |    generate_series(1, $PcaDim), i -> v[i] - ml[i]), wl1), 6) AS pc1,
         |  round(list_inner_product(list_transform(
         |    generate_series(1, $PcaDim), i -> v[i] - ml[i]), wl2), 6) AS pc2,
         |  (SELECT l FROM lam1) AS var1,
         |  (SELECT l FROM lam2) AS var2
         |FROM e, mul, wl1, wl2""".stripMargin,
    // replays the greedy MMR recursion step by step: the LATERAL argmax
    // inside the recursive term picks the same (rounded score, id)
    // winner the Scala loop does, carrying the selected set as a list
    "retrieval_mmr" ->
      s"""WITH RECURSIVE cand AS (
         |  SELECT query_id, neighbor_id AS cand_id, score AS rel, v FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      CAST(e.embedding AS DOUBLE[]) AS v,
         |      round(list_cosine_similarity(q.qv,
         |            CAST(e.embedding AS DOUBLE[])), 6) AS score,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(q.qv,
         |                 CAST(e.embedding AS DOUBLE[])), 6) DESC,
         |                 e.vec_id) AS rank
         |    FROM embeddings e CROSS JOIN
         |      (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id < $NQueries) q
         |    WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= $TopK
         |), sel AS (
         |  SELECT query_id, 1 AS step, cand_id AS picked,
         |         round(rel, 6) AS score, [cand_id] AS sel_ids
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY rel DESC, cand_id) AS rn FROM cand)
         |  WHERE rn = 1
         |  UNION ALL
         |  SELECT s.query_id, s.step + 1, pick.cand_id, pick.score,
         |         list_append(s.sel_ids, pick.cand_id)
         |  FROM sel s, LATERAL (
         |    SELECT c.cand_id,
         |      round($MmrLambda*c.rel - ${1 - MmrLambda}*(
         |        SELECT max(round(list_cosine_similarity(c.v, c2.v), 6))
         |        FROM cand c2
         |        WHERE c2.query_id = c.query_id
         |          AND list_contains(s.sel_ids, c2.cand_id)), 6) AS score
         |    FROM cand c
         |    WHERE c.query_id = s.query_id
         |      AND NOT list_contains(s.sel_ids, c.cand_id)
         |    ORDER BY score DESC, c.cand_id LIMIT 1
         |  ) pick
         |  WHERE s.step < $MmrK
         |)
         |SELECT query_id, CAST(step AS INT) AS mmr_rank,
         |       picked AS cand_id, score
         |FROM sel""".stripMargin,
    "ann_filtered" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, label AS q_label FROM e
         |  WHERE vec_id < $NQueries
         |), scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         CAST(e.label AS BIGINT) AS label,
         |         round(list_cosine_similarity(e.v, q.qv), 6) AS score
         |  FROM e, q
         |  WHERE e.vec_id <> q.query_id AND e.label = q.q_label
         |), ranked AS (
         |  SELECT query_id, neighbor_id, label, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, neighbor_id)
         |           AS rank
         |  FROM scored
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, label,
         |       score
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "retrieval_hybrid" ->
      s"""WITH corpus AS (
         |  SELECT d.doc_id, list_distinct(string_split(d.text, ' ')) AS toks,
         |         CAST(e.embedding AS DOUBLE[]) AS v
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |), q AS (
         |  SELECT doc_id AS query_id, toks AS q_toks, v AS q_v
         |  FROM corpus WHERE doc_id % 997 = 0
         |), scored AS (
         |  SELECT q.query_id, c.doc_id AS neighbor_id,
         |    round(
         |      (CAST(len(list_intersect(c.toks, q.q_toks)) AS DOUBLE) /
         |       (len(c.toks) + len(q.q_toks)
         |        - len(list_intersect(c.toks, q.q_toks)))) * 0.5
         |      + list_cosine_similarity(c.v, q.q_v) * 0.5, 6) AS score
         |  FROM corpus c, q WHERE c.doc_id <> q.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, neighbor_id)
         |           AS rank
         |  FROM scored
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
         |FROM ranked WHERE rank <= $HybridTopK""".stripMargin,
    // the positional index replayed: same 1-based trigram instances,
    // same (count desc, text asc) argmax, same per-doc match rollup
    "retrieval_phrase" ->
      """WITH inst AS (
        |  SELECT doc_id, u.i AS i, u.span AS span FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
        |      i -> {'i': i, 'span': concat_ws(' ', t[i], t[i+1], t[i+2])}))
        |      AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |    WHERE len(t) >= 3)
        |), top AS (
        |  SELECT span, count(*) AS corpus_occ FROM inst GROUP BY span
        |  ORDER BY corpus_occ DESC, span LIMIT 1
        |)
        |SELECT i.doc_id, i.span AS phrase, t.corpus_occ,
        |       count(*) AS n_matches, CAST(min(i.i) AS BIGINT) AS first_pos
        |FROM inst i JOIN top t USING (span)
        |GROUP BY i.doc_id, i.span, t.corpus_occ""".stripMargin,
    "retrieval_bm25" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), postings AS (
         |  SELECT tok, doc_id, dl, count(*) AS tf FROM (
         |    SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM d)
         |  GROUP BY tok, doc_id, dl
         |), dfreq AS (
         |  SELECT tok, count(*) AS df FROM postings GROUP BY tok
         |), st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(t)) AS avgdl
         |  FROM d
         |), q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS tok
         |  FROM d WHERE doc_id % 997 = 0
         |), terms AS (
         |  SELECT q.query_id, p.doc_id AS neighbor_id,
         |    CAST(round(
         |      ln(1.0 + (st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |      * (p.tf * ${Bm25K1 + 1} / (p.tf + $Bm25K1
         |         * (${1 - Bm25B} + $Bm25B * p.dl / st.avgdl)))
         |      * 1e6) AS BIGINT) AS term_micros
         |  FROM postings p JOIN dfreq USING (tok) JOIN q USING (tok)
         |       CROSS JOIN st
         |  WHERE p.doc_id <> q.query_id
         |), agg AS (
         |  SELECT query_id, neighbor_id,
         |         round(CAST(sum(term_micros) AS DOUBLE) / 1e6, 6) AS score
         |  FROM terms GROUP BY query_id, neighbor_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, neighbor_id)
         |           AS rank
         |  FROM agg
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
         |FROM ranked WHERE rank <= $HybridTopK""".stripMargin,
    // both legs replayed in full (the bm25 CTE chain verbatim + the
    // brute cosine ranking), fused 1/(k+rank) with missing legs
    // contributing 0, rounded BEFORE the final rank — the same total
    // order as the engine
    "retrieval_rrf" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), postings AS (
         |  SELECT tok, doc_id, dl, count(*) AS tf FROM (
         |    SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM d)
         |  GROUP BY tok, doc_id, dl
         |), dfreq AS (
         |  SELECT tok, count(*) AS df FROM postings GROUP BY tok
         |), st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(t)) AS avgdl
         |  FROM d
         |), q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS tok
         |  FROM d WHERE doc_id % 997 = 0
         |    AND doc_id < (SELECT count(*) FROM embeddings)
         |), terms AS (
         |  SELECT q.query_id, p.doc_id AS neighbor_id,
         |    CAST(round(
         |      ln(1.0 + (st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |      * (p.tf * ${Bm25K1 + 1} / (p.tf + $Bm25K1
         |         * (${1 - Bm25B} + $Bm25B * p.dl / st.avgdl)))
         |      * 1e6) AS BIGINT) AS term_micros
         |  FROM postings p JOIN dfreq USING (tok) JOIN q USING (tok)
         |       CROSS JOIN st
         |  WHERE p.doc_id <> q.query_id
         |), agg AS (
         |  SELECT query_id, neighbor_id,
         |         round(CAST(sum(term_micros) AS DOUBLE) / 1e6, 6) AS score
         |  FROM terms GROUP BY query_id, neighbor_id
         |), lex AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, neighbor_id)
         |           AS lex_rank
         |  FROM agg
         |), vec AS (
         |  SELECT q2.query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q2.query_id
         |      ORDER BY round(list_cosine_similarity(q2.qv,
         |                CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id)
         |      AS vec_rank
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |     FROM embeddings WHERE vec_id % 997 = 0) q2
         |  WHERE e.vec_id <> q2.query_id
         |), fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |         coalesce(l.neighbor_id, v.neighbor_id) AS neighbor_id,
         |         round(coalesce(1.0 / ($RrfK + l.lex_rank), 0)
         |             + coalesce(1.0 / ($RrfK + v.vec_rank), 0), 9)
         |           AS rrf_score
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, rrf_score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf_score DESC, neighbor_id)
         |           AS rank
         |  FROM fused
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score
         |FROM ranked WHERE rank <= $HybridTopK""".stripMargin,
    "ann_pq_codes" -> {
      val cols = (0 until PqM).map(m => s"code_$m").mkString(", ")
      val packed = (0 until PqM)
        .map(m => s"CAST(code_$m AS BIGINT) * ${1L << (4 * m)}")
        .mkString(" + ")
      s"""WITH $pqCodesCte
         |SELECT vec_id, $cols, recon_err,
         |       CAST($packed AS BIGINT) AS packed
         |FROM codes""".stripMargin
    },
    "ann_pq" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${sqdSql("qq.qv", "s.c", m)} FROM seeds s WHERE s.j = c.code_$m)")
        .mkString(" + ") + ")"
      s"""WITH $pqCodesCte
         |SELECT query_id, neighbor_id, rank, adc_dist FROM (
         |  SELECT qq.query_id, c.vec_id AS neighbor_id,
         |    round($adc, 6) AS adc_dist,
         |    row_number() OVER (PARTITION BY qq.query_id
         |      ORDER BY round($adc, 6), c.vec_id) AS rank
         |  FROM codes c CROSS JOIN
         |    (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |     FROM embeddings WHERE vec_id < $NQueries) qq
         |  WHERE c.vec_id <> qq.query_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    // quantize-dequantize replayed coordinate-wise: the same global
    // (mn, step), floor/cap code, and mid-interval reconstruction as
    // the Spark side, summed in ascending-i order (generate_series) to
    // match the left-to-right aggregate fold bit for bit
    "ann_sq8" -> {
      val dq = s"(p.mn + (least($Sq8Levels, " +
        "floor((e.v[g.i] - p.mn) / p.step)) + 0.5) * p.step)"
      val term = s"(qq.qv[g.i] - $dq)"
      val dist = s"sqrt((SELECT sum($term * $term) " +
        s"FROM generate_series(1, ${PqM * PqSubDim}) g(i)))"
      s"""WITH ev AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), p AS (
         |  SELECT mn, (mx - mn) / ${Sq8Levels.toDouble} AS step FROM (
         |    SELECT min(list_min(v)) AS mn, max(list_max(v)) AS mx FROM ev)
         |)
         |SELECT query_id, neighbor_id, rank, sq8_dist FROM (
         |  SELECT qq.query_id, e.vec_id AS neighbor_id,
         |    round($dist, 6) AS sq8_dist,
         |    row_number() OVER (PARTITION BY qq.query_id
         |      ORDER BY round($dist, 6), e.vec_id) AS rank
         |  FROM ev e, p, (SELECT vec_id AS query_id,
         |                        CAST(embedding AS DOUBLE[]) AS qv
         |                 FROM embeddings WHERE vec_id < $NQueries) qq
         |  WHERE e.vec_id <> qq.query_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    "ann_bq" -> {
      s"""$bqCodesCte
         |SELECT query_id, neighbor_id, rank, hamming FROM (
         |  SELECT query_id, neighbor_id, hamming,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= $TopK""".stripMargin
    },
    "ann_bq_refine" -> {
      s"""$bqCodesCte, cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY hamming, neighbor_id) AS hr
         |    FROM scored)
         |  WHERE hr <= ${BqRefineFactor * TopK}
         |)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(list_cosine_similarity(qe.v, ne.v), 6) AS score,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY round(list_cosine_similarity(qe.v, ne.v), 6) DESC,
         |               c.neighbor_id) AS rank
         |  FROM cand c JOIN ev qe ON qe.vec_id = c.query_id
         |              JOIN ev ne ON ne.vec_id = c.neighbor_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    // the residual geometry replayed end to end: per-vector residual
    // against its OWN cell centroid, the residual seed codebook, and
    // per-(query, probed-cell) residual LUT distances
    "ann_ivfpq_residual" -> {
      val R = PqTrainRounds
      val codeCols = (0 until PqM).map(m =>
        s"""    (SELECT b.j FROM rcb$R b WHERE b.m = $m
           |     ORDER BY ${sqdSubSql("a.r", "b.c", m.toString)}, b.j LIMIT 1)
           |      AS code_$m""")
        .mkString(",\n")
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${sqdSubSql("p.qr", "b.c", m.toString)} FROM rcb$R b " +
          s"WHERE b.m = $m AND b.j = c2.code_$m)")
        .mkString(" + ") + ")"
      s"""WITH $trainedCentsCte, asg AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster,
         |    list_transform(list_zip(e.v,
         |      (SELECT c.c FROM cents c
         |       ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1)),
         |      x -> x[1] - x[2]) AS r
         |  FROM ev e
         |), rseeds AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
         |         r AS c
         |  FROM (SELECT vec_id, r FROM asg
         |        WHERE vec_id >= ${KMeansQueries.coarseKSql}
         |          AND vec_id < ${KMeansQueries.coarseKSql} + $PqKsub)
         |), $residualCbCtes, rcodes AS MATERIALIZED (
         |  SELECT a.vec_id, a.cluster,
         |$codeCols
         |  FROM asg a
         |), probed AS (
         |  SELECT query_id, qv,
         |    unnest((SELECT list(cid) FROM (
         |      SELECT cid FROM cents c
         |      ORDER BY list_distance(q.qv, c.c), c.cid
         |      LIMIT $NProbe))) AS pcell
         |  FROM q
         |), probedr AS MATERIALIZED (
         |  SELECT p.query_id, p.pcell,
         |    list_transform(list_zip(p.qv,
         |      (SELECT c.c FROM cents c WHERE c.cid = p.pcell)),
         |      x -> x[1] - x[2]) AS qr
         |  FROM probed p
         |)
         |SELECT query_id, neighbor_id, rank, adc_dist FROM (
         |  SELECT p.query_id, c2.vec_id AS neighbor_id,
         |    round($adc, 6) AS adc_dist,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY round($adc, 6), c2.vec_id) AS rank
         |  FROM rcodes c2 JOIN probedr p
         |    ON p.pcell = c2.cluster
         |   AND c2.vec_id <> p.query_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    "ann_ivfpq" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${sqdSql("p.qv", "s.c", m)} FROM seeds s WHERE s.j = c2.code_$m)")
        .mkString(" + ") + ")"
      s"""WITH $centsCte, $pqCodesCte, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), probed AS (
         |  SELECT query_id, qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $NProbe)) AS probe
         |  FROM q
         |)
         |SELECT query_id, neighbor_id, rank, adc_dist FROM (
         |  SELECT p.query_id, c2.vec_id AS neighbor_id,
         |    round($adc, 6) AS adc_dist,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY round($adc, 6), c2.vec_id) AS rank
         |  FROM codes2 c2 JOIN probed p
         |    ON list_contains(p.probe, c2.cluster)
         |   AND c2.vec_id <> p.query_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    // both searches replayed (the exact window rank and the ivfpq ADC
    // rank, identical to their own oracles), then the per-query overlap
    // count — a left join of two queries·k-row sets
    "ann_recall" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${sqdSql("p.qv", "s.c", m)} FROM seeds s WHERE s.j = c2.code_$m)")
        .mkString(" + ") + ")"
      s"""WITH $centsCte, $pqCodesCte, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), probed AS (
         |  SELECT query_id, qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $NProbe)) AS probe
         |  FROM q
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
         |                 e.vec_id) AS rank
         |    FROM ev e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= $TopK
         |), approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c2.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round($adc, 6), c2.vec_id) AS rank
         |    FROM codes2 c2 JOIN probed p
         |      ON list_contains(p.probe, c2.cluster)
         |     AND c2.vec_id <> p.query_id)
         |  WHERE rank <= $TopK
         |)
         |SELECT e.query_id, count(a.neighbor_id) AS n_hits,
         |       count(*) AS k,
         |       round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
         |         AS recall_at_k
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin
    },
    // two stages replayed: the ADC pool cut at RefineC with the same
    // (rounded adc, id) order, then exact L2 over raw coordinates in
    // ascending-i order for the final rank
    "ann_refine" -> {
      val adc = "sqrt(" + (0 until PqM).map(m =>
        s"(SELECT ${sqdSql("p.qv", "s.c", m)} FROM seeds s WHERE s.j = c2.code_$m)")
        .mkString(" + ") + ")"
      val exact = "sqrt((SELECT sum((pl.qv[g.i] - e.v[g.i]) * " +
        "(pl.qv[g.i] - e.v[g.i])) " +
        s"FROM generate_series(1, ${PqM * PqSubDim}) g(i)))"
      s"""WITH $centsCte, $pqCodesCte, codes2 AS (
         |  SELECT cd.*,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(e.v, c.c), c.cid LIMIT 1) AS cluster
         |  FROM codes cd JOIN ev e USING (vec_id)
         |), probed AS (
         |  SELECT query_id, qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $NProbe)) AS probe
         |  FROM q
         |), pool AS (
         |  SELECT query_id, qv, neighbor_id FROM (
         |    SELECT p.query_id, p.qv, c2.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round($adc, 6), c2.vec_id) AS rk
         |    FROM codes2 c2 JOIN probed p
         |      ON list_contains(p.probe, c2.cluster)
         |     AND c2.vec_id <> p.query_id)
         |  WHERE rk <= $RefineC
         |)
         |SELECT query_id, neighbor_id, rank, exact_dist FROM (
         |  SELECT pl.query_id, pl.neighbor_id,
         |    round($exact, 6) AS exact_dist,
         |    row_number() OVER (PARTITION BY pl.query_id
         |      ORDER BY round($exact, 6), pl.neighbor_id) AS rank
         |  FROM pool pl JOIN ev e ON pl.neighbor_id = e.vec_id)
         |WHERE rank <= $TopK""".stripMargin
    },
    // both sides of the contrastive pair replayed with partitioned
    // windows over the same rounded cosine + id tie-break the struct
    // maxes apply
    "ann_hard_negatives" ->
      s"""WITH scored AS (
         |  SELECT q.query_id, e.vec_id, e.label = q.q_label AS same,
         |    round(list_cosine_similarity(q.qv,
         |          CAST(e.embedding AS DOUBLE[])), 6) AS score
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         |            label AS q_label
         |     FROM embeddings WHERE vec_id < $NQueries) q
         |  WHERE e.vec_id <> q.query_id
         |), pos AS (
         |  SELECT query_id, vec_id AS pos_id, score AS pos_score FROM (
         |    SELECT query_id, vec_id, score, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored WHERE same) WHERE rn = 1
         |), neg AS (
         |  SELECT query_id, vec_id AS neg_id, score AS neg_score FROM (
         |    SELECT query_id, vec_id, score, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored WHERE NOT same) WHERE rn = 1
         |)
         |SELECT query_id, pos_id, pos_score, neg_id, neg_score,
         |       round(pos_score - neg_score, 6) AS margin
         |FROM pos JOIN neg USING (query_id)""".stripMargin,
    "ann_topk_cosine" ->
      s"""SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6)
         |      AS score,
         |    row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY round(list_cosine_similarity(q.qv,
         |                CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rank
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |     FROM embeddings WHERE vec_id < $NQueries) q
         |  WHERE e.vec_id <> q.query_id)
         |WHERE rank <= $TopK""".stripMargin,
    "ann_knn_graph" ->
      s"""WITH $centsCte, $knnGraphCte
         |SELECT query_id, rank, neighbor_id, score FROM knn""".stripMargin,
    // beam search unrolled hop for hop over the knn graph: f0 is the
    // IVF-cell seed (top-BeamWidth cosine among the query's probed
    // cells), then per hop expand (frontier ∪ neighbors, DISTINCT),
    // cosine-score, prune to the beam (score DESC, id) — MATERIALIZED
    // so the hop chain doesn't inline exponentially; final top-k
    // excludes the query itself
    "ann_graph_search" -> {
      val hops = (1 to BeamHops).map { h =>
        s"""cand$h AS MATERIALIZED (
           |  SELECT DISTINCT query_id, node FROM (
           |    SELECT query_id, node FROM f${h - 1}
           |    UNION ALL
           |    SELECT f.query_id, g.neighbor_id AS node
           |    FROM f${h - 1} f JOIN edges g ON g.node = f.node)
           |), sc$h AS MATERIALIZED (
           |  SELECT c.query_id, c.node,
           |    round(list_cosine_similarity(q.qv, ev.v), 6) AS s
           |  FROM cand$h c
           |  JOIN q ON q.query_id = c.query_id
           |  JOIN ev ON ev.vec_id = c.node
           |), f$h AS MATERIALIZED (
           |  SELECT query_id, node, s FROM (
           |    SELECT query_id, node, s, row_number() OVER (
           |      PARTITION BY query_id ORDER BY s DESC, node) AS rn
           |    FROM sc$h) WHERE rn <= $BeamWidth
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $centsCte, $knnGraphCte,
         |edges AS MATERIALIZED (
         |  SELECT query_id AS node, neighbor_id FROM knn
         |), ev AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), qprobe AS (
         |  SELECT q.query_id, q.qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $SeedProbe)) AS probe
         |  FROM q
         |), f0 AS MATERIALIZED (
         |  SELECT query_id, node, s FROM (
         |    SELECT p.query_id, a.vec_id AS node,
         |      round(list_cosine_similarity(p.qv, a.v), 6) AS s,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
         |                 a.vec_id) AS rn
         |    FROM qprobe p JOIN assigned a ON list_contains(p.probe, a.cluster))
         |  WHERE rn <= $BeamWidth
         |), $hops
         |SELECT query_id, CAST(rank AS INT) AS rank, node AS neighbor_id,
         |       s AS score
         |FROM (
         |  SELECT query_id, node, s, row_number() OVER (
         |    PARTITION BY query_id ORDER BY s DESC, node) AS rank
         |  FROM f$BeamHops WHERE node <> query_id)
         |WHERE rank <= $GraphTopK""".stripMargin
    },
    // the graph tier's recall gauge: the SAME beam CTEs plus an
    // exact-cosine top-k CTE, joined per query
    "ann_recall_graph" -> {
      val hops = (1 to BeamHops).map { h =>
        s"""cand$h AS MATERIALIZED (
           |  SELECT DISTINCT query_id, node FROM (
           |    SELECT query_id, node FROM f${h - 1}
           |    UNION ALL
           |    SELECT f.query_id, g.neighbor_id AS node
           |    FROM f${h - 1} f JOIN edges g ON g.node = f.node)
           |), sc$h AS MATERIALIZED (
           |  SELECT c.query_id, c.node,
           |    round(list_cosine_similarity(q.qv, ev.v), 6) AS s
           |  FROM cand$h c
           |  JOIN q ON q.query_id = c.query_id
           |  JOIN ev ON ev.vec_id = c.node
           |), f$h AS MATERIALIZED (
           |  SELECT query_id, node, s FROM (
           |    SELECT query_id, node, s, row_number() OVER (
           |      PARTITION BY query_id ORDER BY s DESC, node) AS rn
           |    FROM sc$h) WHERE rn <= $BeamWidth
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $centsCte, $knnGraphCte,
         |edges AS MATERIALIZED (
         |  SELECT query_id AS node, neighbor_id FROM knn
         |), ev AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), qprobe AS (
         |  SELECT q.query_id, q.qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $SeedProbe)) AS probe
         |  FROM q
         |), f0 AS MATERIALIZED (
         |  SELECT query_id, node, s FROM (
         |    SELECT p.query_id, a.vec_id AS node,
         |      round(list_cosine_similarity(p.qv, a.v), 6) AS s,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
         |                 a.vec_id) AS rn
         |    FROM qprobe p JOIN assigned a ON list_contains(p.probe, a.cluster))
         |  WHERE rn <= $BeamWidth
         |), $hops, approx AS (
         |  SELECT query_id, node AS neighbor_id
         |  FROM (
         |    SELECT query_id, node, row_number() OVER (
         |      PARTITION BY query_id ORDER BY s DESC, node) AS rank
         |    FROM f$BeamHops WHERE node <> query_id)
         |  WHERE rank <= $GraphTopK
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, ev.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(q.qv, ev.v), 6) DESC,
         |                 ev.vec_id) AS rank
         |    FROM ev CROSS JOIN q WHERE ev.vec_id <> q.query_id)
         |  WHERE rank <= $GraphTopK
         |)
         |SELECT e.query_id, count(a.neighbor_id) AS n_hits,
         |       count(*) AS k,
         |       round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
         |         AS recall_at_k
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin
    },
    // both halves quantized on the SAME frozen cells; shares in
    // integer micros (round(n·1e6/tot), the temperature-mixing rule)
    "ann_cell_drift" ->
      s"""WITH $centsCte, assigned AS (
         |  SELECT e.vec_id,
         |         (SELECT c.cid FROM cents c
         |          ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c),
         |                   c.cid
         |          LIMIT 1) AS cluster
         |  FROM embeddings e
         |), b AS (
         |  SELECT cluster, count(*) AS n_base,
         |    CAST(round(count(*) * 1000000 / (SELECT count(*) FROM assigned
         |         WHERE vec_id % 2 = 0)) AS BIGINT) AS share_base
         |  FROM assigned WHERE vec_id % 2 = 0 GROUP BY cluster
         |), f AS (
         |  SELECT cluster, count(*) AS n_new,
         |    CAST(round(count(*) * 1000000 / (SELECT count(*) FROM assigned
         |         WHERE vec_id % 2 = 1)) AS BIGINT) AS share_new
         |  FROM assigned WHERE vec_id % 2 = 1 GROUP BY cluster
         |)
         |SELECT coalesce(b.cluster, f.cluster) AS cluster,
         |       CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
         |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         |       CAST(coalesce(share_new, 0) - coalesce(share_base, 0)
         |            AS BIGINT) AS drift_micros
         |FROM b FULL OUTER JOIN f ON b.cluster = f.cluster""".stripMargin,
    // labeled base = vec_id % 5 <> 0, targets probe the same seeded
    // cells; majority vote (count desc, label asc) over the top-5
    // ranked (rounded score desc, vec_id) labeled neighbors
    "ann_label_transfer" ->
      s"""WITH $centsCte, lab AS (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, e.label,
         |         (SELECT c.cid FROM cents c
         |          ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c),
         |                   c.cid
         |          LIMIT 1) AS cluster
         |  FROM embeddings e WHERE e.vec_id % $LabelHoldout <> 0
         |), tgt AS (
         |  SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
         |         e.label AS true_label,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c),
         |                     c.cid
         |            LIMIT $NProbe)) AS probe
         |  FROM embeddings e WHERE e.vec_id % $LabelHoldout = 0
         |), knn AS (
         |  SELECT query_id, true_label, nb_label FROM (
         |    SELECT t.query_id, t.true_label, l.label AS nb_label,
         |      row_number() OVER (
         |        PARTITION BY t.query_id
         |        ORDER BY round(list_cosine_similarity(t.qv, l.v), 6) DESC,
         |                 l.vec_id) AS rank
         |    FROM lab l JOIN tgt t ON list_contains(t.probe, l.cluster))
         |  WHERE rank <= $LabelK
         |), votes AS (
         |  SELECT query_id, true_label, nb_label, count(*) AS n
         |  FROM knn GROUP BY 1, 2, 3
         |), pred AS (
         |  SELECT query_id, true_label, nb_label AS pred_label FROM (
         |    SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY n DESC, nb_label) AS rn
         |    FROM votes) WHERE rn = 1
         |)
         |SELECT true_label AS label, count(*) AS n_targets,
         |       CAST(sum(CASE WHEN pred_label = true_label
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM pred GROUP BY 1""".stripMargin,
    "ann_ivf" ->
      s"""WITH $centsCte, assigned AS (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         |         (SELECT c.cid FROM cents c
         |          ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c), c.cid
         |          LIMIT 1) AS cluster
         |  FROM embeddings e
         |), probed AS (
         |  SELECT query_id, qv,
         |         (SELECT list(cid) FROM (
         |            SELECT cid FROM cents c
         |            ORDER BY list_distance(q.qv, c.c), c.cid
         |            LIMIT $NProbe)) AS probe
         |  FROM q
         |)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(p.qv, a.v), 6) AS score,
         |    row_number() OVER (
         |      PARTITION BY p.query_id
         |      ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC,
         |               a.vec_id) AS rank
         |  FROM assigned a JOIN probed p
         |    ON list_contains(p.probe, a.cluster) AND a.vec_id <> p.query_id)
         |WHERE rank <= $TopK""".stripMargin)
}
