package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder measurement: warm seconds for the most expensive query
  * families across ~two decades of input growth, emitted as ONE JSON
  * object (written to BENCH_LADDER.json by scripts, printed on
  * stdout). Converts the "survives 100×" plan arguments into measured
  * growth exponents.
  *
  * Ladder datasets:
  *  - The graph family ladders the REAL driver SFs — `events` grows a
  *    clean 10× per step (1k → 10k → 100k rows).
  *  - The document/embedding families CANNOT ladder the driver SFs
  *    (documents: 500 → 500 → 5000; embeddings: 500 → 500 → 2000), so
  *    they ladder ×1/×10/×100 replications of sf0.1 written once under
  *    the artifacts root. Replicas are PERTURBED to be dissimilar to
  *    each other at every near-dup unit (see [[ladderDir]] — getting
  *    this wrong makes candidate pairs grow quadratically and the
  *    ladder measures the corruption, not the operator). Replica 0 is
  *    byte-identical to the source.
  *
  * Timing mirrors graft.Bench: per point 1 cold + warm runs with
  * ContextCleaner drains between, median warm reported (3 warm runs,
  * 1 at the x100 rung — see main). */
object BenchLadder {

  private def drain(): Unit = {
    System.gc(); Thread.sleep(80); System.gc(); Thread.sleep(80)
  }

  /** (busy, steal) jiffies from /proc/stat's aggregate cpu line — the
    * contention annotation: this box is a guest with noisy neighbors
    * (measured 10–66% steal depending on the hour, r17), and a rung
    * timed under heavy steal reads as a regression of code that did
    * not change. Sampling steal around every timed run makes each
    * number carry its own weather report. Returns (0,0) where
    * /proc/stat does not exist (non-Linux dev boxes). */
  private[graft] def cpuJiffies(): (Long, Long) = try {
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
      val l = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      // busy = user+nice+system+irq+softirq; steal = field 8 (0-based)
      (l(1).toLong + l(2).toLong + l(3).toLong + l(6).toLong + l(7).toLong,
        l(8).toLong)
    }
  } catch { case _: Throwable => (0L, 0L) }

  /** Steal percentage of (busy + steal) across a window. */
  private[graft] def stealPct(before: (Long, Long),
                              after: (Long, Long)): Double = {
    val busy = after._1 - before._1
    val steal = after._2 - before._2
    if (busy + steal <= 0) 0.0 else 100.0 * steal / (busy + steal)
  }

  private def timeQuery(spark: SparkSession, name: String,
                        dir: String, warmRuns: Int): Double = {
    val fn = SparkEntry.queries(name)
    def once(): Double = {
      drain()
      // construction INSIDE the window, like Bench.once(): the
      // driver-loop families (k-means|| sampling rounds, components'
      // eagerly-checkpointed pointer jumps) do their real work while
      // BUILDING the frame — timed from t0 after construction, a
      // checkpoint-backed result counts in milliseconds and the rung
      // measures nothing
      val j0 = cpuJiffies()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      // execute the frame's OWN QueryExecution: df.count() would spawn
      // a NEW execution for the agg plan, leaving df.queryExecution
      // unexecuted and its observed metrics permanently zero
      df.queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val st = stealPct(j0, cpuJiffies())
      if (st >= 5.0) System.err.println(
        f"[ladder] $name%s run under $st%.0f%% host steal — treat " +
          "this sample as contended")
      // surface any Dataset.observe counters the query carries (the
      // prefix-join candidate instrumentation): the ladder's whole
      // point is separating "the plan holds" from "the constants got
      // lucky", and candidate counts are the plan-holds witness
      val om = df.queryExecution.observedMetrics
      if (om.nonEmpty) System.err.println(
        s"[ladder] $name observed: " + om.map { case (k, r) =>
          s"$k=${r.toSeq.mkString(",")}" }.mkString(" "))
      dt
    }
    once() // cold
    val runs = Seq.fill(warmRuns)(once()).sorted
    // between-FAMILIES cache lifecycle, mirroring Bench's gauntlet:
    // without it a consolidated multi-family invocation couples
    // measurements through the kept ring (measured: dedup_prefix_join
    // x10 96 s solo vs 197 s mid-ladder, dedup_embed_cluster x100
    // 37 s solo vs 85 s mid-ladder — heap pressure from 24 retained
    // frames of EARLIER families, not the operator). Within-family
    // warm-run reuse is untouched (release sits after the runs).
    Caches.release(spark)
    runs(runs.length / 2)
  }

  /** Replicated-and-perturbed ladder dir (docs + embeddings) under the
    * artifacts root; built once, `_LADDER_DONE`-gated like every
    * artifact. The perturbation must make replicas DISSIMILAR TO EACH
    * OTHER at the unit every near-dup operator keys on, or replication
    * plants duplicate groups that grow with the factor and candidate
    * pairs grow QUADRATICALLY — the ladder then measures the planted
    * corruption, not the operator (a lead-token variant of this dir
    * did exactly that: replicas stayed ~98% 3-shingle-identical and
    * the x10 prefix join OOMed on cross-replica candidate pairs):
    *  - documents: every TOKEN gets a replica-unique suffix, so the
    *    per-replica 3-shingle DF HISTOGRAM is byte-for-byte the
    *    source corpus's (prefix-filter selectivity, banding bucket
    *    sizes and token counts are all preserved — an interleaved-
    *    filler variant was tried first and collapsed half the
    *    shingles to unigram/bigram keys, densifying the candidate
    *    structure until the x10 verification join spilled the disk
    *    full) while replica shingle sets stay pairwise disjoint; docs
    *    WITHIN one replica keep their natural near-dup structure, so
    *    the duplication RATE stays at the source corpus's level while
    *    group counts scale — the shape of a genuinely larger crawl.
    *  - embeddings: a deterministic (vec_id, dim)-keyed offset of
    *    ±0.25/dim (the corpus is unit-norm, mean pairwise L2 ≈ 1.4),
    *    so a replica lands as an unrelated point instead of its
    *    source's nearest neighbor ×(factor−1).
    * Replica 0 stays byte-identical to the source in both tables. */
  /** Documents replicated `factor`× with the per-replica token-suffix
    * perturbation described above (replica 0 byte-identical). Shared
    * with [[FullDir]], which scales the WHOLE star schema. */
  private[graft] def replicateDocs(docs: org.apache.spark.sql.DataFrame,
                                   factor: Int): org.apache.spark.sql.DataFrame = {
    val nd = docs.count()
    val reps = docs.sparkSession.range(factor).select(col("id").as("rep"))
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("rep") * nd)
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1zq"), col("rep")))))
      .drop("rep")
  }

  /** Embeddings replicated `factor`× with the deterministic per-(id,
    * dim) offset described above (replica 0 byte-identical). */
  private[graft] def replicateEmb(emb: org.apache.spark.sql.DataFrame,
                                  factor: Int): org.apache.spark.sql.DataFrame = {
    val ne = emb.count()
    val reps = emb.sparkSession.range(factor).select(col("id").as("rep"))
    emb.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("rep") * ne)
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x + ((col("vec_id") * 1315423911L + i * 40503L) % 1001L
              - 500L).cast("double") * lit(0.0005d)).cast("float"))))
      .drop("rep")
  }

  private def ladderDir(spark: SparkSession, src: String,
                        factor: Int): String = {
    val dir = s"${graft.sources.Artifacts.root(spark)}/ladder3_x$factor"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val done = new org.apache.hadoop.fs.Path(s"$dir/_LADDER_DONE")
    if (!fs.exists(done)) {
      replicateDocs(spark.read.parquet(s"$src/documents.parquet"), factor)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      replicateEmb(spark.read.parquet(s"$src/embeddings.parquet"), factor)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      fs.create(done).close()
    }
    // the wedge-join family's tables, own marker so pre-existing
    // ladder dirs gain them without re-replicating docs/embeddings
    val triDone = new org.apache.hadoop.fs.Path(s"$dir/_LADDER_TRI_DONE")
    if (!fs.exists(triDone)) {
      replicateTri(spark, src, dir, factor)
      fs.create(triDone).close()
    }
    dir
  }

  /** lineitem/orders replicated `factor`× as KEY-SHIFTED DISJOINT
    * copies (every key space offset by rep·(max+1)), pruned to the
    * columns [[graft.operators.RelationalQueries.qTriangles]] reads.
    * Disjoint copies preserve the per-customer degree distribution
    * EXACTLY — the wedge join's deg²/2 behavior is then measured at
    * N× customers with the same degree shape, which is the claim the
    * degree cap makes (a replica-overlapping scheme would instead
    * multiply degrees and measure the corruption, the same trap the
    * doc perturbation note describes). */
  private def replicateTri(spark: SparkSession, src: String,
                           dir: String, factor: Int): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val or = spark.read.parquet(s"$src/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val m = li.agg(max(col("l_orderkey")), max(col("l_suppkey"))).collect()(0)
    // order-key shift covers BOTH tables' key spaces: an order with no
    // lineitems can hold the max orderkey, and a shift derived from
    // lineitem alone would overlap replica key spaces there — the
    // cross-replica join matches that corrupt the degree-preservation
    // claim (ADVICE r16)
    val oMax = spark.read.parquet(s"$src/orders.parquet")
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val (oShift, sShift) = (math.max(m.getLong(0), oMax) + 1, m.getLong(1) + 1)
    val cShift = or.agg(max(col("o_custkey"))).collect()(0).getLong(0) + 1
    val reps = spark.range(factor).select(col("id").as("rep"))
    li.crossJoin(reps)
      .select((col("l_orderkey") + col("rep") * oShift).as("l_orderkey"),
        (col("l_suppkey") + col("rep") * sShift).as("l_suppkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    or.crossJoin(reps)
      .select((col("o_orderkey") + col("rep") * oShift).as("o_orderkey"),
        (col("o_custkey") + col("rep") * cShift).as("o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.get()

    val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(s => s -> s"/root/testdata/$s")
    val graphFams = Seq("graph_pagerank", "graph_communities",
      "graph_sssp", "graph_triangles")
    val xFams = Seq("kmeans_full", "kmeans_par_init",
      "dedup_prefix_join", "dedup_embed_cluster", "dedup_embed_lsh",
      "retrieval_bm25", "text_langid_nb", "ann_graph_search",
      "ann_knn_graph", "ann_index_build", "ann_index_append",
      "ann_index_compact", "ann_index_search", "pipeline_crawl_e2e",
      "graph_triangles", "pipeline_snapshot_dml_cycle",
      // r19 session 2: the loop kernels ride the same replicated
      // lineitem/orders as graph_triangles (tradeCs reads exactly the
      // pruned columns), and the x100 rung is where the partial-cap
      // overflow path binds for real (~1.6M nodes / 32 partitions
      // exceeds the 2^16 per-task combiner cap)
      "graph_pagerank", "graph_communities", "graph_sssp")

    // warmup: session + codegen paths
    SparkEntry.queries("km_sizes")(spark, sfDirs.last._2).count()

    val out = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, Double]]()
    def record(fam: String, point: String, sec: Double): Unit = {
      out.getOrElseUpdate(fam,
        scala.collection.mutable.LinkedHashMap[String, Double]())
        .put(point, sec)
      System.err.println(f"[ladder] $fam%-22s $point%-8s $sec%8.2f s")
    }

    // optional arg list selects points to (re)run (a point may carry a
    // family filter: "x100:fam1,fam2") — the full ladder takes over an
    // hour, so partial runs merge their JSONs offline
    // (scripts/merge_ladder.py), and running the heaviest families in
    // their own invocation means a crash never loses finished points.
    // The x100 rung reports a single warm run (not a median of 3):
    // its per-run times are large enough that scheduler noise is
    // amortized, and 2 runs instead of 4 halves a multi-hour rung.
    val wanted = args.map(_.split(":", 2)).map {
      case Array(p) => p -> Set.empty[String]
      case Array(p, fams) => p -> fams.split(",").toSet
    }.toMap
    def on(p: String) = wanted.isEmpty || wanted.contains(p)
    def onFam(p: String, fam: String) =
      wanted.get(p).forall(fs => fs.isEmpty || fs.contains(fam))

    for ((sfName, dir) <- sfDirs; fam <- graphFams
         if on(sfName) && onFam(sfName, fam))
      record(fam, sfName, timeQuery(spark, fam, dir, 3))

    val xPoints = Seq(1, 10, 100).filter(f => on(s"x$f"))
      .map(f => s"x$f" -> ladderDir(spark, "/root/testdata/sf0.1", f))
    for ((pName, dir) <- xPoints; fam <- xFams if onFam(pName, fam))
      record(fam, pName,
        timeQuery(spark, fam, dir, if (pName == "x100") 1 else 3))

    // last-step growth factor per family, normalized by the input
    // growth between the last two MEASURED rungs (a partial run can
    // skip a middle rung, making them 2+ decades apart): ~1.0 =
    // linear, >1 = super-linear
    val rungOrder = Seq("sf0.001", "sf0.01", "sf0.1", "x1", "x10", "x100")
    val growth = out.map { case (fam, pts) =>
      val keys = rungOrder.filter(pts.contains)
      // both endpoints positive, like the merge-script twin: a
      // non-positive newer rung would NaN the fractional power
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
    val json = "{" +
      s""""points": ${out.map { case (f, p) =>
        s""""$f": ${m2j(p)}""" }.mkString("{", ", ", "}")}, """ +
      s""""growth_per_decade": ${m2j(growth)}, """ +
      s""""note": "graph_* ladders the driver SFs (events 1k/10k/100k); """ +
      """the x-families ladder perturbed x1/x10/x100 replications of """ +
      """sf0.1 (docs 5k/50k/500k, vectors 2k/20k/200k) because the """ +
      """driver's documents/embeddings tables barely grow across SFs. """ +
      """growth_per_decade ~ 1.0 = linear in the input."}"""
    println(json)
    Caches.releaseAll(spark)
    spark.stop()
  }
}
