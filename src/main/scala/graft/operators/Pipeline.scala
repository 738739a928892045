package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches.TrackedDataset
import graft.Tables.t

/** End-to-end training-data curation pipeline — the composition the
  * individual operators exist for:
  *
  *   documents → quality gate → language gate → exact dedup (keep lowest
  *   doc_id per content hash) → per-source survivor stats
  *
  * One narrow pass computes both gates (no shuffle), the dedup is one
  * hash aggregation, the report one more — three stages total at any
  * scale, with the gates fused into the scan-side of the dedup shuffle
  * (filters run before data moves).
  */
object Pipeline {

  val MinTokens = 20
  val MaxStopRatio = 0.3

  /** THE quality/language gate — single definition consumed by
    * [[pipelineFilter]]: tokenize, derive n_tokens /
    * stop_ratio, keep docs with enough tokens, low stopword ratio and
    * lang = en. Entirely narrow (no shuffle). */
  def gate(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(filter(col("toks"),
          x => x.isInCollection(TextAnalysis.Stopwords))).cast("double") /
          col("n_tokens"))
      .where(col("n_tokens") >= MinTokens &&
        col("stop_ratio") <= MaxStopRatio && col("lang") === "en")

  /** Survivor counts and volume per source after the full gate+dedup
    * chain. */
  def pipelineFilter(spark: SparkSession, dir: String): DataFrame = {
    val gated = gate(t(spark, dir, "documents"))
    val deduped = gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    // avg as ONE double division of two exact integers — `avg(int)` sums
    // doubles in partition order (last-ulp nondeterminism vs DuckDB's
    // exact average, which flipped a round(…,6) boundary in r1).
    gated.join(deduped, gated("doc_id") === deduped("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1)))
          .as("avg_tokens"))
  }

  /** Benchmark decontamination — the overlap check every training
    * pipeline runs before export: corpus documents sharing any 3-gram
    * shingle with the "evaluation set" (deterministically designated
    * here as doc_id % 97 == 0; a real run joins against the benchmark's
    * published n-gram index). The eval side is tiny by nature, so it
    * BROADCASTS and the corpus never shuffles — one explode + one
    * broadcast equi-join on the shingle + one aggregation, at any
    * corpus size. Emits, per contaminated doc, how many eval docs it
    * hits and on how many distinct shingles. */
  def pipelineDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (sh, ev) = shingleSides(spark, dir)
    sh.join(broadcast(ev),
        col("s") === col("e_s") && col("doc_id") =!= col("e_id"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("e_id")).as("n_eval_docs"),
        countDistinct(col("s")).as("n_shared_shingles"))
  }

  /** GRADED CONTAMINATION SCORING — the GPT-3/PaLM-style refinement
    * of [[pipelineDecontaminate]]'s binary hit list: per corpus doc,
    * the FRACTION of its distinct shingles found in the eval set,
    * banded into reject (≥ 50%) / flag (any overlap) / clean. A
    * binary gate treats a quotation the same as a verbatim eval copy;
    * the graded score is what lets a pipeline drop the copies and
    * keep (but audit) the incidental overlaps. Same broadcast shape:
    * the eval shingle set is tiny and broadcasts, the corpus pays one
    * explode + one distinct-count aggregation — the denominator and
    * the hit count ride the same per-doc key, no extra corpus pass.
    * Eval docs themselves score 1.0 and band reject, by design —
    * training on the benchmark is the worst contamination of all. */
  def pipelineDecontaminateOverlap(spark: SparkSession,
                                   dir: String): DataFrame = {
    val (sh, ev) = shingleSides(spark, dir)
    val tot = sh.groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shingles"))
    val hits = sh
      .join(broadcast(ev.select(col("e_s")).distinct()),
        col("s") === col("e_s"))
      .groupBy(col("doc_id")).agg(countDistinct(col("s")).as("n_hit"))
    val frac = round(
      coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"), 6)
    tot.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        frac.as("overlap_frac"),
        when(frac >= 0.5, lit("reject"))
          .when(frac > 0.0, lit("flag"))
          .otherwise(lit("clean")).as("band"))
  }

  /** Prompt buckets for [[pipelinePrefPairs]] — deterministic stand-in
    * for "responses to the same prompt". */
  val PrefBuckets = 50L

  /** PREFERENCE-PAIR CONSTRUCTION — the DPO/RLHF data-prep op: within
    * each prompt bucket, the highest-quality document becomes
    * `chosen` and the lowest `rejected` (quality = distinct-token
    * ratio, the repetition signal, 6dp-rounded; ties break to the
    * smaller doc_id on BOTH ends so the pair is deterministic).
    * Buckets whose extremes coincide (one doc, or all scores equal)
    * emit nothing — a pair with no margin carries no training signal.
    * One narrow projection + one grouped min/max of (score, id)
    * structs: a single bucket-keyed aggregation at any corpus size,
    * never a self-join. */
  def pipelinePrefPairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), (col("doc_id") % PrefBuckets).as("bucket"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 6).as("score"))
    scored.groupBy(col("bucket"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("c"),
        min(struct(col("score"), col("doc_id").as("id"))).as("r"))
      .select(col("bucket"),
        (-col("c.nid")).as("chosen_id"), col("r.id").as("rejected_id"),
        col("c.score").as("chosen_score"), col("r.score").as("rejected_score"),
        round(col("c.score") - col("r.score"), 6).as("margin"))
      .where(col("chosen_id") =!= col("rejected_id"))
  }

  /** Corpus/eval shingle sides shared by the exact and bloom-pruned
    * decontamination variants. */
  private def shingleSides(spark: SparkSession,
                           dir: String): (DataFrame, DataFrame) = {
    val sh = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingleCol(col("toks"), 3))).as("s"))
    (sh, sh.where(col("doc_id") % 97 === 0)
      .select(col("s").as("e_s"), col("doc_id").as("e_id")))
  }

  /** Decontamination with a BLOOM-FILTER pre-prune — the shape for when
    * the eval index outgrows the broadcast-join regime
    * ([[pipelineDecontaminate]]'s premise): build a bloom filter over
    * the eval shingle hashes with Spark's own runtime-filter aggregate
    * (`BloomFilterAggregate`, the expression `InjectRuntimeFilter`
    * plants under AQE), then cut the CORPUS side with
    * `BloomFilterMightContain` BEFORE any data moves. The bloom is a
    * few MB for millions of eval shingles regardless of corpus size, so
    * the corpus-sized shuffle into the confirm join carries only the
    * ~overlap instead of every shingle — at 100 TB that is the
    * difference between shuffling the corpus and shuffling the
    * contamination. False positives survive the prune but die in the
    * exact equi-join, so the result is bit-identical to the exact
    * variant (same oracle); the spec pins both that identity and that
    * the prune sits below the join in the physical plan. */
  def pipelineDecontaminateBloom(spark: SparkSession,
                                 dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression, logicalPlan}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val (sh, ev) = shingleSides(spark, dir)
    // the serialized bloom is the "published benchmark index" artifact
    // of a real run. It reaches the prune as an UNCORRELATED SCALAR
    // SUBQUERY — the exact shape Spark's own InjectRuntimeFilter
    // plants — not as a collected driver literal: a megabyte-sized
    // BinaryType literal is re-hashed by every plan canonicalization
    // and re-shipped inside every task binary (measured at sf0.1:
    // 2.06 s wall / 0.97 s planning gap with the literal, the bloom
    // bytes dominating both), while the subquery materializes once at
    // execution start, after planning, and costs the plan tree only a
    // plan-reference node
    val bloomAgg = ev.select(column(new BloomFilterAggregate(
        expression(xxhash64(col("e_s"))), 1L << 20)
      .toAggregateExpression()).as("bf"))
    val pruned = sh.where(column(BloomFilterMightContain(
      ScalarSubquery(logicalPlan(bloomAgg)),
      expression(xxhash64(col("s"))))))
    pruned.join(ev, col("s") === col("e_s") && col("doc_id") =!= col("e_id"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("e_id")).as("n_eval_docs"),
        countDistinct(col("s")).as("n_shared_shingles"))
  }

  val MixCapPerStratum = 5

  /** Data mixing with per-stratum quality caps — the export-side
    * sampling step: score every document (type-token ratio here; any
    * deterministic scorer slots in), keep the top `MixCapPerStratum`
    * per (source, lang) stratum, report the selected mix. The window
    * partitions BY the stratum, so each partition ranks only its own
    * rows — no global sort — and the rank orders by the ROUNDED score
    * with a doc_id tie-break so both engines rank identically. */
  def pipelineMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = t(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("score",
        round(size(array_distinct(col("toks"))).cast("double") /
          col("n_toks"), 6))
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= MixCapPerStratum)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("n_toks")).cast("long").as("sel_tokens"),
        max(col("score")).as("best_score"),
        min(col("score")).as("worst_score"))
  }

  /** TEMPERATURE-SMOOTHED SOURCE MIXING — the Pile/DoReMi-style
    * re-weighting step: raw per-source shares are flattened through
    * weight ∝ n^0.5 (temperature 2 in the τ-exponent 1/τ convention),
    * boosting tail sources against a dominant crawl. One hash
    * aggregation on `source` produces the per-source counts; the
    * totals ride back as a broadcast 1-row aggregate. EVERY share
    * reads out as integer micro-units derived from an
    * integer-exact chain: n is an exact count, sw_micros =
    * round(sqrt(n)·1e6) is deterministic cross-engine because IEEE
    * sqrt is CORRECTLY rounded (unlike exp/ln), the totals are exact
    * integer sums, and each share division is exact-integer-over-
    * exact-integer whose half-way cases are dyadic-exact — so the
    * whole readout is parity-safe with zero float-summation exposure. */
  val TempShareScale = 1000000L

  def pipelineSourceTemperature(spark: SparkSession, dir: String): DataFrame =
    sourceTemperatureOf(t(spark, dir, "documents"))

  /** Core of [[pipelineSourceTemperature]] over any (doc_id, source,
    * n_chars) frame. */
  def sourceTemperatureOf(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .withColumn("sw_micros",
        round(sqrt(col("n_docs").cast("double")) * lit(1e6d)).cast("long"))
    val tot = per.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("sw_micros")).as("tot_sw"))
    per.crossJoin(broadcast(tot))
      .withColumn("raw_share_micros",
        round(col("n_docs") * lit(TempShareScale) / col("tot_docs"))
          .cast("long"))
      .withColumn("temp_share_micros",
        round(col("sw_micros") * lit(TempShareScale) / col("tot_sw"))
          .cast("long"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("raw_share_micros"), col("temp_share_micros"),
        round(col("temp_share_micros") * lit(TempShareScale)
          / col("raw_share_micros")).cast("long").as("boost_micros"))
  }

  val DiverseQuota = 25

  /** EMBEDDING-STRATIFIED DIVERSITY SAMPLE — curation that preserves
    * coverage of the embedding space instead of letting the dominant
    * mode swamp the sample: every vector routes to its k-means cell
    * (the engine's own coarse quantizer — the IVF assignment reused as
    * strata), then each cell keeps [[DiverseQuota]] survivors in
    * deterministic content-hash order (domain-separated md5 — the
    * split/wsample pattern, so the pick is replayable and independent
    * of scan order). The window partitions BY CELL — no global sort —
    * and at 100 TB this is the assignment projection plus one
    * partitioned rank: the same cost as one IVF routing pass. */
  def pipelineDiverseSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = KMeansQueries.coarseCentroids(spark, dir)
    val assigned = CellRouting.assign(
      Similarity.emb(spark, dir), "v", cents)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("skey"), col("vec_id"))
    assigned
      .withColumn("skey",
        conv(substring(md5(concat(lit("diverse:"),
          col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= DiverseQuota)
      .select(col("cluster"), col("rn"), col("vec_id"), col("skey"))
  }

  /** TOKEN-BUDGET SAMPLER — the "fill N tokens from each source" step
    * a pretraining mixture is actually materialized with (Chinchilla
    * budgets × DoReMi weights end in exactly this cut): documents are
    * taken per source in deterministic content-hash order (the
    * split/wsample domain-separated md5, replayable and scan-order
    * independent) until the source's token budget is exhausted — the
    * GREEDY PREFIX rule (first doc whose cumulative count exceeds the
    * budget stops the source; no knapsack back-fill), so membership is
    * a pure function of (hash order, token counts). The budget here is
    * half the source's own token total — it BINDS at every scale, so
    * the cut path is exercised at sf0.001 and 100 TB alike; a real run
    * would broadcast absolute per-source budgets instead. Cost shape:
    * one narrow token-count projection, one O(sources) aggregate
    * broadcast back, one source-partitioned running sum — no global
    * sort, output O(sources) with an exact kept-id checksum audit. */
  def pipelineTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOf(t(spark, dir, "documents"))

  /** Core of [[pipelineTokenBudget]] over any (doc_id, source, text)
    * frame. */
  def tokenBudgetOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      conv(substring(md5(concat(lit("budget:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        .as("skey"))
    val budgets = d.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("tot_toks"))
      .withColumn("budget", expr("tot_toks DIV 2"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(budgets), Seq("source"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .where(col("cum") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("cum")).as("tokens_kept"),
        max(col("budget")).as("budget"),
        sum(col("doc_id")).as("kept_ids_sum"))
  }

  /** DATASET CARD — the per-source summary a curation run publishes
    * with its output (the "data card" convention): document and
    * character volume, language mix (count, dominant language with
    * deterministic tie-break, Shannon entropy of the language
    * distribution — the mix-diversity number dataset cards quote).
    * One hash aggregation on (source, lang), then source-partitioned
    * windows (never global) and one rollup to O(sources) rows.
    * Entropy follows the rarity-filter float rule: per-language
    * −ln(p) rounds to integer micro-nats, the Σ c·term sum is exact
    * integer, and ONE final division + round produces the readout. */
  def pipelineDatacard(spark: SparkSession, dir: String): DataFrame =
    datacardOf(t(spark, dir, "documents"))

  /** Core of [[pipelineDatacard]] over any (source, lang, n_chars)
    * frame. */
  def datacardOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sl = docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("chars"))
    val wN = Window.partitionBy(col("source"))
    val wR = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("lang"))
    sl.withColumn("n", sum(col("c")).over(wN))
      .withColumn("term",
        col("c") * round(-log(col("c") / col("n")) * lit(1e6d)).cast("long"))
      .withColumn("rn", row_number().over(wR))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        sum(col("chars")).cast("long").as("total_chars"),
        count(lit(1)).as("n_langs"),
        max(when(col("rn") === 1, col("lang"))).as("dominant_lang"),
        round(sum(col("term")) / max(col("n"))).cast("long")
          .as("entropy_micros"))
  }

  val NShards = 16

  /** Content-addressed shard key: first 7 md5 hex chars (28 bits —
    * BIGINT-safe in both engines) mod [[NShards]]. Content-addressed so
    * byte-identical documents land on the same shard no matter where
    * they were scanned — shard-local exact dedup stays exact. */
  def shardCol(text: Column): Column =
    conv(substring(md5(text), 1, 7), 16, 10).cast("long") % NShards

  /** Deterministic export sharding — the step that turns a curated
    * corpus into N equal-ish training files. One hash aggregation on
    * the shard key (the same shuffle the export write itself would
    * do), reporting balance per shard: doc count, char volume, and
    * lang/source spread. At 100 TB the shard key IS the write
    * partition — no extra pass. */
  def pipelineShard(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(shardCol(col("text")).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("shard_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))

  val ContextLen = 2048

  /** Context-window packing — concatenate each shard's documents in
    * doc_id order and chop the token stream into [[ContextLen]]-token
    * windows (the GPT-style "concat then chunk" batching step). A doc
    * belongs to the chunk where its first token lands, so the whole
    * assignment is ONE running-total window per shard (each window
    * partition is a shard — no global sort) plus a hash aggregation.
    * Emits per (shard, chunk) the docs started and their token mass. */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame =
    packOf(t(spark, dir, "documents"))

  /** Core of [[pipelinePack]] over any (doc_id, text) frame. */
  def packOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), shardCol(col("text")).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_toks")) / ContextLen))
      .groupBy(col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("started_tokens"))
  }

  val EpochSeed = "epoch7"
  val EpochShards = 8

  /** SEEDED EPOCH SHUFFLE — the "global random shuffle" every training
    * export needs, without a global sort: the permutation key is a
    * portable hash of (seed, doc_id), the shard is the key mod
    * [[EpochShards]], and the within-shard order is (key, doc_id) —
    * one row_number window per shard partition. Reading shards
    * round-robin replays a uniform seeded permutation of the corpus;
    * changing [[EpochSeed]] per epoch re-deals both shard membership
    * and order with zero state carried between epochs. At 100 TB the
    * plan is ONE exchange on the shard key plus each writer task
    * sorting only its own shard — the sort never crosses tasks, so the
    * operator scales with the widest shard, not the corpus. The hash
    * is the engine-portable md5 idiom (28 bits, BIGINT-safe in both
    * engines; swap for xxhash64 in production where oracle parity is
    * not needed), tie-broken by doc_id so the order is total even
    * under hash collisions. */
  def pipelineEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit(s"shuf:$EpochSeed:"),
      col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    t(spark, dir, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", col("h") % EpochShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Blocklist of registrable domains — an entry blocks the domain
    * itself and every subdomain under it (the UT1/SafeSearch rule
    * crawl curation actually applies), never a substring of a longer
    * host. Shared by the operator and its oracle so the two engines
    * cannot drift. */
  val UrlBlocklist = Seq("cdn4.example.com", "blog.net", "tracker.org")

  /** DOMAIN-BLOCKLIST URL FILTER — the crawl-curation gate that runs
    * before any text ever downloads. Suffix semantics ("blog.net"
    * blocks "site3.blog.net" but NOT "site3.notblog.net") are made
    * EQUI-joinable by exploding each host into its label-suffix chain
    * (media.cdn4.example.com → media.cdn4.example.com,
    * cdn4.example.com, example.com — the bare TLD is never emitted, so
    * a blocklist can't accidentally match a whole TLD): the chain is
    * bounded by label depth (≤5 in practice), and the match is one
    * broadcast equi join against the blocklist — no LIKE scan, no
    * nested-loop join, which is what a naive `endswith` predicate
    * would force at 100 TB against a multi-million-entry blocklist.
    * Hosts are synthesized from doc_id (the corpus carries none — the
    * mm_wav/text_pii technique), including a `notblog.net` family as
    * the suffix-vs-substring witness. Emits the full audit relation:
    * every doc, its host, the most specific blocking entry (min =
    * longest among our entries' matches is irrelevant — min is just
    * the deterministic pick), and the kept flag. */
  def pipelineUrlFilter(spark: SparkSession, dir: String): DataFrame = {
    val x = expr("(doc_id DIV 4) % 10").cast("string")
    val host = when(col("doc_id") % 4 === 0,
        concat(lit("cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("media.cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("site"), x, lit(".blog.net")))
      .otherwise(concat(lit("site"), x, lit(".notblog.net")))
    urlFilterOf(
      t(spark, dir, "documents").select(col("doc_id"), host.as("host")),
      UrlBlocklist)
  }

  /** Core of [[pipelineUrlFilter]] over any (doc_id, host) frame. */
  def urlFilterOf(hosts: DataFrame, blocklist: Seq[String]): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    val bl = blocklist.toDF("entry")
    val labels = split(col("host"), "\\.")
    // single-label hosts ("localhost") emit NO suffix: sequence(0,-1)
    // would produce the DESCENDING [0,-1] and slice(labels, 0, …)
    // throws (array indices start at 1) — one malformed crawl host
    // must not fail the batch. Empty chain ⇒ no match ⇒ host kept,
    // the oracle's generate_series(1,0)-is-empty behavior.
    val sufs = hosts.select(col("doc_id"),
      explode(when(size(labels) >= 2,
          transform(sequence(lit(0), size(labels) - 2),
            i => concat_ws(".", slice(labels, i + 1, size(labels) - i))))
        .otherwise(array().cast("array<string>")))
        .as("suffix"))
    val matches = sufs.join(broadcast(bl), col("suffix") === col("entry"))
      .groupBy(col("doc_id")).agg(min(col("entry")).as("blocked_by"))
    hosts.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"), col("blocked_by"),
        col("blocked_by").isNull.as("kept"))
  }

  /** One parsed robots.txt group: the user-agents it names and its
    * path rules / crawl-delay. */
  final case class RobotsGroup(agents: Seq[String],
                               rules: Seq[(String, Boolean)], delay: Int)

  /** Minimal-correct robots.txt parser (the REP grammar subset crawl
    * stacks actually honor): `#` comments stripped, keys
    * case-insensitive, consecutive `User-agent` lines stack onto one
    * group, a `User-agent` after rules starts the next group, unknown
    * directives ignored. Pure function — unit-testable off-cluster,
    * applied once per DISTINCT host. */
  def parseRobots(text: String): Seq[RobotsGroup] = {
    val groups = scala.collection.mutable.ArrayBuffer[RobotsGroup]()
    var agents = Vector[String]()
    var rules = Vector[(String, Boolean)]()
    var delay = 0
    var inRules = false
    var open = false
    def close(): Unit = {
      if (open) groups += RobotsGroup(agents, rules, delay)
      agents = Vector(); rules = Vector(); delay = 0
      inRules = false; open = false
    }
    for (raw <- text.split("\n")) {
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) close()
            agents :+= value.toLowerCase; open = true
          case "disallow" if open =>
            if (value.nonEmpty) rules :+= (value, false); inRules = true
          case "allow" if open =>
            if (value.nonEmpty) rules :+= (value, true); inRules = true
          case "crawl-delay" if open =>
            delay = value.toIntOption.getOrElse(0); inRules = true
          case _ => () // sitemap + unknown directives: ignored
        }
      }
    }
    close()
    groups.toSeq
  }

  /** The group a given bot obeys: its own named group if any host
    * group names it, else the `*` group, else nothing (everything
    * allowed). */
  def robotsGroupFor(groups: Seq[RobotsGroup],
                     bot: String): Option[RobotsGroup] =
    groups.find(_.agents.contains(bot.toLowerCase))
      .orElse(groups.find(_.agents.contains("*")))

  /** The crawler identity the gate evaluates. */
  val RobotsBot = "graftbot"

  /** ROBOTS.TXT CRAWL GATE — the policy check a crawler runs before
    * any fetch: per host, ONE robots.txt (synthesized here
    * deterministically — media hosts carry a graftbot-specific group
    * with `Disallow: /` + `Allow: /public`, everything else a `*`
    * group with nested private/allow-override rules, a host-varying
    * tmp rule, comments and mixed-case directives to exercise the
    * parser); per URL, the REP decision: LONGEST matching rule wins,
    * Allow beats Disallow at equal length, no match ⇒ allowed.
    * Shape: the parser runs once per DISTINCT host (a driver-scale
    * relation — the web has ~10⁸ hosts, not 10¹² pages), rules
    * explode to a few rows per host and BROADCAST; the URL side pays
    * one prefix-predicate join against that bounded build and one
    * per-doc struct max — the corpus never shuffles. The oracle
    * computes every verdict CLOSED-FORM from doc_id arithmetic, so a
    * corruption in any layer (synthesis, parse, group choice, match
    * rule, tie-break, default) breaks the match. */
  def pipelineRobots(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val x = expr("(doc_id DIV 4) % 10").cast("string")
    val host = when(col("doc_id") % 4 === 0,
        concat(lit("cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("media.cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("site"), x, lit(".blog.net")))
      .otherwise(concat(lit("site"), x, lit(".notblog.net")))
    val m = col("doc_id") % 5
    val path = when(m === 0, concat(lit("/private/ok/p"), col("doc_id")))
      .when(m === 1, concat(lit("/private/p"), col("doc_id")))
      .when(m === 2, concat(lit("/tmp"), x, lit("/f")))
      .when(m === 3, concat(lit("/public/p"), col("doc_id")))
      .otherwise(lit("/other"))
    val urls = t(spark, dir, "documents")
      .select(col("doc_id"), host.as("host"), path.as("path"))
    robotsVerdicts(urls, parseRobotsRelation(robotsFixture(
      urls.select(col("host")).distinct())))
  }

  /** The deterministic robots.txt corpus over a (host) frame — media
    * hosts carry a [[RobotsBot]]-specific group, everything else only
    * the `*` group; comments, mixed-case directives and a Sitemap
    * line exercise the parser. */
  def robotsFixture(hosts: DataFrame): DataFrame =
    hosts.select(col("host"),
        (col("host").startsWith("media.")).as("botGroup"),
        regexp_extract(col("host"), "(\\d+)", 1).as("hx"))
      .select(col("host"),
        concat_ws("\n",
          lit("# synthetic robots fixture"),
          lit("User-Agent: *"),
          lit("Disallow: /private"),
          lit("ALLOW: /private/ok"),
          concat(lit("disallow: /tmp"), col("hx"), lit(" # host tmp")),
          concat(lit("Crawl-delay: "), col("hx").cast("int") % 5),
          concat(lit("Sitemap: https://"), col("host"), lit("/sitemap.xml")),
          when(col("botGroup"),
            concat_ws("\n", lit(""), lit(s"User-agent: $RobotsBot"),
              lit("Disallow: /"), lit("Allow: /public"),
              lit("Crawl-delay: 1"))).otherwise(lit("")))
          .as("robots"))

  /** Parse a (host, robots-text) relation into the per-host rule/
    * delay artifact [[robotsVerdicts]] consumes — run ONCE per
    * distinct host and persisted by real deployments (the crawl
    * frontier re-reads it per batch, the robots corpus changes
    * slowly). */
  def parseRobotsRelation(robots: DataFrame): DataFrame = {
    val spark2 = robots.sparkSession
    import spark2.implicits._
    robots.as[(String, String)].map { case (h, txt) =>
      val g = robotsGroupFor(parseRobots(txt), RobotsBot)
      (h, g.map(_.rules).getOrElse(Seq.empty),
        g.map(_.delay).getOrElse(0))
    }.toDF("r_host", "rules", "crawl_delay")
  }

  /** REP decision over any (doc_id, host, path) frame against a
    * parsed rules artifact: longest match wins, Allow beats Disallow
    * at ties, no match ⇒ allowed. Rules broadcast; one host-keyed
    * hash join with the prefix residual + one per-doc struct max. */
  def robotsVerdicts(urls: DataFrame, parsed: DataFrame): DataFrame = {
    val ruleRows = parsed
      .select(col("r_host"), explode(col("rules")).as("r"))
      .select(col("r_host"), col("r._1").as("rpath"),
        col("r._2").as("rallow"))
    val matched = urls
      .join(broadcast(ruleRows),
        col("host") === col("r_host") && col("path").startsWith(col("rpath")))
      .groupBy(col("doc_id"))
      .agg(max(struct(length(col("rpath")).as("l"),
        col("rallow").as("a"), col("rpath").as("p"))).as("best"))
      .select(col("doc_id").as("m_id"), col("best.a").as("m_allow"),
        col("best.p").as("matched_rule"))
    urls
      .join(matched, col("doc_id") === col("m_id"), "left")
      .join(broadcast(parsed.select(col("r_host"), col("crawl_delay"))),
        col("host") === col("r_host"), "left")
      .select(col("doc_id"), col("host"), col("path"),
        coalesce(col("m_allow"), lit(true)).as("allowed"),
        col("matched_rule"),
        coalesce(col("crawl_delay"), lit(0)).as("crawl_delay"))
  }

  /** DUPLICATION PROFILE — the datacard metric next to the dedup
    * operators themselves: the corpus's exact-duplicate group-size
    * HISTOGRAM (how many clusters of 1, 2, 3… identical docs exist),
    * with the doc and character volume each size class wastes.
    * Curation teams read this to pick a dedup policy (a corpus whose
    * waste sits in pairs needs different handling than one with a
    * thousand-copy boilerplate cluster). Two hash aggregations —
    * content hash then group size — nothing pairwise, scan-bandwidth
    * at any corpus size. Identical texts have identical n_chars, so
    * per-group waste is (size−1)·n_chars exactly. */
  def pipelineDupStats(spark: SparkSession, dir: String): DataFrame =
    dupStatsOf(t(spark, dir, "documents"))

  /** Core of [[pipelineDupStats]] over any (text, n_chars) frame —
    * exposed for the crafted-duplication fixture spec (the synthetic
    * corpus happens to be duplicate-free, so its histogram is the
    * single dup_count=1 row; the spec plants real clusters). */
  def dupStatsOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("sz"), min(col("n_chars")).as("c1"))
      .groupBy(col("sz").as("dup_count"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_excess_docs"),
        sum((col("sz") - 1) * col("c1")).as("chars_wasted"))

  val SplitBuckets = 20

  /** Train/val/test split (18/1/1 buckets by doc_id hash) WITH the
    * leakage witness: splitting on doc_id — the common shortcut — lets
    * NEAR-duplicate documents straddle splits, contaminating eval. A
    * doc is "leaked" when any of its MinHash-LSH candidate partners
    * ([[Dedup.dedupMinhash]] — the same signatures, persisted once)
    * landed in a different split. The pair set is linear in corpus
    * size (LSH-bucketed, never all-pairs), the split lookup joins are
    * equi-keyed on doc id, and the final report is one hash agg — so
    * the witness costs one LSH pass + two hash joins at any scale. A
    * leakage-free pipeline splits near-dup CLUSTERS, not docs; the
    * nonzero n_leaked column is the point. */
  def pipelineSplit(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = t(spark, dir, "documents")
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
          1, 7), 16, 10).cast("long") % SplitBuckets)
      .withColumn("split",
        when(col("bucket") < SplitBuckets - 2, "train")
          .when(col("bucket") === SplitBuckets - 2, "val")
          .otherwise("test"))
    val pairs = Dedup.dedupMinhash(spark, dir)
    val edges = pairs.select(col("doc_a").as("d"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
    val splits = withSplit.select(col("doc_id"), col("split"))
    val leaky = edges
      .join(splits.select(col("doc_id").as("d"), col("split").as("s_d")), "d")
      .join(splits.select(col("doc_id").as("o"), col("split").as("s_o")), "o")
      .where(col("s_d") =!= col("s_o"))
      .select(col("d").as("leak_id")).distinct()
    withSplit.join(leaky, col("doc_id") === col("leak_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("split_chars"),
        sum(when(col("leak_id").isNotNull, 1L).otherwise(0L)).as("n_leaked"))
  }

  /** GROUP-AWARE (leakage-free) SPLIT — the repair
    * [[pipelineSplit]]'s doc comment promises ("a leakage-free
    * pipeline splits near-dup CLUSTERS, not docs"): the split hash is
    * taken over each document's near-dup COMPONENT representative
    * ([[Dedup.dedupComponents]] — the same LSH pair relation, closed
    * transitively; singletons represent themselves), so every member
    * of a duplicate cluster lands in the same split BY CONSTRUCTION
    * and the same leakage audit that indicts the naive split must
    * read zero. The component relation is linear (LSH-bucketed pairs,
    * O(log D) pointer-jump rounds), the representative lookup is one
    * equi join, and the audit is the identical two-join + hash-agg
    * report — same scale posture as the naive split, with the
    * n_leaked column proving the fix rather than the bug. */
  def pipelineSplitGrouped(spark: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.dedupComponents(spark, dir)
    val withSplit = t(spark, dir, "documents")
      .join(comp, col("doc_id") === col("doc"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("gsplit:"), col("rep").cast("string"))),
          1, 7), 16, 10).cast("long") % SplitBuckets)
      .withColumn("split",
        when(col("bucket") < SplitBuckets - 2, "train")
          .when(col("bucket") === SplitBuckets - 2, "val")
          .otherwise("test"))
    val pairs = Dedup.dedupMinhash(spark, dir)
    val edges = pairs.select(col("doc_a").as("d"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
    val splits = withSplit.select(col("doc_id"), col("split"))
    val leaky = edges
      .join(splits.select(col("doc_id").as("d"), col("split").as("s_d")), "d")
      .join(splits.select(col("doc_id").as("o"), col("split").as("s_o")), "o")
      .where(col("s_d") =!= col("s_o"))
      .select(col("d").as("leak_id")).distinct()
    withSplit.join(leaky, col("doc_id") === col("leak_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("split_chars"),
        sum(when(col("leak_id").isNotNull, 1L).otherwise(0L)).as("n_leaked"))
  }

  /** Incremental ingest — the daily-batch admission check: a DELTA
    * slice (doc_id % 10 == 0 here; a real run reads yesterday's
    * partition) is screened against the BASE corpus before joining it.
    * Exact-dup via a content-hash left join (flag, not filter — the
    * report wants the rejected docs visible) and near-dup via the
    * SAME MinHash-LSH pair relation the dedup family maintains,
    * restricted to delta×base pairs. At scale the base side of the
    * hash joins is the existing fingerprint/signature index — the
    * delta never triggers a full-corpus rescan, which is the entire
    * point of incremental ingest. Emits one row per delta doc:
    * exact_dup flag, near-dup candidate count, admitted flag. */
  def pipelineIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val isDelta = col("doc_id") % 10 === 0
    val delta = docs.where(isDelta)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val baseHashes = docs.where(!isDelta)
      .select(md5(col("text")).as("h")).distinct()
      .withColumn("exact_hit", lit(1L))
    val pairs = Dedup.dedupMinhash(spark, dir)
    val crossPairs = pairs
      .select(col("doc_a").as("d"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
      .where(col("d") % 10 === 0 && col("o") % 10 =!= 0)
      .groupBy(col("d")).agg(count(lit(1)).as("n_near"))
    delta
      .join(baseHashes, Seq("h"), "left")
      .join(crossPairs, col("doc_id") === col("d"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_hit"), lit(0L)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near_dup"),
        when(col("exact_hit").isNull && col("n_near").isNull, 1L)
          .otherwise(0L).as("admitted"))
  }

  val WSampleK = 10

  /** WEIGHTED sampling per source stratum — the mixture-building
    * primitive [[pipelineMix]]'s fixed quotas don't cover: pick
    * [[WSampleK]] docs per source with inclusion probability
    * proportional to document length, via Efraimidis–Spirakis A-Res
    * made DETERMINISTIC. Each doc draws a reproducible uniform
    * u ∈ (0,1) from a domain-separated content hash (md5 of
    * "wsample:"+doc_id — the [[pipelineSplit]] idiom), and ranks by
    * the E–S key ln(u)/w (the monotone-log form of u^(1/w); w =
    * n_chars): the top-k by key IS a weighted-without-replacement
    * sample. One narrow projection derives the keys, the native
    * TopKPerKey heap cut keeps k rows per source on the map side, and
    * the only shuffle moves sources·k survivors — at 100 TB the sample
    * of a petabyte stratum costs one scan plus a k-row exchange.
    * Keys round to 9dp before ranking (tie-break doc_id) so both
    * engines rank identically despite libm's last-ulp ln drift. */
  def pipelineSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSample(t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")), WSampleK)

  /** Core of [[pipelineSampleWeighted]]: per-source E–S top-k over
    * (doc_id, source, n_chars). Exposed for the crafted-input spec. */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val keyed = docs
      .withColumn("h",
        conv(substring(md5(concat(lit("wsample:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .withColumn("u",
        (col("h") + lit(0.5d)) / lit(4294967296.0d))
      .withColumn("es_key", round(log(col("u")) / col("n_chars"), 9))
      .drop("h", "u")
    val cut = graft.plans.TopKPerKey.topKPerKey(keyed,
      Seq("source"), Seq("es_key" -> false, "doc_id" -> true), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("source"), col("rank"), col("doc_id"),
        col("n_chars"), col("es_key"))
  }

  /** SCD TYPE-2 history build — the warehouse-side operator every
    * curation pipeline needs once metadata starts changing under it:
    * collapse a per-key change stream (each customer's orders, ordered
    * by (o_orderdate, o_orderkey)) into validity intervals of the
    * tracked attribute (o_orderpriority), one row per consecutive run
    * of an unchanged value with [valid_from, valid_to) bounds, the
    * open current version flagged. Classic gaps-and-islands: lag()
    * marks run starts, a running sum numbers versions, one aggregation
    * folds runs to spans, lead() closes each span with its successor's
    * start. ALL THREE windows and the aggregation share the same
    * partition key, so the whole operator costs ONE exchange on
    * o_custkey at any scale — no self-join, no driver state; ties on
    * the change date break integer-exactly by order key. */
  def pipelineScd2(spark: SparkSession, dir: String): DataFrame =
    scd2Of(t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")))

  /** Core of [[pipelineScd2]] over any (o_custkey, o_orderkey,
    * o_orderdate, o_orderpriority)-shaped change stream. Exposed for
    * the crafted-input spec. */
  def scd2Of(src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val ver = src
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(wOrd))
      .withColumn("chg",
        (col("prev").isNull || col("prev") =!= col("o_orderpriority"))
          .cast("int"))
      .withColumn("version", sum(col("chg"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("int"))
    val spans = ver
      .groupBy(col("o_custkey"), col("version"), col("o_orderpriority"))
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val wVer = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    spans
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select(col("o_custkey"), col("version"), col("o_orderpriority"),
        col("valid_from"), col("valid_to"), col("n_orders"),
        col("is_current"))
  }

  /** MERGE/UPSERT — the Delta/Iceberg `MERGE INTO` shape as one FULL
    * OUTER equi join: a delta of per-customer spend (aggregated from
    * orders in integer CENTS so the sum is order-independent) merges
    * into the customer dimension; matched keys update the balance,
    * unmatched delta keys insert (late-arriving dimension rows,
    * synthesized at key + max(c_custkey) — a broadcast 1-row max, so
    * the insert key space stays disjoint from real customers at EVERY
    * scale factor; a fixed +5e6 offset collided from SF ≈ 34 and
    * silently turned inserts into updates), unmatched base keys pass
    * through.
    * The join is the only shuffle — at warehouse scale the base side
    * stays partition-local when bucketed by key, and the same plan is
    * what table formats execute under MERGE. Classification and the
    * new balance are pure projections; everything integer-exact. */
  def pipelineUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val maxKey = t(spark, dir, "customer")
      .agg(max(col("c_custkey")).as("max_ck"))
    val delta = t(spark, dir, "orders")
      .crossJoin(broadcast(maxKey))
      .select(
        when(col("o_custkey") % 97 === 0, col("o_custkey") + col("max_ck"))
          .otherwise(col("o_custkey")).as("d_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d_custkey"))
      .agg(sum(col("cents")).as("spend_cents"),
        count(lit(1)).as("n_orders"))
    base.join(delta, col("c_custkey") === col("d_custkey"), "full")
      .select(
        coalesce(col("c_custkey"), col("d_custkey")).as("custkey"),
        when(col("c_custkey").isNotNull && col("d_custkey").isNotNull,
          "update")
          .when(col("c_custkey").isNull, "insert")
          .otherwise("keep").as("action"),
        coalesce(col("bal_cents"), lit(0L)).as("old_bal_cents"),
        coalesce(col("spend_cents"), lit(0L)).as("spend_cents"),
        (coalesce(col("bal_cents"), lit(0L))
          + coalesce(col("spend_cents"), lit(0L))).as("new_bal_cents"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** Deterministic "next snapshot" mutation rule shared with the
    * oracle: doc_id ≡ 3 (mod 17) dropped, doc_id ≡ 5 (mod 11)
    * revised, doc_id ≡ 2 (mod 13) re-ingested under a fresh id
    * offset by the corpus size (the deltaCorpus closed-form trick). */
  private def datasetV2(v1: DataFrame): DataFrame = {
    val revised = v1.where(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 5,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
          .as("text"))
    val additions = v1
      .crossJoin(broadcast(v1.agg(count(lit(1)).as("n_v1"))))
      .where(col("doc_id") % 13 === 2)
      .select((col("doc_id") + col("n_v1")).as("doc_id"), col("text"))
    revised.unionByName(additions)
  }

  /** DATASET DIFF — the snapshot changelog every versioned training
    * corpus needs (the Delta/Iceberg table-history question asked of
    * plain parquet): classify every doc_id across two dataset versions
    * as added / removed / changed / unchanged by CONTENT HASH, never
    * by row position. The second version is derived in-plan by the
    * deterministic [[datasetV2]] rule so the oracle replays it
    * closed-form. Shape at 100 TB: both sides reduce to thin
    * (doc_id, md5) projections at the scan — the full outer join
    * hash-partitions on doc_id and moves 2 columns per row, never
    * document bodies; the status CASE is a codegen projection. */
  def pipelineDatasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val h1 = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val h2 = datasetV2(v1).select(col("doc_id"), md5(col("text")).as("h2"))
    h1.join(h2, Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** SNAPSHOT TIME-TRAVEL READ — the versioned write path
    * ([[graft.sources.SnapshotTable]]: immutable file sets + manifest
    * published by atomic rename) exercised end-to-end: build a
    * 3-commit history deterministically (v1 = even doc_ids, v2
    * appends the odd ones, v3 appends the re-ingested additions —
    * the [[pipelineUpsert]]/deltaCorpus id-offset trick), then read
    * EVERY version AFTER all commits through its manifest and report
    * per-version stats the oracle re-derives closed-form. A manifest
    * that leaked a later commit's files, double-listed a carried
    * file set, or resolved "latest" instead of the pinned version
    * shows as a count/sum mismatch on the EARLIER versions. The
    * build is gated on the final version being published (commits
    * are atomic, so a crashed partial build rebuilds from scratch);
    * the path embeds the corpus size so a changed corpus never
    * reuses stale history. */
  def pipelineSnapshotRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (root, _) = ensureSnapHistory(spark, dir)
    (1 to 3).map { v =>
      SnapshotTable.read(spark, root, v)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"),
          sum(length(col("text"))).as("sum_len"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_id"),
          col("sum_len"))
    }.reduce(_ unionByName _)
  }

  /** Build (idempotently) the canonical 3-commit append history the
    * snapshot read/changes queries share: v1 = even doc_ids, v2
    * appends the odds, v3 appends the mod-13 re-ingests under id+n.
    * Returns (table root, corpus size). Gated on the final version
    * being published — commits are atomic, so a crashed partial
    * build rebuilds from scratch; the n-keyed root never reuses
    * stale history for a changed corpus. */
  private def ensureSnapHistory(spark: SparkSession, dir: String)
      : (String, Long) = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snap_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(3)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 2 === 0))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 2 === 1))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")))
    }
    (root, n)
  }

  /** INCREMENTAL CHANGES SCAN — [[graft.sources.SnapshotTable.changes]]
    * over the shared 3-commit history: exactly the rows commits 2..3
    * added (the odds + the re-ingests), resolved from v3's manifest
    * `added_in` column without touching v1's file set. This is the
    * consume-only-the-delta pattern every incremental pipeline stage
    * needs at 100 TB (aggregate refresh, index ingest, feature
    * backfill); a leaked v1 row or a missed v3 set shows as a
    * count/sum mismatch against the closed-form oracle. */
  def pipelineSnapshotChanges(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (root, _) = ensureSnapHistory(spark, dir)
    SnapshotTable.changes(spark, root, 1, 3)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        sum(length(col("text"))).cast("long").as("sum_len"))
      .select(lit(1).as("from_version"), lit(3).as("to_version"),
        col("n_docs"), col("sum_id"), col("sum_len"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the [[pipelineSnapshotChanges]]
    * pattern driven to its conclusion: a MATERIALIZED per-bucket
    * aggregate kept current across the table's commit history by
    * folding ONLY each version's `changes()` delta into the running
    * state — the full table is read exactly once (v1); refreshes cost
    * the delta, which is how an aggregate over a 100 TB table stays
    * current without a nightly rescan. The fold is append-algebra
    * (counts and sums add), the exact class of aggregate incremental
    * view maintenance supports without retraction; the state merge is
    * a union + re-aggregate — distributed, never a driver-side map.
    * The DuckDB oracle recomputes the same buckets FROM SCRATCH over
    * the replayed final table, so a double-counted delta, a missed
    * window, or a leaked v1 re-read all surface as sum mismatches. */
  def pipelineSnapshotIncrAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (root, _) = ensureSnapHistory(spark, dir)
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy((col("doc_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_id"),
          sum(length(col("text"))).cast("long").as("sum_len"))
    var state = aggOf(SnapshotTable.read(spark, root, 1))
    for (v <- 2 to 3) {
      state = state
        .unionByName(aggOf(SnapshotTable.changes(spark, root, v - 1, v)))
        .groupBy(col("bucket"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_id")).cast("long").as("sum_id"),
          sum(col("sum_len")).cast("long").as("sum_len"))
    }
    state.select(col("bucket"), col("n_docs"), col("sum_id"), col("sum_len"))
  }

  /** MANIFEST DATA SKIPPING — [[graft.sources.SnapshotTable.readPruned]]
    * end-to-end: two commits range-partitioned on doc_id (ids below
    * the median, then ids at-or-above, both committed with
    * `statsKey = doc_id` so the manifest records each file set's
    * min/max), then a key-ranged read that must open ONLY the upper
    * set — dirs_read = 1 of 2, decided from O(file sets) manifest
    * rows with no data IO. The residual predicate is still applied
    * to the pruned frame (skipping is a conservative superset), so a
    * wrong prune that dropped live rows OR leaked low rows both
    * break the count/sum columns; a prune that stopped skipping
    * breaks dirs_read. */
  def pipelineSnapshotSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (root, _, half) = ensureSkipHistory(spark, dir)
    val pr = SnapshotTable.readPruned(spark, root, 2, half, Long.MaxValue)
    pr.df.where(col("doc_id") >= half)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"))
      .select(lit(pr.dirsTotal).as("dirs_total"),
        lit(pr.dirsRead).as("dirs_read"), col("n_docs"), col("sum_id"))
  }

  /** Build (idempotently) the 2-commit stats-keyed split history the
    * skipping queries share: v1 = doc_ids below n/2, v2 = the rest,
    * both committed with `statsKey = doc_id` so the manifest carries
    * disjoint [min,max] ranges and per-set key blooms. */
  private def ensureSkipHistory(spark: SparkSession, dir: String)
      : (String, Long, Long) = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val half = n / 2
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapskip_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(2)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") < half),
        statsKey = Some("doc_id"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") >= half),
        statsKey = Some("doc_id"))
    }
    (root, n, half)
  }

  /** PLAN-INTEGRATED SNAPSHOT SCAN — [[graft.sources.SnapshotSource]]
    * end-to-end: the same 2-commit stats-keyed table read through
    * `SnapshotTable.readIndexed` (a `HadoopFsRelation` over the
    * manifest-backed FileIndex), with the key-range predicate written
    * as a PLAIN `.where` — file-set pruning happens inside Spark's
    * planning, not via an imperative pruned-read call. The witness
    * that the skip actually happened rides the result itself:
    * `sets_read` counts the distinct `data/<set>` dirs among the
    * files the executed scan touched (`input_file_name()`), which is
    * 1 exactly when the below-half file set was never opened; the
    * count/sum columns pin that no rows were lost or leaked. */
  def pipelineSnapshotScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (root, _, half) = ensureSkipHistory(spark, dir)
    SnapshotTable.readIndexed(spark, root, 2, statsColumn = Some("doc_id"))
      .where(col("doc_id") >= half)
      // input_file_name() is non-deterministic — project it BEFORE the
      // aggregate (it must ride the scan row, not the agg argument)
      .withColumn("set_dir",
        regexp_extract(input_file_name(), "(data/[^/]+)/", 1))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        size(collect_set(col("set_dir"))).cast("long").as("sets_read"))
  }

  /** ROLLBACK — [[graft.sources.SnapshotTable.rollback]] end-to-end:
    * a 3-commit history whose v3 is a (bad) overwrite, rolled back to
    * v1 as a metadata-only v4. The oracle pins the semantics: v4's
    * rows are EXACTLY v1's (the evens), v3 stays readable (nothing
    * deleted), and the republished manifest carries v1's single file
    * set (sets = 1, no rewrite happened). */
  /** SHALLOW CLONE exercised end-to-end: commit evens to a private
    * source table, zero-copy clone it, then append the odds to the
    * SOURCE — the clone must still read exactly the evens (snapshot
    * isolation across roots: the clone's manifest references the v1
    * file set by absolute path and nothing else), while the source's
    * latest reads everything. Both sides report closed-form count +
    * id-sum witnesses; a clone that copied data, chased the source's
    * HEAD, or resolved dirs against the wrong root all move them. */
  def pipelineSnapshotClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val src = s"${graft.sources.Artifacts.root(spark)}/snapclone_src_${key}_n$n"
    val dst = s"${graft.sources.Artifacts.root(spark)}/snapclone_dst_${key}_n$n"
    if (!(SnapshotTable.latestVersion(spark, src).contains(2) &&
          SnapshotTable.latestVersion(spark, dst).contains(1))) {
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, src, docs.where(col("doc_id") % 2 === 0))
      SnapshotTable.cloneFrom(spark, src, dst)
      SnapshotTable.commit(spark, src, docs.where(col("doc_id") % 2 === 1))
    }
    def side(name: String, frame: DataFrame): DataFrame =
      frame.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"))
        .select(lit(name).as("side"), col("n_docs"), col("sum_id"))
    side("clone", SnapshotTable.readLatest(spark, dst))
      .unionByName(side("source", SnapshotTable.readLatest(spark, src)))
  }

  def pipelineSnapshotRollback(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snaprb_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(4)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 0))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 1))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")),
        append = false)
      SnapshotTable.rollback(spark, root, toVersion = 1)
    }
    val sets = SnapshotTable.numFileSets(spark, root, 4)
    val v3count = SnapshotTable.read(spark, root, 3).count()
    SnapshotTable.read(spark, root, 4)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"))
      .select(lit(4).as("version"), lit(sets).as("n_sets"),
        lit(v3count).as("n_docs_v3"), col("n_docs"), col("sum_id"))
  }

  /** BLOOM POINT-LOOKUP SKIPPING — [[graft.sources.SnapshotTable.readPoint]]
    * exercised where min/max ranges are USELESS by construction: the
    * evens and the odds each span essentially the whole doc_id range,
    * so a range-only pruner must read both file sets; the per-set key
    * bloom still cuts the odd probe key to the odd set alone —
    * dirs_read = 1 of 2, decided from manifest rows with zero data
    * IO. The probe (an odd id derived from n) and the returned row
    * are closed-form; a bloom that went lossy the WRONG way (false
    * negative) would zero the count columns, a pruner that stopped
    * working breaks dirs_read. */
  def pipelineSnapshotPoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val probe = 2L * (n / 4) + 1 // an odd id strictly inside [0, n)
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snappt_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(2)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 0),
        statsKey = Some("doc_id"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 1),
        statsKey = Some("doc_id"))
    }
    val pr = SnapshotTable.readPoint(spark, root, 2, probe)
    pr.df.where(col("doc_id") === probe)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("text_len"))
      .select(lit(pr.dirsTotal).as("dirs_total"),
        lit(pr.dirsRead).as("dirs_read"), col("n_docs"), col("text_len"))
  }

  /** SNAPSHOT COMPACTION — [[graft.sources.SnapshotTable.compact]]
    * end-to-end: a 3-commit append lineage (each commit one file
    * set) compacted into a single-set version 4. The oracle pins the
    * maintenance invariants: the set count drops 3 → 1, the ROWS are
    * exactly version 3's (compaction rewrites layout, never data),
    * and v3 itself stays readable (history is preserved; reclaiming
    * the old sets is [[graft.sources.SnapshotTable.expire]]'s job,
    * kept separate exactly as Iceberg separates rewrite_data_files
    * from expire_snapshots). Own root — the shared history root must
    * stay 3-version for the read/changes queries' rerun guards. */
  def pipelineSnapshotCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapcmp_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(4)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 0))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 1))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")))
      SnapshotTable.compact(spark, root)
    }
    val before = SnapshotTable.numFileSets(spark, root, 3)
    val after = SnapshotTable.numFileSets(spark, root, 4)
    SnapshotTable.read(spark, root, 4)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"))
      .select(lit(before).as("sets_before"), lit(after).as("sets_after"),
        col("n_docs"), col("sum_id"))
  }

  /** MERGE-ON-READ lifecycle as a hash-checkable query — the Iceberg
    * v2 / deletion-vector model end to end: v1 commits the corpus;
    * v2 is a MOR DELETE (doc_id ≡ 3 mod 7 — one tiny key vector, no
    * data rewrite); v3 a MOR UPSERT (≡ 5 mod 11 revised with
    * ` [rev2]`, ≡ 2 mod 13 re-ingested under id+n — one vector + one
    * small set, constant-time); v4 MATERIALIZES the vectors back into
    * clean data. The per-version aggregates pin the whole algebra: a
    * vector that leaks into an older version, a resurrected deleted
    * row, a duplicated upsert key, or a materialization that changes
    * values all break the hash (v4 must equal v3 exactly). */
  def pipelineSnapshotMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapmor_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(4)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs, statsKey = Some("doc_id"))
      SnapshotTable.deleteRows(spark, root,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
      val updates = docs.where(col("doc_id") % 11 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
        .unionByName(docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")))
      SnapshotTable.upsertMor(spark, root, updates, "doc_id")
      SnapshotTable.materializeDeletes(spark, root, "doc_id")
    }
    (1 to 4).map { v =>
      SnapshotTable.read(spark, root, v)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_id"),
          sum(length(col("text"))).cast("long").as("sum_len"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_id"),
          col("sum_len"))
    }.reduce(_ unionByName _)
  }

  /** CLUSTERED REWRITE as a hash-checkable query — the OPTIMIZE
    * maintenance op ([[graft.sources.SnapshotTable.rewriteSorted]])
    * witnessed end to end: three append commits each spanning the full
    * doc_id range (the append-lineage layout where min/max skipping
    * prunes NOTHING), then the rewrite into 4 disjoint key-range sets.
    * The output pins (a) sets read by a narrow range query BEFORE
    * (all 3 — the degenerate layout) and AFTER (1 of 4 — the point of
    * the op), and (b) count/sum of the range rows from the pruned
    * read, so a rewrite that lost or duplicated rows, or stats that
    * prune wrongly, all break the hash. */
  def pipelineSnapshotCluster(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapclu_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(4)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      // each commit spans the whole key range: round-robin thirds
      (0 until 3).foreach { c =>
        SnapshotTable.commit(spark, root,
          docs.where(col("doc_id") % 3 === c), statsKey = Some("doc_id"))
      }
      SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 4)
    }
    // strictly inside the first quarter-range set for dense 0..n-1 ids
    val (lo, hi) = (n / 8, n / 5)
    val before = SnapshotTable.readPruned(spark, root, 3, lo, hi)
    val after = SnapshotTable.readPruned(spark, root, 4, lo, hi)
    after.df.where(col("doc_id").between(lo, hi))
      .agg(count(lit(1)).as("n_range"),
        sum(col("doc_id")).cast("long").as("sum_range"))
      .select(lit(before.dirsRead).as("sets_read_before"),
        lit(before.dirsTotal).as("sets_total_before"),
        lit(after.dirsRead).as("sets_read_after"),
        lit(after.dirsTotal).as("sets_total_after"),
        col("n_range"), col("sum_range"))
  }

  /** Z-ORDER REWRITE + 2-D BOX SKIPPING as a hash-checkable query —
    * the multi-dimensional OPTIMIZE
    * ([[graft.sources.SnapshotTable.rewriteZorder]]) witnessed against
    * both degenerate layouts on one history: three round-robin
    * commits (every set spans both key ranges — nothing prunes), a
    * 1-D sort rewrite (tight on x, blind on y — the box still scans a
    * full x-stripe), then the Z-order rewrite into a 4×4 grid with
    * per-set min/max on BOTH keys. The second key is a deterministic
    * bijective scramble of doc_id (golden-ratio multiplier mod n, n
    * coprime to it), so both dimensions are dense [0,n) and the grid
    * geometry is closed-form: cell width w = (n-1)/4+1 for both
    * rewrites. The output pins sets-read AND rows-scanned for the
    * same box under all three layouts (3/3 · n rows → 1/4 · w rows →
    * 1/16 · |cell| rows — the Z-curve's 4× cut is the point), plus
    * exact count/sum over the box from the z-pruned read, so a
    * rewrite that lost rows, stats that prune wrongly, or a reader
    * that skips a matching set all break the hash. The box is shrunk
    * 3 keys inside its grid cell, so the residual filter after the
    * prune does real work (n_box < rows_scanned_z). */
  def pipelineSnapshotZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapzo_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(5)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id").cast("long") * lit(2654435761L) % lit(n))
            .as("y_key"),
          col("text"))
      (0 until 3).foreach { c =>
        SnapshotTable.commit(spark, root,
          docs.where(col("doc_id") % 3 === c), statsKey = Some("doc_id"))
      }
      SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 4)
      SnapshotTable.rewriteZorder(spark, root, "doc_id", "y_key",
        numSets = 16)
    }
    val w = (n - 1) / 4 + 1
    val (xLo, xHi, yLo, yHi) = (w + 3, 2 * w - 4, 2 * w + 3, 3 * w - 4)
    def box(v: Int) = SnapshotTable.readPrunedBox(spark, root, v,
      "doc_id", xLo, xHi, "y_key", yLo, yHi)
    val pre = box(3)    // round-robin layout: nothing prunes
    val srt = box(4)    // 1-D sorted: x prunes, y stats absent
    val zo = box(5)     // z-ordered: both dimensions prune
    zo.df.where(col("doc_id").between(xLo, xHi) &&
        col("y_key").between(yLo, yHi))
      .agg(count(lit(1)).as("n_box"),
        sum(col("doc_id")).cast("long").as("sum_box"))
      .select(
        lit(pre.dirsRead).as("sets_read_pre"),
        lit(pre.dirsTotal).as("sets_total_pre"),
        lit(pre.rowsScanned).as("rows_scanned_pre"),
        lit(srt.dirsRead).as("sets_read_sorted"),
        lit(srt.dirsTotal).as("sets_total_sorted"),
        lit(srt.rowsScanned).as("rows_scanned_sorted"),
        lit(zo.dirsRead).as("sets_read_z"),
        lit(zo.dirsTotal).as("sets_total_z"),
        lit(zo.rowsScanned).as("rows_scanned_z"),
        col("n_box"), col("sum_box"))
  }

  /** SCHEMA EVOLUTION across snapshot versions — the Iceberg
    * add-column semantic on [[graft.sources.SnapshotTable]]: v1
    * commits (doc_id, text) for even ids; v2 APPENDS the odd ids
    * carrying a NEW column `q_len` (deterministically length(text),
    * so the oracle replays it). Reading v1 after the evolution still
    * yields the ORIGINAL two-column schema (evolution is
    * per-version, not retroactive); reading v2 resolves the union
    * schema with q_len null-filled for the pre-evolution file set.
    * The per-version aggregate makes both facts hash-checkable: a
    * retroactive or leaked column shows as a nonzero v1 `n_with_q`,
    * a wrong null-fill as a v2 count/sum mismatch. Reruns reuse the
    * published history (commits are atomic; the n-keyed root ties it
    * to the corpus). */
  def pipelineSnapshotEvolve(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapevo_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(2)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 0))
      SnapshotTable.commit(spark, root,
        docs.where(col("doc_id") % 2 === 1)
          .withColumn("q_len", length(col("text")).cast("long")))
    }
    (1 to 2).map { v =>
      val df = SnapshotTable.read(spark, root, v)
      val (withQ, sumQ) =
        if (df.columns.contains("q_len"))
          (count(col("q_len")), coalesce(sum(col("q_len")), lit(0L)))
        else (lit(0L), lit(0L))
      df.agg(count(lit(1)).as("n_docs"), withQ.as("n_with_q"),
          sumQ.as("sum_q"))
        .select(lit(v).as("version"), col("n_docs"),
          col("n_with_q").cast("long").as("n_with_q"),
          col("sum_q").cast("long").as("sum_q"))
    }.reduce(_ unionByName _)
  }

  /** METADATA-ONLY DROP / RENAME COLUMN driven through SQL DDL
    * ([[graft.sources.SnapshotCatalog.alterTable]] →
    * [[graft.sources.SnapshotTable.alterSchema]]): v1 commits
    * (doc_id, text, n_chars); v2 RENAMES n_chars → len_chars; v3
    * DROPS text. Neither action reads or rewrites data — each is one
    * manifest commit, the schema-evolution cost model a 100 TB table
    * requires. The per-version fingerprint (row count, sum of the
    * length column under its per-version name, resolved column
    * count) makes all the contracts hash-checkable: the renamed
    * column must surface the ORIGINAL values (a rename that loses
    * data shows as a sum mismatch), the drop must narrow v3's schema
    * without touching its rows, and time travel must read v1/v2 back
    * under their own schemas (a retroactive action shows as a wrong
    * n_cols). */
  def pipelineSnapshotSchema(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val wh = s"${graft.sources.Artifacts.root(spark)}/evowh_${key}_n$n"
    spark.conf.set("spark.sql.catalog.lakevo",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.lakevo.warehouse", wh)
    val root = s"$wh/raw/docs"
    if (!SnapshotTable.latestVersion(spark, root).contains(3)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      SnapshotTable.commit(spark, root,
        t(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars")))
      spark.sql(
        "ALTER TABLE lakevo.raw.docs RENAME COLUMN n_chars TO len_chars")
      spark.sql("ALTER TABLE lakevo.raw.docs DROP COLUMN text")
    }
    (1 to 3).map { v =>
      val df = SnapshotTable.read(spark, root, v)
      val lenCol =
        if (df.columns.contains("len_chars")) "len_chars" else "n_chars"
      df.agg(count(lit(1)).as("n_rows"),
          sum(col(lenCol)).cast("long").as("sum_len"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_len"),
          lit(df.columns.length).as("n_cols"))
    }.reduce(_ unionByName _)
  }

  /** SNAPSHOT EXPIRY — the explicitly destructive retention path
    * time travel defers to, exercised end-to-end: build a 3-commit
    * history where v3 is a full OVERWRITE (so v1/v2's file sets
    * become unreferenced the moment they expire), expire everything
    * below v3, and report what retention did plus an aggregate over
    * the SURVIVING version read AFTER the expiry — so the query
    * fails loudly if expire ever deletes a dir the live manifest
    * still references. The history is rebuilt from scratch every run
    * (expiry is destructive; a rebuilt root is the only
    * deterministic rerun), which also makes this the commit-path
    * end-to-end exercise at bench time. Closed-form: v1=s1, v2=s1+s2
    * (append), v3=s3 (overwrite) → 2 versions expired, dirs s1+s2
    * removed, s3 kept. */
  def pipelineSnapshotExpire(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapexp_${key}_n$n"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 0))
    SnapshotTable.commit(spark, root, docs.where(col("doc_id") % 2 === 1))
    SnapshotTable.commit(spark, root,
      docs.where(col("doc_id") % 13 === 2)
        .select((col("doc_id") + lit(n)).as("doc_id"), col("text")),
      append = false)
    val rep = SnapshotTable.expire(spark, root, keepFrom = 3)
    SnapshotTable.read(spark, root, 3)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"))
      .select(lit(rep.versionsExpired).as("versions_expired"),
        lit(rep.versionsKept).as("versions_kept"),
        lit(rep.dirsRemoved).as("dirs_removed"),
        lit(rep.dirsKept).as("dirs_kept"),
        col("n_docs"), col("sum_id"))
  }

  /** TRANSACTIONAL MERGE (COW upsert) — [[graft.sources.SnapshotTable.merge]]
    * end-to-end: v1 commits the full corpus; one merge applies a
    * deterministic update batch (doc_id ≡ 5 mod 11 revised with a
    * ` [rev2]` suffix — matched keys REPLACED, not duplicated — and
    * the ≡ 2 mod 13 re-ingests under id+n — new keys INSERTED).
    * Reading both versions afterwards pins the two transactional
    * facts: v1 is byte-identical to before the merge (copy-on-write,
    * never in-place), and v2 is exactly old∖matched ∪ updates. A
    * duplicated matched key, a lost carry-row, or a mutated v1 all
    * surface as count/sum mismatches. */
  def pipelineSnapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${graft.sources.Artifacts.root(spark)}/snapmrg_${key}_n$n"
    if (!SnapshotTable.latestVersion(spark, root).contains(2)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs)
      val updates = docs.where(col("doc_id") % 11 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
        .unionByName(docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")))
      SnapshotTable.merge(spark, root, updates, "doc_id")
    }
    (1 to 2).map { v =>
      SnapshotTable.read(spark, root, v)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_id"),
          sum(length(col("text"))).cast("long").as("sum_len"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_id"),
          col("sum_len"))
    }.reduce(_ unionByName _)
  }

  /** THE SQL FRONT DOOR, end to end — the same upsert lifecycle as
    * [[pipelineSnapshotMerge]] but with every operation AFTER the v1
    * seed driven through `spark.sql` TEXT against a
    * [[graft.sources.SnapshotCatalog]] table: the `MERGE INTO … WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    * statement commits v2 ([[graft.sources.ResolveSnapshotSql]]
    * lowers it onto the stats-scoped COW merge), and the readback
    * aggregates v1 via `VERSION AS OF 1`, latest via the bare name,
    * and v1 again via `TIMESTAMP AS OF` its commit instant (reported
    * as version 3, proving the timestamp overload resolves through
    * the catalog too). The oracle replays the identical closed-form
    * update rule — a drift anywhere in catalog resolution, merge
    * lowering, or time travel shows up as a value mismatch. */
  def pipelineSnapshotSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val wh = s"${graft.sources.Artifacts.root(spark)}/sqlwh_${key}_n$n"
    spark.conf.set("spark.sql.catalog.lakesql",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.lakesql.warehouse", wh)
    val root = s"$wh/raw/docs"
    if (!SnapshotTable.latestVersion(spark, root).contains(2)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      SnapshotTable.commit(spark, root, docs)
      docs.where(col("doc_id") % 11 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
        .unionByName(docs.where(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(n)).as("doc_id"), col("text")))
        .createOrReplaceTempView("snapshot_sql_updates")
      // commit times are millisecond-resolution; the TIMESTAMP AS OF
      // readback below pins v1 by ITS instant, so v2 must land in a
      // strictly later millisecond or the seeded artifact would replay
      // wrong forever
      Thread.sleep(10)
      spark.sql(
        """MERGE INTO lakesql.raw.docs t
          |USING snapshot_sql_updates s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // rendered in UTC explicitly: the session TZ is UTC, and
    // java.sql.Timestamp.toString would use the JVM default zone
    val v1At = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(
        SnapshotTable.commitTime(spark, root, 1).getOrElse(
          throw new IllegalStateException(
            s"v1 commit time missing at $root"))))
    spark.sql(
      s"""SELECT 1 AS version, count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_len
         |FROM lakesql.raw.docs VERSION AS OF 1
         |UNION ALL
         |SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT),
         |       CAST(sum(length(text)) AS BIGINT)
         |FROM lakesql.raw.docs
         |UNION ALL
         |SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT),
         |       CAST(sum(length(text)) AS BIGINT)
         |FROM lakesql.raw.docs TIMESTAMP AS OF '$v1At'""".stripMargin)
  }

  /** SQL DML over the snapshot store ([[graft.sources.ResolveSnapshotSql]]'s
    * DELETE/UPDATE lowering): seeds `documents` as v1, then drives the
    * four write shapes through `spark.sql` TEXT —
    *  - v2 `DELETE … WHERE doc_id % 7 = 3`: single-column predicate →
    *    MERGE-ON-READ delete vector (key-list write, no data rewrite);
    *  - v3 `UPDATE … SET text = concat(text,' [edited]') WHERE
    *    doc_id % 5 = 1`: key-preserving single-column predicate →
    *    MOR upsert (vector + replacement rows, one commit);
    *  - v4 `DELETE … WHERE doc_id % 11 = 0 AND length(text) > 200`:
    *    deterministic MULTI-column predicate → TUPLE-keyed MOR vector
    *    ([[graft.sources.SnapshotTable.deleteRowsKeyed]] — the
    *    (doc_id, text) tuple functionally determines the verdict, so
    *    at 100 TB this stays a key-list write where a COW routing
    *    would rewrite the table);
    *  - v5 `DELETE … WHERE doc_id IN (SELECT …)`: subquery predicate →
    *    the COW rewrite commit (the general fallback).
    * Result: per-version (count, sum_id, sum_len) fingerprints read
    * back through `VERSION AS OF` — every version of the DML history
    * stays readable, and DuckDB replays the chain closed-form. */
  def pipelineSnapshotDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val wh = s"${graft.sources.Artifacts.root(spark)}/dmlwh2_${key}_n$n"
    spark.conf.set("spark.sql.catalog.lakedml",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.lakedml.warehouse", wh)
    val root = s"$wh/raw/docs"
    if (!SnapshotTable.latestVersion(spark, root).contains(5)) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      SnapshotTable.commit(spark, root,
        t(spark, dir, "documents").select(col("doc_id"), col("text")))
      spark.sql("DELETE FROM lakedml.raw.docs WHERE doc_id % 7 = 3")
      spark.sql("UPDATE lakedml.raw.docs " +
        "SET text = concat(text, ' [edited]') WHERE doc_id % 5 = 1")
      spark.sql("DELETE FROM lakedml.raw.docs " +
        "WHERE doc_id % 11 = 0 AND length(text) > 200")
      spark.sql("DELETE FROM lakedml.raw.docs WHERE doc_id IN " +
        "(SELECT doc_id FROM lakedml.raw.docs WHERE length(text) < 50)")
    }
    def fp(v: Int, from: String) =
      s"""SELECT CAST($v AS INT) AS version, count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_len
         |FROM $from""".stripMargin
    spark.sql(Seq(
      fp(1, "lakedml.raw.docs VERSION AS OF 1"),
      fp(2, "lakedml.raw.docs VERSION AS OF 2"),
      fp(3, "lakedml.raw.docs VERSION AS OF 3"),
      fp(4, "lakedml.raw.docs VERSION AS OF 4"),
      fp(5, "lakedml.raw.docs")).mkString("\nUNION ALL\n"))
  }

  /** FULL DML LIFECYCLE, paid on EVERY run (no build-once gate — the
    * [[pipelineSnapshotDml]] twin measures steady-state reads; this
    * one measures the WRITES): fresh table commit → single-column MOR
    * delete → TUPLE-keyed MOR update (predicate over (doc_id,
    * n_chars), assignment to text — the multi-column eligibility the
    * r16 store added) → compact (folds the vectors away, recomputes
    * doc_id file stats) → time-travel fingerprints of all four
    * versions plus the current read. This is the snapshot store's
    * scale-ladder family (VERDICT r16 item 4): every stage is
    * corpus-sized exactly once per statement — the MOR statements
    * write a matched-rows vector, never rewrite the table; compact is
    * the one deliberate full rewrite — so the cycle is linear in n by
    * construction and BENCH_LADDER measures whether the constants
    * hold through the x100 rung (500k docs). The oracle replays every
    * verdict in DuckDB; compaction must leave v4 ≡ v3 (layout, never
    * data). */
  def pipelineSnapshotDmlCycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val wh = s"${graft.sources.Artifacts.root(spark)}/dmlcyc_${key}_n$n"
    spark.conf.set("spark.sql.catalog.lakecyc",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.lakecyc.warehouse", wh)
    val root = s"$wh/raw/docs"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    SnapshotTable.commit(spark, root,
      t(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars")),
      statsKey = Some("doc_id"))
    spark.sql("DELETE FROM lakecyc.raw.docs WHERE doc_id % 7 = 3")
    spark.sql("UPDATE lakecyc.raw.docs SET text = concat(text, ' [cyc]') " +
      "WHERE doc_id % 5 = 1 AND n_chars > 80")
    SnapshotTable.compact(spark, root, statsKey = Some("doc_id"))
    def fp(v: Int, from: String) =
      s"""SELECT CAST($v AS INT) AS version, count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_len
         |FROM $from""".stripMargin
    spark.sql(Seq(
      fp(1, "lakecyc.raw.docs VERSION AS OF 1"),
      fp(2, "lakecyc.raw.docs VERSION AS OF 2"),
      fp(3, "lakecyc.raw.docs VERSION AS OF 3"),
      fp(4, "lakecyc.raw.docs VERSION AS OF 4"),
      fp(5, "lakecyc.raw.docs")).mkString("\nUNION ALL\n"))
  }

  /** Per-domain document cap for [[pipelineDomainCap]] — the crawl
    * curation rule that stops one prolific host from dominating the
    * mixture. */
  val DomainCap = 8

  /** HOST-LEVEL QUOTA — cap each domain's contribution at
    * [[DomainCap]] documents, keeping the highest-quality ones
    * (distinct-token ratio, the [[pipelinePrefPairs]] signal;
    * ties → smaller doc_id). The kept set is cut by the native
    * [[graft.plans.TopKPerKey]] heaps — a per-host top-N that never
    * fully sorts a prolific host's millions of rows (the skew case
    * this op exists for) — and the audit relation joins every doc
    * back against it: doc, host, score, kept. One exchange on the
    * host key, heap-bounded memory per host, no global sort. */
  def pipelineDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val x = expr("(doc_id DIV 4) % 10").cast("string")
    val host = when(col("doc_id") % 4 === 0,
        concat(lit("cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("media.cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("site"), x, lit(".blog.net")))
      .otherwise(concat(lit("site"), x, lit(".notblog.net")))
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), host.as("host"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), col("host"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 6).as("score"))
    val kept = graft.plans.TopKPerKey.topKPerKey(scored,
        Seq("host"), Seq("score" -> false, "doc_id" -> true), DomainCap)
      .select(col("doc_id").as("k_id"), lit(true).as("kept"))
    scored.join(kept, col("doc_id") === col("k_id"), "left")
      .select(col("doc_id"), col("host"), col("score"),
        coalesce(col("kept"), lit(false)).as("kept"))
  }

  /** Docs per assembled batch for [[pipelineLengthBuckets]]. */
  val LenBatch = 16

  /** SEQUENCE-LENGTH BUCKETED BATCH ASSEMBLY — the training-prep op
    * that minimizes attention-mask padding: docs are bucketed by
    * ⌊log₂(n_tokens)⌋ (so batch members are within 2× of each other),
    * ordered longest-first inside the bucket (ties → doc_id), and
    * dealt into [[LenBatch]]-doc batches. Per batch: member count,
    * max length (the padded width), real token sum, and the padding
    * waste fraction a trainer would pay. The window partitions on the
    * bucket key — never a global sort — and the output is batch-sized,
    * not corpus-sized. At 100 TB each bucket shards independently;
    * the longest-first deal keeps waste monotonically shrinking down
    * the batch sequence. */
  def pipelineLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .where(col("n_tokens") >= 1)
      // ⌊log₂⌋ via binary-digit count — integer-exact in both engines
      // (float log2 rounds 2^k down to k-ε on some libm paths)
      .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .withColumn("batch_id", ((col("rn") - 1) / LenBatch).cast("long"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padded_tokens", col("max_len") * col("n_docs"))
      .withColumn("pad_waste",
        round((col("padded_tokens") - col("sum_tokens")).cast("double") /
          col("padded_tokens"), 6))
  }

  /** Feature-hash buckets for [[pipelineDsir]]. */
  val DsirBuckets = 32
  /** Additive smoothing mass per bucket. */
  val DsirAlpha = 0.5

  /** DATA SELECTION VIA IMPORTANCE RESAMPLING (DSIR, Xie et al. 2023)
    * — score every corpus document by how much its hashed-unigram
    * distribution looks like a TARGET domain (here the `lang = 'en'`
    * slice, standing in for "clean reference corpus"): tokens hash
    * into [[DsirBuckets]] buckets (the portable md5 hash every split
    * op uses), the target and source bucket distributions are two
    * [[DsirBuckets]]-row aggregates (smoothed by [[DsirAlpha]]), and
    * each doc's importance is the length-normalized sum of its
    * buckets' log-ratios. `selected` = positive evidence (the
    * resampling acceptance direction) — a THRESHOLD, not a global
    * rank, so no unpartitioned window ever forms. Per-doc fold runs
    * over the bucket-sorted count array (deterministic summation
    * order). Cost shape: one token explode + one (doc, bucket) agg +
    * one broadcast join against the 32-row ratio table — linear at
    * any corpus size; the distributions are the tiny persisted
    * artifact a production DSIR run keeps per target domain. */
  def pipelineDsir(spark: SparkSession, dir: String): DataFrame = {
    // ONE token explode feeds all four aggregates (source/target
    // distributions, their totals) and the per-doc counts — without
    // the persist the plan re-derives the explode per aggregate, 4×
    // the dominant cost at corpus scale
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"), dsirBucket.as("bucket"))
      .persistTracked()
    val ratio = dsirRatioFromTokens(tok,
      tok.where(col("lang") === "en"))
    dsirScoreFromTokens(tok, ratio)
  }

  /** The portable token→bucket hash (the split-op md5 idiom). */
  private def dsirBucket: Column =
    conv(substring(md5(concat(lit("dsir:"), col("tok"))), 1, 7), 16, 10)
      .cast("long") % DsirBuckets

  private def dsirRatioFromTokens(sTok: DataFrame,
                                  tTok: DataFrame): DataFrame = {
    // source buckets are the superset (target ⊆ corpus), so a LEFT
    // join keeps every bucket; the two totals ride in as broadcast
    // 1-row parameter joins
    sTok.groupBy(col("bucket")).agg(count(lit(1)).as("c_s"))
      .join(tTok.groupBy(col("bucket")).agg(count(lit(1)).as("c_t")),
        Seq("bucket"), "left")
      .crossJoin(broadcast(sTok.agg(count(lit(1)).as("tot_s"))))
      .crossJoin(broadcast(tTok.agg(count(lit(1)).as("tot_t"))))
      .select(col("bucket"),
        (log((coalesce(col("c_t"), lit(0L)) + DsirAlpha) /
            (col("tot_t") + DsirAlpha * DsirBuckets)) -
          log((col("c_s") + DsirAlpha) /
            (col("tot_s") + DsirAlpha * DsirBuckets))).as("lr"))
  }

  private def dsirScoreFromTokens(tok: DataFrame,
                                  ratio: DataFrame): DataFrame =
    tok.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_b"))
      .join(broadcast(ratio), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_b")).as("n_tokens"),
        // bucket-sorted fold: summation order is fixed, so the score
        // is bit-identical run to run
        aggregate(
          array_sort(collect_list(struct(col("bucket"),
            (col("n_b") * col("lr")).as("term")))),
          lit(0.0d), (acc, s) => acc + s.getField("term")).as("raw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("raw") / col("n_tokens"), 6).as("dsir_score"))
      .withColumn("selected", col("dsir_score") > 0)

  /** PER-DOCUMENT PROVENANCE AUDIT — the filter-attribution relation
    * a published dataset ships next to its data (the Dolma/RedPajama
    * audit): for EVERY ingested doc, which gates it passed and the
    * final verdict, composed from the SAME kernels the individual
    * queries run (the gate bounds of [[gate]], [[pipelineFilter]]'s
    * exact-dup keeper, [[pipelineDecontaminate]]'s eval-shingle
    * screen, [[pipelineUrlFilter]]'s blocklist) — so the audit cannot
    * drift from the filters it explains. Each gate contributes one
    * linear pass keyed on doc_id; the assembly is left joins on
    * doc_id. `kept` is the conjunction. No gate reads another's
    * output — at 100 TB all four run in one scheduling wave over one
    * cached scan. */
  def pipelineProvenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(filter(col("toks"),
          x => x.isInCollection(TextAnalysis.Stopwords))).cast("double") /
          col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= MinTokens && col("stop_ratio") <= MaxStopRatio &&
          col("lang") === "en").as("quality_ok"))
    val dupLoser = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("nh"))
      .where(col("nh") >= 2)
      .join(docs.select(col("doc_id"), md5(col("text")).as("h")), "h")
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("d_id"), lit(true).as("is_dup"))
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingleCol(col("toks"), 3))).as("s"))
    val contaminated = sh
      .join(broadcast(sh.where(col("doc_id") % 97 === 0)
          .select(col("s").as("e_s"), col("doc_id").as("e_id"))),
        col("s") === col("e_s") && col("doc_id") =!= col("e_id"))
      .select(col("doc_id").as("c_id")).distinct()
      .withColumn("contaminated", lit(true))
    val x = expr("(doc_id DIV 4) % 10").cast("string")
    val host = when(col("doc_id") % 4 === 0,
        concat(lit("cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("media.cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("site"), x, lit(".blog.net")))
      .otherwise(concat(lit("site"), x, lit(".notblog.net")))
    val urlBlocked = urlFilterOf(
        docs.select(col("doc_id"), host.as("host")), UrlBlocklist)
      .where(!col("kept"))
      .select(col("doc_id").as("u_id"), lit(true).as("url_blocked"))
    base
      .join(dupLoser, col("doc_id") === col("d_id"), "left")
      .join(contaminated, col("doc_id") === col("c_id"), "left")
      .join(urlBlocked, col("doc_id") === col("u_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("quality_ok"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        coalesce(col("url_blocked"), lit(false)).as("url_blocked"))
      .withColumn("kept",
        col("quality_ok") && !col("is_dup") && !col("contaminated") &&
          !col("url_blocked"))
  }

  /** END-TO-END CRAWL-TO-CORPUS COMPOSITION — the workload the whole
    * crawl/curation surface exists for, as ONE provenance-audited
    * query (the [[pipelineProvenance]] pattern over the crawl stack):
    * every arriving crawl doc (odd doc_ids — the cross-corpus
    * convention; evens are the curated base) rides in as a
    * chrome-laden HTML page inside an HTTP response inside a WARC
    * record, is UNWRAPPED through all three wire layers
    * ([[Warc.textHtmlExtractChrome]]'s kernel), and then every text
    * gate reads the EXTRACTED text — the DuckDB oracle reads
    * documents.text and never sees the markup, so parity proves the
    * unwrap feeds the gates losslessly. Gates, each the SAME kernel
    * as its standalone query (CrawlE2eSpec pins the column parity):
    * robots.txt REP verdict ([[robotsVerdicts]]), domain-blocklist
    * URL filter ([[urlFilterOf]]), per-host quota
    * ([[pipelineDomainCap]]'s TopKPerKey cut), marker language-ID
    * ([[TextAnalysis.textLangId]]), token/stopword quality bounds,
    * eval-shingle decontamination, and the cross-corpus paragraph
    * screen ([[Dedup.paragraphScreenAgainstBase]] — kept requires at
    * least one unseen segment). `kept` is the conjunction; the audit
    * is COMMITTED to a snapshot table and the query returns the
    * read-back, so the lakehouse sink is inside the verified path.
    * Scale: each gate is one linear pass over the one extracted scan
    * (assembled by doc_id left joins); the quota cut is heap-bounded
    * per host; eval shingles and robots rules broadcast; the commit
    * is one write of the audit relation. */
  def pipelineCrawlE2e(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    import graft.sources.SnapshotTable
    val docs = t(spark, dir, "documents")
    // wire unwrap: WARC walk → HTTP parse → HTML strip (chrome-laden)
    val extracted = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        for {
          rs <- Warc.decodeWarcPayloads(Warc.buildWarc(id,
            Seq((s"http://synth.graft/doc$id",
              Warc.httpResponse(Warc.htmlPageChrome(text)))))).toSeq
          (_, payload) <- rs
          http <- Warc.parseHttp(payload)
          txt <- Warc.htmlToText(new String(http.body, "UTF-8"))
        } yield (id, txt)
      }).toDF("doc_id", "text")
      .persistTracked()
    val x = expr("(doc_id DIV 4) % 10").cast("string")
    val host = when(col("doc_id") % 4 === 0,
        concat(lit("cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("media.cdn"), x, lit(".example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("site"), x, lit(".blog.net")))
      .otherwise(concat(lit("site"), x, lit(".notblog.net")))
    val m = col("doc_id") % 5
    val path = when(m === 0, concat(lit("/private/ok/p"), col("doc_id")))
      .when(m === 1, concat(lit("/private/p"), col("doc_id")))
      .when(m === 2, concat(lit("/tmp"), x, lit("/f")))
      .when(m === 3, concat(lit("/public/p"), col("doc_id")))
      .otherwise(lit("/other"))
    val urls = extracted
      .select(col("doc_id"), host.as("host"), path.as("path"))
    val robots = robotsVerdicts(urls, parseRobotsRelation(robotsFixture(
        urls.select(col("host")).distinct())))
      .select(col("doc_id").as("r_id"),
        col("allowed").as("robots_allowed"))
    val urlf = urlFilterOf(
        extracted.select(col("doc_id"), host.as("host")), UrlBlocklist)
      .select(col("doc_id").as("u_id"), (!col("kept")).as("url_blocked"))
    val scored = extracted
      .select(col("doc_id"), host.as("host"),
        split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), col("host"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 6).as("score"))
    val quota = graft.plans.TopKPerKey.topKPerKey(scored,
        Seq("host"), Seq("score" -> false, "doc_id" -> true), DomainCap)
      .select(col("doc_id").as("q_id"), lit(true).as("qk"))
    val votes = extracted
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(
        TextAnalysis.LangMarkers.toDF("cand_lang", "marker")),
        col("tok") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val lw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("cand_lang"))
    val lang = votes.withColumn("rn", row_number().over(lw))
      .where(col("rn") === 1)
      .select(col("doc_id").as("l_id"), col("cand_lang").as("pred_lang"))
    val quality = extracted
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .select(col("doc_id").as("b_id"),
        (col("n_tokens") >= MinTokens &&
          size(filter(col("toks"),
            w => w.isInCollection(TextAnalysis.Stopwords))).cast("double") /
            col("n_tokens") <= MaxStopRatio).as("quality_ok"))
    val shBatch = extracted
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingleCol(col("toks"), 3))).as("s"))
    val evalSh = docs.where(col("doc_id") % 97 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id").as("e_id"),
        explode(array_distinct(Dedup.shingleCol(col("toks"), 3))).as("e_s"))
    val cont = shBatch
      .join(broadcast(evalSh),
        col("s") === col("e_s") && col("doc_id") =!= col("e_id"))
      .select(col("doc_id").as("c_id")).distinct()
      .withColumn("contaminated", lit(true))
    val para = Dedup.paragraphScreenAgainstBase(extracted,
        Dedup.baseParagraphHashes(docs.where(col("doc_id") % 2 === 0)))
      .select(col("doc_id").as("p_id"), col("n_segs"), col("n_removed"))
    val audit = extracted
      .select(col("doc_id"), host.as("host"), path.as("path"))
      .join(robots, col("doc_id") === col("r_id"), "left")
      .join(urlf, col("doc_id") === col("u_id"), "left")
      .join(quota, col("doc_id") === col("q_id"), "left")
      .join(lang, col("doc_id") === col("l_id"), "left")
      .join(quality, col("doc_id") === col("b_id"), "left")
      .join(cont, col("doc_id") === col("c_id"), "left")
      .join(para, col("doc_id") === col("p_id"), "left")
      .select(col("doc_id"), col("host"), col("path"),
        col("robots_allowed"),
        coalesce(col("url_blocked"), lit(false)).as("url_blocked"),
        coalesce(col("qk"), lit(false)).as("quota_kept"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        col("quality_ok"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("kept",
        col("robots_allowed") && !col("url_blocked") &&
          col("quota_kept") && col("pred_lang") === "en" &&
          col("quality_ok") && !col("contaminated") &&
          col("n_removed") < col("n_segs"))
    // lakehouse sink inside the verified path: commit the audit, read
    // it back (n-keyed root, rebuilt per run — the audit derives from
    // the corpus, so staleness is never possible)
    val n = graft.Tables.cachedCount(spark, dir, "documents")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root =
      s"${graft.sources.Artifacts.root(spark)}/crawl_e2e_${key}_n$n"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    SnapshotTable.commit(spark, root, audit, statsKey = Some("doc_id"))
    SnapshotTable.readLatest(spark, root)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_crawl_e2e" -> pipelineCrawlE2e,
    "pipeline_domain_cap" -> pipelineDomainCap,
    "pipeline_length_buckets" -> pipelineLengthBuckets,
    "pipeline_dsir" -> pipelineDsir,
    "pipeline_provenance" -> pipelineProvenance,
    "pipeline_dataset_diff" -> pipelineDatasetDiff,
    "pipeline_snapshot_read" -> pipelineSnapshotRead,
    "pipeline_snapshot_evolve" -> pipelineSnapshotEvolve,
    "pipeline_snapshot_schema" -> pipelineSnapshotSchema,
    "pipeline_snapshot_expire" -> pipelineSnapshotExpire,
    "pipeline_snapshot_merge" -> pipelineSnapshotMerge,
    "pipeline_snapshot_sql" -> pipelineSnapshotSql,
    "pipeline_snapshot_dml" -> pipelineSnapshotDml,
    "pipeline_snapshot_dml_cycle" -> pipelineSnapshotDmlCycle,
    "pipeline_snapshot_changes" -> pipelineSnapshotChanges,
    "pipeline_snapshot_incr_agg" -> pipelineSnapshotIncrAgg,
    "pipeline_snapshot_skip" -> pipelineSnapshotSkip,
    "pipeline_snapshot_scan" -> pipelineSnapshotScan,
    "pipeline_snapshot_compact" -> pipelineSnapshotCompact,
    "pipeline_snapshot_cluster" -> pipelineSnapshotCluster,
    "pipeline_snapshot_zorder" -> pipelineSnapshotZorder,
    "pipeline_snapshot_mor" -> pipelineSnapshotMor,
    "pipeline_snapshot_point" -> pipelineSnapshotPoint,
    "pipeline_snapshot_rollback" -> pipelineSnapshotRollback,
    "pipeline_snapshot_clone" -> pipelineSnapshotClone,
    "pipeline_upsert" -> pipelineUpsert,
    "pipeline_scd2" -> pipelineScd2,
    "pipeline_sample_weighted" -> pipelineSampleWeighted,
    "pipeline_ingest" -> pipelineIngest,
    "pipeline_filter" -> pipelineFilter,
    "pipeline_split" -> pipelineSplit,
    "pipeline_split_grouped" -> pipelineSplitGrouped,
    "pipeline_decontaminate" -> pipelineDecontaminate,
    "pipeline_decontaminate_overlap" -> pipelineDecontaminateOverlap,
    "pipeline_pref_pairs" -> pipelinePrefPairs,
    "pipeline_decontaminate_bloom" -> pipelineDecontaminateBloom,
    "pipeline_mix" -> pipelineMix,
    "pipeline_source_temperature" -> pipelineSourceTemperature,
    "pipeline_diverse_sample" -> pipelineDiverseSample,
    "pipeline_shard" -> pipelineShard,
    "pipeline_epoch_shuffle" -> pipelineEpochShuffle,
    "pipeline_url_filter" -> pipelineUrlFilter,
    "pipeline_robots" -> pipelineRobots,
    "pipeline_dup_stats" -> pipelineDupStats,
    "pipeline_datacard" -> pipelineDatacard,
    "pipeline_token_budget" -> pipelineTokenBudget,
    "pipeline_pack" -> pipelinePack)

  private val stopList =
    TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  private val markerValuesSql = TextAnalysis.LangMarkers
    .map { case (l, m) => s"('$l', '$m')" }.mkString(", ")

  private val decontaminateSql =
    """WITH shd AS (
      |  SELECT doc_id, unnest(list_distinct(
      |           list_transform(generate_series(1, len(t)-2),
      |             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3
      |), ev AS (
      |  SELECT doc_id AS e_id, s FROM shd WHERE doc_id % 97 = 0
      |)
      |SELECT c.doc_id,
      |       count(DISTINCT ev.e_id) AS n_eval_docs,
      |       count(DISTINCT c.s) AS n_shared_shingles
      |FROM shd c JOIN ev ON c.s = ev.s AND c.doc_id <> ev.e_id
      |GROUP BY c.doc_id""".stripMargin

  /** Shared host-synthesis SQL (mirrors the column expression in
    * [[pipelineUrlFilter]]/[[pipelineDomainCap]]/[[pipelineProvenance]]). */
  private val hostSql =
    """CASE WHEN doc_id % 4 = 0
      |       THEN concat('cdn', CAST((doc_id // 4) % 10 AS VARCHAR), '.example.com')
      |     WHEN doc_id % 4 = 1
      |       THEN concat('media.cdn', CAST((doc_id // 4) % 10 AS VARCHAR), '.example.com')
      |     WHEN doc_id % 4 = 2
      |       THEN concat('site', CAST((doc_id // 4) % 10 AS VARCHAR), '.blog.net')
      |     ELSE concat('site', CAST((doc_id // 4) % 10 AS VARCHAR), '.notblog.net')
      |END""".stripMargin

  val oracles: Map[String, String] = Map(
    // the whole crawl stack replayed against the PLAIN text — the
    // oracle never sees the WARC/HTTP/HTML wrapping, so parity proves
    // the engine's 3-layer unwrap feeds every gate losslessly; each
    // gate CTE is its standalone query's oracle restricted to the odd
    // (crawl) half
    "pipeline_crawl_e2e" ->
      s"""WITH u AS (
         |  SELECT doc_id, text,
         |    $hostSql AS host,
         |    CASE WHEN doc_id % 5 = 0 THEN concat('/private/ok/p', doc_id)
         |         WHEN doc_id % 5 = 1 THEN concat('/private/p', doc_id)
         |         WHEN doc_id % 5 = 2
         |           THEN concat('/tmp', (doc_id // 4) % 10, '/f')
         |         WHEN doc_id % 5 = 3 THEN concat('/public/p', doc_id)
         |         ELSE '/other' END AS path,
         |    CASE WHEN doc_id % 4 = 1 THEN doc_id % 5 = 3
         |         ELSE doc_id % 5 IN (0, 3, 4) END AS robots_allowed
         |  FROM documents WHERE doc_id % 2 = 1
         |), blocked AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(string_split(host, '.')) - 1),
         |      i -> array_to_string(string_split(host, '.')[i:], '.')))
         |      AS suffix
         |    FROM u)
         |  WHERE suffix IN (${UrlBlocklist.map(e => s"'$e'").mkString(", ")})
         |), quota AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY host
         |      ORDER BY round(CAST(len(list_distinct(string_split(text, ' ')))
         |          AS DOUBLE) / len(string_split(text, ' ')), 6) DESC,
         |        doc_id) AS rn
         |    FROM u WHERE len(string_split(text, ' ')) >= 1)
         |  WHERE rn <= $DomainCap
         |), markers(cand_lang, marker) AS (VALUES $markerValuesSql),
         |votes AS (
         |  SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM u) tk
         |  JOIN markers ON tk.tok = markers.marker
         |  GROUP BY doc_id, cand_lang
         |), lang AS (
         |  SELECT doc_id, cand_lang FROM (
         |    SELECT doc_id, cand_lang,
         |      row_number() OVER (PARTITION BY doc_id
         |                         ORDER BY hits DESC, cand_lang) AS rn
         |    FROM votes)
         |  WHERE rn = 1
         |), quality AS (
         |  SELECT doc_id,
         |    (len(string_split(text, ' ')) >= $MinTokens
         |     AND CAST(len(list_filter(string_split(text, ' '),
         |               x -> list_contains($stopList, x))) AS DOUBLE)
         |         / len(string_split(text, ' ')) <= $MaxStopRatio)
         |      AS quality_ok
         |  FROM u
         |), shb AS (
         |  SELECT doc_id, unnest(list_distinct(
         |           list_transform(generate_series(1, len(t)-2),
         |             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM u)
         |  WHERE len(t) >= 3
         |), she AS (
         |  SELECT doc_id AS e_id, unnest(list_distinct(
         |           list_transform(generate_series(1, len(t)-2),
         |             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t
         |        FROM documents WHERE doc_id % 97 = 0)
         |  WHERE len(t) >= 3
         |), cont AS (
         |  SELECT DISTINCT c.doc_id FROM shb c
         |  JOIN she ev ON c.s = ev.s AND c.doc_id <> ev.e_id
         |), segs AS (
         |  SELECT doc_id, md5(seg) AS h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(0, len(t)//${Dedup.ParaW} - 1),
         |        i -> array_to_string(
         |               t[i*${Dedup.ParaW} + 1 : i*${Dedup.ParaW} + ${Dedup.ParaW}], ' '))) AS seg
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM u)
         |    WHERE len(t) >= ${Dedup.ParaW})
         |), baseh AS (
         |  SELECT DISTINCT md5(seg) AS h FROM (
         |    SELECT unnest(list_transform(generate_series(0, len(t)//${Dedup.ParaW} - 1),
         |        i -> array_to_string(
         |               t[i*${Dedup.ParaW} + 1 : i*${Dedup.ParaW} + ${Dedup.ParaW}], ' '))) AS seg
         |    FROM (SELECT string_split(text, ' ') AS t FROM documents
         |          WHERE doc_id % 2 = 0)
         |    WHERE len(t) >= ${Dedup.ParaW})
         |), para AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |    CAST(sum(CASE WHEN h IN (SELECT h FROM baseh)
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |  FROM segs GROUP BY doc_id
         |)
         |SELECT u.doc_id, u.host, u.path, u.robots_allowed,
         |  (u.doc_id IN (SELECT doc_id FROM blocked)) AS url_blocked,
         |  (u.doc_id IN (SELECT doc_id FROM quota)) AS quota_kept,
         |  coalesce(l.cand_lang, 'und') AS pred_lang,
         |  q.quality_ok,
         |  (u.doc_id IN (SELECT doc_id FROM cont)) AS contaminated,
         |  coalesce(p.n_segs, 0) AS n_segs,
         |  coalesce(p.n_removed, 0) AS n_removed,
         |  (u.robots_allowed
         |   AND u.doc_id NOT IN (SELECT doc_id FROM blocked)
         |   AND u.doc_id IN (SELECT doc_id FROM quota)
         |   AND coalesce(l.cand_lang, 'und') = 'en'
         |   AND q.quality_ok
         |   AND u.doc_id NOT IN (SELECT doc_id FROM cont)
         |   AND coalesce(p.n_removed, 0) < coalesce(p.n_segs, 0)) AS kept
         |FROM u
         |LEFT JOIN lang l ON u.doc_id = l.doc_id
         |LEFT JOIN quality q ON u.doc_id = q.doc_id
         |LEFT JOIN para p ON u.doc_id = p.doc_id""".stripMargin,
    "pipeline_domain_cap" ->
      s"""WITH scored AS (
         |  SELECT doc_id, $hostSql AS host,
         |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |          / len(string_split(text, ' ')), 6) AS score
         |  FROM documents WHERE len(string_split(text, ' ')) >= 1
         |), ranked AS (
         |  SELECT doc_id, host, score,
         |    row_number() OVER (PARTITION BY host
         |                       ORDER BY score DESC, doc_id) AS rn
         |  FROM scored
         |)
         |SELECT doc_id, host, score, rn <= $DomainCap AS kept
         |FROM ranked""".stripMargin,
    "pipeline_length_buckets" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents WHERE len(string_split(text, ' ')) >= 1
         |), b AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(len(format('{:b}', n_tokens)) - 1 AS BIGINT) AS bucket
         |  FROM d
         |), r AS (
         |  SELECT bucket, n_tokens,
         |    row_number() OVER (PARTITION BY bucket
         |                       ORDER BY n_tokens DESC, doc_id) AS rn
         |  FROM b
         |), g AS (
         |  SELECT bucket, CAST((rn - 1) // $LenBatch AS BIGINT) AS batch_id,
         |    count(*) AS n_docs, max(n_tokens) AS max_len,
         |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT bucket, batch_id, n_docs, max_len, sum_tokens,
         |  max_len * n_docs AS padded_tokens,
         |  round(CAST(max_len * n_docs - sum_tokens AS DOUBLE)
         |        / (max_len * n_docs), 6) AS pad_waste
         |FROM g""".stripMargin,
    "pipeline_dsir" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |    CAST(concat('0x', substr(md5(concat('dsir:', tok)), 1, 7))
         |         AS BIGINT) % $DsirBuckets AS bucket
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |), pd AS (
         |  SELECT doc_id, bucket, count(*) AS n_b FROM tok GROUP BY 1, 2
         |), sdist AS (
         |  SELECT bucket, count(*) AS c_s FROM tok GROUP BY 1
         |), tdist AS (
         |  SELECT bucket, count(*) AS c_t FROM tok WHERE lang = 'en' GROUP BY 1
         |), stot AS (SELECT count(*) AS tot_s FROM tok),
         |ttot AS (SELECT count(*) AS tot_t FROM tok WHERE lang = 'en'),
         |ratio AS (
         |  SELECT s.bucket,
         |    ln((coalesce(t.c_t, 0) + $DsirAlpha)
         |       / (ttot.tot_t + $DsirAlpha * $DsirBuckets))
         |    - ln((s.c_s + $DsirAlpha)
         |         / (stot.tot_s + $DsirAlpha * $DsirBuckets)) AS lr
         |  FROM sdist s LEFT JOIN tdist t USING (bucket), stot, ttot
         |), agg AS (
         |  SELECT doc_id, CAST(sum(n_b) AS BIGINT) AS n_tokens,
         |    round(sum(n_b * lr) / sum(n_b), 6) AS dsir_score
         |  FROM pd JOIN ratio USING (bucket) GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens, dsir_score, dsir_score > 0 AS selected
         |FROM agg""".stripMargin,
    "pipeline_provenance" ->
      s"""WITH base AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |    (len(string_split(text, ' ')) >= $MinTokens
         |     AND CAST(len(list_filter(string_split(text, ' '),
         |               x -> list_contains($stopList, x))) AS DOUBLE)
         |         / len(string_split(text, ' ')) <= $MaxStopRatio
         |     AND lang = 'en') AS quality_ok
         |  FROM documents
         |), dup AS (
         |  SELECT doc_id FROM documents d
         |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id,
         |               count(*) AS nh
         |        FROM documents GROUP BY 1 HAVING count(*) >= 2) g
         |    ON md5(d.text) = g.h AND d.doc_id <> g.keep_id
         |), shd AS (
         |  SELECT doc_id, unnest(list_distinct(
         |           list_transform(generate_series(1, len(t)-2),
         |             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |  WHERE len(t) >= 3
         |), cont AS (
         |  SELECT DISTINCT c.doc_id FROM shd c
         |  JOIN (SELECT doc_id AS e_id, s FROM shd WHERE doc_id % 97 = 0) ev
         |    ON c.s = ev.s AND c.doc_id <> ev.e_id
         |), blocked AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(string_split(h, '.')) - 1),
         |      i -> array_to_string(string_split(h, '.')[i:], '.'))) AS suffix
         |    FROM (SELECT doc_id, $hostSql AS h FROM documents))
         |  WHERE suffix IN (${UrlBlocklist.map(e => s"'$e'").mkString(", ")})
         |)
         |SELECT b.doc_id, b.n_tokens, b.quality_ok,
         |  (b.doc_id IN (SELECT doc_id FROM dup)) AS is_dup,
         |  (b.doc_id IN (SELECT doc_id FROM cont)) AS contaminated,
         |  (b.doc_id IN (SELECT doc_id FROM blocked)) AS url_blocked,
         |  (b.quality_ok
         |   AND b.doc_id NOT IN (SELECT doc_id FROM dup)
         |   AND b.doc_id NOT IN (SELECT doc_id FROM cont)
         |   AND b.doc_id NOT IN (SELECT doc_id FROM blocked)) AS kept
         |FROM base b""".stripMargin,
    "pipeline_dataset_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents
        |), v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev2]'
        |         ELSE text END AS text
        |  FROM v1 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + (SELECT count(*) FROM v1) AS doc_id, text
        |  FROM v1 WHERE doc_id % 13 = 2
        |), h1 AS (SELECT doc_id, md5(text) AS h FROM v1
        |), h2 AS (SELECT doc_id, md5(text) AS h FROM v2
        |)
        |SELECT coalesce(h1.doc_id, h2.doc_id) AS doc_id,
        |  CASE WHEN h1.h IS NULL THEN 'added'
        |       WHEN h2.h IS NULL THEN 'removed'
        |       WHEN h1.h <> h2.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id""".stripMargin,
    // the three committed file-set unions re-derived closed-form:
    // v1 = evens, v2 = all, v3 = all + offset re-ingests
    "pipeline_snapshot_read" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
        |n AS (SELECT count(*) AS c FROM d)
        |SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(sum(len) AS BIGINT) AS sum_len
        |FROM d WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INT), count(*), CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len) AS BIGINT)
        |FROM d
        |UNION ALL
        |SELECT CAST(3 AS INT),
        |       (SELECT count(*) FROM d) + count(*),
        |       CAST((SELECT sum(doc_id) FROM d)
        |            + sum(doc_id + (SELECT c FROM n)) AS BIGINT),
        |       CAST((SELECT sum(len) FROM d) + sum(len) AS BIGINT)
        |FROM d WHERE doc_id % 13 = 2""".stripMargin,
    // v4 = metadata rollback to v1 (the evens, one carried file
    // set); v3 (the overwrite) stays readable with its re-ingest rows
    // the clone pins v1 (evens); the source's latest sees all docs
    "pipeline_snapshot_clone" ->
      """SELECT 'clone' AS side, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'source' AS side, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents""".stripMargin,
    "pipeline_snapshot_rollback" ->
      """WITH d AS (SELECT doc_id FROM documents)
        |SELECT CAST(4 AS INT) AS version, CAST(1 AS INT) AS n_sets,
        |       (SELECT count(*) FROM d WHERE doc_id % 13 = 2) AS n_docs_v3,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM d WHERE doc_id % 2 = 0""".stripMargin,
    // evens/odds both span the id range (ranges can't prune); the
    // key bloom cuts the odd probe to the odd set: 1 of 2 dirs
    "pipeline_snapshot_point" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
        |p AS (SELECT 2 * CAST(floor(count(*) / 4) AS BIGINT) + 1 AS probe
        |      FROM d)
        |SELECT CAST(2 AS INT) AS dirs_total, CAST(1 AS INT) AS dirs_read,
        |       count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS text_len
        |FROM d WHERE doc_id = (SELECT probe FROM p)""".stripMargin,
    // compaction rewrites layout (3 sets -> 1), never data: v4's
    // rows = v3's = all docs + the mod-13 re-ingests under id+n
    "pipeline_dup_stats" ->
      """WITH g AS (
        |  SELECT md5(text) AS h, count(*) AS sz, min(n_chars) AS c1
        |  FROM documents GROUP BY 1
        |)
        |SELECT sz AS dup_count, count(*) AS n_groups,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(sum(sz - 1) AS BIGINT) AS n_excess_docs,
        |  CAST(sum((sz - 1) * c1) AS BIGINT) AS chars_wasted
        |FROM g GROUP BY sz""".stripMargin,
    // every verdict computed closed-form from doc_id arithmetic — the
    // synthesis/parse/group-choice/longest-match/tie/default stack
    // must reproduce it end to end
    "pipeline_robots" ->
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 4 AS f, (doc_id // 4) % 10 AS x,
         |         doc_id % 5 AS m
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN f = 0 THEN concat('cdn', x, '.example.com')
         |       WHEN f = 1 THEN concat('media.cdn', x, '.example.com')
         |       WHEN f = 2 THEN concat('site', x, '.blog.net')
         |       ELSE concat('site', x, '.notblog.net') END AS host,
         |  CASE WHEN m = 0 THEN concat('/private/ok/p', doc_id)
         |       WHEN m = 1 THEN concat('/private/p', doc_id)
         |       WHEN m = 2 THEN concat('/tmp', x, '/f')
         |       WHEN m = 3 THEN concat('/public/p', doc_id)
         |       ELSE '/other' END AS path,
         |  CASE WHEN f = 1 THEN m = 3
         |       ELSE m IN (0, 3, 4) END AS allowed,
         |  CASE WHEN f = 1 THEN (CASE WHEN m = 3 THEN '/public' ELSE '/' END)
         |       WHEN m = 0 THEN '/private/ok'
         |       WHEN m = 1 THEN '/private'
         |       WHEN m = 2 THEN concat('/tmp', x)
         |       ELSE NULL END AS matched_rule,
         |  CAST(CASE WHEN f = 1 THEN 1 ELSE x % 5 END AS INT) AS crawl_delay
         |FROM b""".stripMargin,
    // v1..v4 of the MOR lifecycle replayed as set algebra: v2 = v1
    // minus the deleted keys; v3 = (v2 minus upsert keys) ∪ updates;
    // v4 must equal v3 value-for-value (materialization is layout-only)
    "pipeline_snapshot_mor" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |n AS (SELECT count(*) AS c FROM d),
        |v2 AS (SELECT * FROM d WHERE doc_id % 7 <> 3),
        |upd AS (
        |  SELECT doc_id, text || ' [rev2]' AS text FROM d WHERE doc_id % 11 = 5
        |  UNION ALL
        |  SELECT doc_id + (SELECT c FROM n) AS doc_id, text FROM d
        |  WHERE doc_id % 13 = 2
        |), v3 AS (
        |  SELECT * FROM v2 WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT * FROM upd
        |), agg AS (
        |  SELECT 1 AS version, count(*) AS n_docs,
        |         CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len FROM d
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT),
        |         CAST(sum(length(text)) AS BIGINT) FROM v2
        |  UNION ALL
        |  SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT),
        |         CAST(sum(length(text)) AS BIGINT) FROM v3
        |  UNION ALL
        |  SELECT 4, count(*), CAST(sum(doc_id) AS BIGINT),
        |         CAST(sum(length(text)) AS BIGINT) FROM v3
        |)
        |SELECT CAST(version AS INT) AS version, n_docs, sum_id, sum_len
        |FROM agg""".stripMargin,
    // the layout facts (3-of-3 read before, 1-of-4 after) are pinned
    // as literals; the range aggregate replays over the plain table —
    // a rewrite that lost/duplicated rows or mis-pruning stats break it
    "pipeline_snapshot_cluster" ->
      """WITH n AS (SELECT count(*) AS c FROM documents)
        |SELECT CAST(3 AS INT) AS sets_read_before,
        |       CAST(3 AS INT) AS sets_total_before,
        |       CAST(1 AS INT) AS sets_read_after,
        |       CAST(4 AS INT) AS sets_total_after,
        |       count(*) AS n_range,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_range
        |FROM documents, n
        |WHERE doc_id BETWEEN n.c // 8 AND n.c // 5""".stripMargin,
    // the three layouts' skipping facts are pinned as literals; both
    // rows-scanned figures and the box aggregate replay closed-form
    // over the plain table (y = the same bijective scramble, w = the
    // same grid width) — lost rows, wrong stats, or wrong pruning all
    // break the hash
    "pipeline_snapshot_zorder" ->
      """WITH p AS (SELECT count(*) AS n,
        |                  (count(*) - 1) // 4 + 1 AS w FROM documents),
        |d AS (SELECT doc_id,
        |             (doc_id * 2654435761) % (SELECT n FROM p) AS y
        |      FROM documents)
        |SELECT CAST(3 AS INT) AS sets_read_pre,
        |       CAST(3 AS INT) AS sets_total_pre,
        |       (SELECT n FROM p) AS rows_scanned_pre,
        |       CAST(1 AS INT) AS sets_read_sorted,
        |       CAST(4 AS INT) AS sets_total_sorted,
        |       (SELECT count(*) FROM d, p
        |        WHERE doc_id // w = 1) AS rows_scanned_sorted,
        |       CAST(1 AS INT) AS sets_read_z,
        |       CAST(16 AS INT) AS sets_total_z,
        |       (SELECT count(*) FROM d, p
        |        WHERE doc_id // w = 1 AND y // w = 2) AS rows_scanned_z,
        |       (SELECT count(*) FROM d, p
        |        WHERE doc_id BETWEEN w + 3 AND 2 * w - 4
        |          AND y BETWEEN 2 * w + 3 AND 3 * w - 4) AS n_box,
        |       CAST((SELECT sum(doc_id) FROM d, p
        |        WHERE doc_id BETWEEN w + 3 AND 2 * w - 4
        |          AND y BETWEEN 2 * w + 3 AND 3 * w - 4) AS BIGINT) AS sum_box
        |""".stripMargin,
    "pipeline_snapshot_compact" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |n AS (SELECT count(*) AS c FROM d)
        |SELECT CAST(3 AS INT) AS sets_before, CAST(1 AS INT) AS sets_after,
        |       (SELECT count(*) FROM d)
        |         + (SELECT count(*) FROM d WHERE doc_id % 13 = 2) AS n_docs,
        |       CAST((SELECT sum(doc_id) FROM d)
        |            + (SELECT sum(doc_id + (SELECT c FROM n)) FROM d
        |               WHERE doc_id % 13 = 2) AS BIGINT) AS sum_id""".stripMargin,
    // rows added by commits 2..3 of the shared history: the odds
    // plus the mod-13 re-ingests under id+n — never the v1 evens
    "pipeline_snapshot_changes" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
        |n AS (SELECT count(*) AS c FROM d)
        |SELECT CAST(1 AS INT) AS from_version, CAST(3 AS INT) AS to_version,
        |       (SELECT count(*) FROM d WHERE doc_id % 2 = 1)
        |         + (SELECT count(*) FROM d WHERE doc_id % 13 = 2) AS n_docs,
        |       CAST((SELECT sum(doc_id) FROM d WHERE doc_id % 2 = 1)
        |            + (SELECT sum(doc_id + (SELECT c FROM n)) FROM d
        |               WHERE doc_id % 13 = 2) AS BIGINT) AS sum_id,
        |       CAST((SELECT sum(len) FROM d WHERE doc_id % 2 = 1)
        |            + (SELECT sum(len) FROM d WHERE doc_id % 13 = 2)
        |            AS BIGINT) AS sum_len""".stripMargin,
    // the incrementally-maintained buckets recomputed FROM SCRATCH
    // over the replayed final table (evens + odds + mod-13 re-ingests
    // under id+n): the engine folded deltas; the oracle never does
    "pipeline_snapshot_incr_agg" ->
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |rows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT c FROM n), text FROM documents
        |  WHERE doc_id % 13 = 2)
        |SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_len
        |FROM rows GROUP BY 1""".stripMargin,
    // two range-committed file sets; the >= median read must open
    // only the upper one (dirs_read = 1 of 2)
    "pipeline_snapshot_skip" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |h AS (SELECT CAST(floor(count(*) / 2) AS BIGINT) AS half FROM d)
        |SELECT CAST(2 AS INT) AS dirs_total, CAST(1 AS INT) AS dirs_read,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM d WHERE doc_id >= (SELECT half FROM h)""".stripMargin,
    // sets_read = 1 pins the PLANNING-time file-set skip: the scan's
    // input_file_name() set must never touch the below-half commit
    "pipeline_snapshot_scan" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |h AS (SELECT CAST(floor(count(*) / 2) AS BIGINT) AS half FROM d)
        |SELECT count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(1 AS BIGINT) AS sets_read
        |FROM d WHERE doc_id >= (SELECT half FROM h)""".stripMargin,
    // v1 = evens without the evolved column (n_with_q must be 0);
    // v2 = evens null-filled + odds carrying q_len = length(text)
    "pipeline_snapshot_evolve" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents)
        |SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |       CAST(0 AS BIGINT) AS n_with_q, CAST(0 AS BIGINT) AS sum_q
        |FROM d WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INT), count(*),
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN len ELSE 0 END)
        |            AS BIGINT)
        |FROM d""".stripMargin,
    // metadata-only rename/drop replayed closed-form: every version
    // holds the same rows; v2's rename keeps sum_len (renamed column
    // surfaces the original values), v3's drop narrows the resolved
    // schema to 2 columns while v1/v2 time-travel at 3
    "pipeline_snapshot_schema" ->
      """WITH base AS (SELECT count(*) AS n_rows,
        |                     CAST(sum(n_chars) AS BIGINT) AS sum_len
        |              FROM documents)
        |SELECT CAST(1 AS INT) AS version, n_rows, sum_len,
        |       CAST(3 AS INT) AS n_cols FROM base
        |UNION ALL SELECT CAST(2 AS INT), n_rows, sum_len,
        |       CAST(3 AS INT) FROM base
        |UNION ALL SELECT CAST(3 AS INT), n_rows, sum_len,
        |       CAST(2 AS INT) FROM base""".stripMargin,
    // v1=s1, v2=s1+s2 (append), v3=s3 (overwrite) → expiring <3 drops
    // 2 versions and GCs exactly the s1,s2 file sets; v3 = the mod-13
    // re-ingest set under id+n
    "pipeline_snapshot_expire" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |n AS (SELECT count(*) AS c FROM d)
        |SELECT CAST(2 AS INT) AS versions_expired,
        |       CAST(1 AS INT) AS versions_kept,
        |       CAST(2 AS INT) AS dirs_removed,
        |       CAST(1 AS INT) AS dirs_kept,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id + (SELECT c FROM n)) AS BIGINT) AS sum_id
        |FROM d WHERE doc_id % 13 = 2""".stripMargin,
    // v2 = v1 minus matched keys (mod-11 revisions, +7 chars each)
    // plus inserted re-ingests (mod-13, id+n)
    "pipeline_snapshot_merge" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
        |n AS (SELECT count(*) AS c FROM d)
        |SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(sum(len) AS BIGINT) AS sum_len
        |FROM d
        |UNION ALL
        |SELECT CAST(2 AS INT),
        |       (SELECT count(*) FROM d)
        |         + (SELECT count(*) FROM d WHERE doc_id % 13 = 2),
        |       CAST((SELECT sum(doc_id) FROM d)
        |            + (SELECT sum(doc_id + (SELECT c FROM n)) FROM d
        |               WHERE doc_id % 13 = 2) AS BIGINT),
        |       CAST((SELECT sum(len) FROM d)
        |            + 7 * (SELECT count(*) FROM d WHERE doc_id % 11 = 5)
        |            + (SELECT sum(len) FROM d WHERE doc_id % 13 = 2)
        |            AS BIGINT)""".stripMargin,
    // same update rule as pipeline_snapshot_merge, driven through SQL
    // text (MERGE INTO / VERSION AS OF / TIMESTAMP AS OF): row 1 =
    // pre-merge v1, row 2 = latest (post-merge), row 3 = v1 again
    // resolved by commit timestamp
    "pipeline_snapshot_sql" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
        |n AS (SELECT count(*) AS c FROM d),
        |v1 AS (SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |              CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |              CAST(sum(len) AS BIGINT) AS sum_len
        |       FROM d),
        |v2 AS (SELECT CAST(2 AS INT) AS version,
        |       (SELECT count(*) FROM d)
        |         + (SELECT count(*) FROM d WHERE doc_id % 13 = 2)
        |         AS n_docs,
        |       CAST((SELECT sum(doc_id) FROM d)
        |            + (SELECT sum(doc_id + (SELECT c FROM n)) FROM d
        |               WHERE doc_id % 13 = 2) AS BIGINT) AS sum_id,
        |       CAST((SELECT sum(len) FROM d)
        |            + 7 * (SELECT count(*) FROM d WHERE doc_id % 11 = 5)
        |            + (SELECT sum(len) FROM d WHERE doc_id % 13 = 2)
        |            AS BIGINT) AS sum_len)
        |SELECT * FROM v1
        |UNION ALL SELECT * FROM v2
        |UNION ALL SELECT CAST(3 AS INT), n_docs, sum_id, sum_len
        |FROM v1""".stripMargin,
    // the per-run lifecycle replayed: v2 drops doc_id%7=3 (MOR
    // vector), v3 suffixes ' [cyc]' where doc_id%5=1 AND n_chars>80
    // (tuple-keyed MOR upsert), v4 = v3 (compaction rewrites layout,
    // never data), current = v4
    "pipeline_snapshot_dml_cycle" ->
      """WITH v1 AS (SELECT doc_id, text, n_chars FROM documents),
        |v2 AS (SELECT * FROM v1 WHERE NOT (doc_id % 7 = 3)),
        |v3 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 5 = 1 AND n_chars > 80
        |                   THEN text || ' [cyc]' ELSE text END AS text,
        |              n_chars
        |       FROM v2)
        |SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_len FROM v1
        |UNION ALL SELECT CAST(2 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v2
        |UNION ALL SELECT CAST(3 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v3
        |UNION ALL SELECT CAST(4 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v3
        |UNION ALL SELECT CAST(5 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v3""".stripMargin,
    // the SQL DML chain replayed closed-form: v2 drops doc_id%7=3
    // (MOR vector), v3 suffixes ' [edited]' where doc_id%5=1 (MOR
    // upsert), v4 drops doc_id%11=0 AND length>200 over the EDITED
    // text (tuple-keyed MOR vector), v5 drops the ids a subquery
    // selects (COW rewrite) — same algebra, no snapshot machinery
    "pipeline_snapshot_dml" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id, text FROM v1 WHERE NOT (doc_id % 7 = 3)),
        |v3 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 5 = 1 THEN text || ' [edited]'
        |                   ELSE text END AS text
        |       FROM v2),
        |v4 AS (SELECT doc_id, text FROM v3
        |       WHERE NOT (doc_id % 11 = 0 AND length(text) > 200)),
        |v5 AS (SELECT doc_id, text FROM v4
        |       WHERE doc_id NOT IN (SELECT doc_id FROM v4
        |                            WHERE length(text) < 50))
        |SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_len FROM v1
        |UNION ALL SELECT CAST(2 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v2
        |UNION ALL SELECT CAST(3 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v3
        |UNION ALL SELECT CAST(4 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v4
        |UNION ALL SELECT CAST(5 AS INT), count(*),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(length(text)) AS BIGINT) FROM v5""".stripMargin,
    // integer-exact share chain replayed: exact counts → correctly-
    // rounded sqrt micros → exact integer totals → integer-ratio
    // divisions (boost from the already-rounded share columns, exactly
    // as the plan computes it)
    "pipeline_source_temperature" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |         CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
         |           AS sw_micros
         |  FROM documents GROUP BY source
         |), tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
         |         CAST(sum(sw_micros) AS BIGINT) AS tot_sw
         |  FROM per
         |), shares AS (
         |  SELECT source, n_docs, n_chars,
         |    CAST(round(n_docs * $TempShareScale / tot_docs) AS BIGINT)
         |      AS raw_share_micros,
         |    CAST(round(sw_micros * $TempShareScale / tot_sw) AS BIGINT)
         |      AS temp_share_micros
         |  FROM per CROSS JOIN tot
         |)
         |SELECT source, n_docs, n_chars, raw_share_micros,
         |       temp_share_micros,
         |       CAST(round(temp_share_micros * $TempShareScale
         |            / raw_share_micros) AS BIGINT) AS boost_micros
         |FROM shares""".stripMargin,
    // IVF-cell assignment + the domain-separated content-hash pick,
    // ranked per cell with the same (skey, vec_id) order
    "pipeline_diverse_sample" ->
      s"""WITH ${Similarity.centsCte}, assigned AS (
         |  SELECT e.vec_id,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.c), c.cid
         |     LIMIT 1) AS cluster
         |  FROM embeddings e
         |), keyed AS (
         |  SELECT CAST(cluster AS INT) AS cluster, vec_id,
         |    CAST(concat('0x', substr(md5(concat('diverse:',
         |      CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) AS skey
         |  FROM assigned
         |)
         |SELECT cluster, CAST(rn AS INT) AS rn, vec_id, skey FROM (
         |  SELECT cluster, vec_id, skey,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY skey, vec_id) AS rn
         |  FROM keyed)
         |WHERE rn <= $DiverseQuota""".stripMargin,
    "pipeline_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer
        |), delta AS (
        |  SELECT CASE WHEN o_custkey % 97 = 0
        |              THEN o_custkey + (SELECT max(c_custkey) FROM customer)
        |              ELSE o_custkey END AS d_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS spend_cents,
        |         count(*) AS n_orders
        |  FROM orders
        |  GROUP BY 1
        |)
        |SELECT coalesce(c_custkey, d_custkey) AS custkey,
        |       CASE WHEN c_custkey IS NOT NULL AND d_custkey IS NOT NULL
        |              THEN 'update'
        |            WHEN c_custkey IS NULL THEN 'insert'
        |            ELSE 'keep' END AS action,
        |       coalesce(bal_cents, 0) AS old_bal_cents,
        |       coalesce(spend_cents, 0) AS spend_cents,
        |       coalesce(bal_cents, 0) + coalesce(spend_cents, 0)
        |         AS new_bal_cents,
        |       coalesce(n_orders, 0) AS n_orders
        |FROM base FULL OUTER JOIN delta ON c_custkey = d_custkey""".stripMargin,
    "pipeline_scd2" ->
      """WITH chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |         CASE WHEN lag(o_orderpriority) OVER w IS NULL
        |                OR lag(o_orderpriority) OVER w <> o_orderpriority
        |              THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)
        |), ver AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         CAST(sum(chg) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS INT) AS version
        |  FROM chg
        |), spans AS (
        |  SELECT o_custkey, version, o_orderpriority,
        |         min(o_orderdate) AS valid_from,
        |         count(*) AS n_orders
        |  FROM ver GROUP BY o_custkey, version, o_orderpriority
        |)
        |SELECT o_custkey, version, o_orderpriority, valid_from,
        |       lead(valid_from) OVER w2 AS valid_to,
        |       CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(lead(valid_from) OVER w2 IS NULL AS INT) AS is_current
        |FROM spans
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)""".stripMargin,
    "pipeline_sample_weighted" ->
      s"""WITH s AS (
         |  SELECT doc_id, source, n_chars,
         |    (CAST(concat('0x', substr(md5(concat('wsample:',
         |       CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 0.5)
         |      / 4294967296.0 AS u
         |  FROM documents
         |), k AS (
         |  SELECT doc_id, source, n_chars,
         |         round(ln(u) / n_chars, 9) AS es_key
         |  FROM s
         |), r AS (
         |  SELECT source, doc_id, n_chars, es_key,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY es_key DESC, doc_id) AS rank
         |  FROM k
         |)
         |SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars, es_key
         |FROM r WHERE rank <= $WSampleK""".stripMargin,
    "pipeline_filter" ->
      s"""WITH gated AS (
         |  SELECT doc_id, text, source, n_chars,
         |         len(string_split(text, ' ')) AS n_tokens
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= $MinTokens
         |    AND CAST(len(list_filter(string_split(text, ' '),
         |              x -> list_contains($stopList, x))) AS DOUBLE)
         |        / len(string_split(text, ' ')) <= $MaxStopRatio
         |    AND lang = 'en'
         |), deduped AS (
         |  SELECT min(doc_id) AS keep_id FROM gated GROUP BY md5(text)
         |)
         |-- sum(int) must be cast: DuckDB returns HUGEINT, which the
         |-- driver's pandas bridge renders as float64 ("42.0" vs "42").
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
         |FROM gated JOIN deduped ON doc_id = keep_id
         |GROUP BY source""".stripMargin,
    "pipeline_decontaminate" -> decontaminateSql,
    // the graded score: distinct-shingle denominator vs eval-hit
    // numerator, banded on the ROUNDED fraction (both engines band
    // the same 6dp value — no knife-edge drift)
    "pipeline_decontaminate_overlap" ->
      """WITH shd AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(generate_series(1, len(t)-2),
        |             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 3
        |), ev AS (
        |  SELECT DISTINCT s FROM shd WHERE doc_id % 97 = 0
        |), tot AS (
        |  SELECT doc_id, count(DISTINCT s) AS n_shingles
        |  FROM shd GROUP BY 1
        |), hit AS (
        |  SELECT c.doc_id, count(DISTINCT c.s) AS n_hit
        |  FROM shd c JOIN ev ON c.s = ev.s GROUP BY 1
        |)
        |SELECT t.doc_id, t.n_shingles,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_shingles, 6)
        |    AS overlap_frac,
        |  CASE WHEN round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
        |                  / t.n_shingles, 6) >= 0.5 THEN 'reject'
        |       WHEN coalesce(h.n_hit, 0) > 0 THEN 'flag'
        |       ELSE 'clean' END AS band
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id""".stripMargin,
    // chosen = (score DESC, doc_id) argmax, rejected = (score ASC,
    // doc_id) argmin, per bucket; coinciding extremes emit nothing
    "pipeline_pref_pairs" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 50 AS bucket,
        |    round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      AS score
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 1
        |), ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY bucket
        |                       ORDER BY score DESC, doc_id) AS rc,
        |    row_number() OVER (PARTITION BY bucket
        |                       ORDER BY score ASC, doc_id) AS rr
        |  FROM s
        |)
        |SELECT c.bucket, c.doc_id AS chosen_id, r.doc_id AS rejected_id,
        |       c.score AS chosen_score, r.score AS rejected_score,
        |       round(c.score - r.score, 6) AS margin
        |FROM (SELECT * FROM ranked WHERE rc = 1) c
        |JOIN (SELECT * FROM ranked WHERE rr = 1) r ON c.bucket = r.bucket
        |WHERE c.doc_id <> r.doc_id""".stripMargin,
    // bloom prune + exact confirm ≡ exact — same oracle by construction
    "pipeline_decontaminate_bloom" -> decontaminateSql,
    "pipeline_mix" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source, lang, len(t) AS n_toks,
         |         round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
         |           AS score
         |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS t
         |        FROM documents)
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY source, lang
         |                               ORDER BY score DESC, doc_id) AS rn
         |  FROM scored
         |)
         |SELECT source, lang, count(*) AS n_selected,
         |       CAST(sum(n_toks) AS BIGINT) AS sel_tokens,
         |       max(score) AS best_score, min(score) AS worst_score
         |FROM ranked WHERE rn <= $MixCapPerStratum
         |GROUP BY source, lang""".stripMargin,
    "pipeline_ingest" ->
      s"""${Dedup.shCte}, delta AS (
         |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
         |), base_h AS (
         |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
         |), cross_pairs AS (
         |  SELECT e.d, count(*) AS n_near FROM (
         |    SELECT doc_a AS d, doc_b AS o FROM pairs
         |    UNION ALL SELECT doc_b, doc_a FROM pairs) e
         |  WHERE e.d % 10 = 0 AND e.o % 10 <> 0
         |  GROUP BY e.d
         |)
         |SELECT doc_id,
         |  CAST(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS exact_dup,
         |  CAST(coalesce(c.n_near, 0) AS BIGINT) AS n_near_dup,
         |  CAST(CASE WHEN b.h IS NULL AND c.n_near IS NULL THEN 1 ELSE 0 END
         |       AS BIGINT) AS admitted
         |FROM delta d
         |LEFT JOIN base_h b ON d.h = b.h
         |LEFT JOIN cross_pairs c ON d.doc_id = c.d""".stripMargin,
    "pipeline_split" ->
      s"""${Dedup.shCte}, ws AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN b < ${SplitBuckets - 2} THEN 'train'
         |         WHEN b = ${SplitBuckets - 2} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, n_chars,
         |          CAST(concat('0x', substr(md5(concat('split:',
         |            CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT)
         |            % $SplitBuckets AS b
         |        FROM documents)
         |), leaky AS (
         |  SELECT DISTINCT e.d FROM (
         |    SELECT doc_a AS d, doc_b AS o FROM pairs
         |    UNION ALL SELECT doc_b, doc_a FROM pairs) e
         |  JOIN ws wa ON e.d = wa.doc_id
         |  JOIN ws wb ON e.o = wb.doc_id
         |  WHERE wa.split <> wb.split
         |)
         |SELECT split, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS split_chars,
         |       CAST(sum(CASE WHEN doc_id IN (SELECT d FROM leaky)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
         |FROM ws GROUP BY split""".stripMargin,
    // the grouped split replayed: component representative from the
    // recursive-CTE closure of the same pairs, split hash over the
    // representative, and the identical leakage audit (which must now
    // count zero)
    "pipeline_split_grouped" ->
      s"""${Dedup.shCte.replace("WITH sh AS", "WITH RECURSIVE sh AS")},
         |${Dedup.compCte}, ws AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN b < ${SplitBuckets - 2} THEN 'train'
         |         WHEN b = ${SplitBuckets - 2} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT d.doc_id, d.n_chars,
         |          CAST(concat('0x', substr(md5(concat('gsplit:',
         |            CAST(coalesce(c.component, d.doc_id) AS VARCHAR))),
         |            1, 7)) AS BIGINT) % $SplitBuckets AS b
         |        FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id)
         |), leaky AS (
         |  SELECT DISTINCT e.d FROM (
         |    SELECT doc_a AS d, doc_b AS o FROM pairs
         |    UNION ALL SELECT doc_b, doc_a FROM pairs) e
         |  JOIN ws wa ON e.d = wa.doc_id
         |  JOIN ws wb ON e.o = wb.doc_id
         |  WHERE wa.split <> wb.split
         |)
         |SELECT split, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS split_chars,
         |       CAST(sum(CASE WHEN doc_id IN (SELECT d FROM leaky)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
         |FROM ws GROUP BY split""".stripMargin,
    // the card replayed: same (source, lang) agg, source-partitioned
    // windows, per-lang micro-nat terms, exact integer Σ c·term, one
    // final division + round
    "pipeline_datacard" ->
      """WITH sl AS (
        |  SELECT source, lang, count(*) AS c,
        |         CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY source, lang
        |), e AS (
        |  SELECT source, lang, c, chars,
        |         sum(c) OVER (PARTITION BY source) AS n,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY c DESC, lang) AS rn
        |  FROM sl
        |)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  count(*) AS n_langs,
        |  max(CASE WHEN rn = 1 THEN lang END) AS dominant_lang,
        |  CAST(round(sum(c * CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1e6)
        |                          AS BIGINT)) * 1.0 / max(n)) AS BIGINT)
        |    AS entropy_micros
        |FROM e GROUP BY source""".stripMargin,
    // the greedy prefix fill replayed: same hash order, same running
    // sum frame, same half-total budget (integer division)
    "pipeline_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(concat('0x', substr(md5(concat('budget:',
        |      CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS skey
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |    CAST(sum(n_toks) AS BIGINT) // 2 AS budget
        |  FROM d GROUP BY source
        |), c AS (
        |  SELECT d.doc_id, d.source, b.budget,
        |    sum(d.n_toks) OVER (PARTITION BY d.source
        |      ORDER BY d.skey, d.doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN b ON d.source = b.source
        |)
        |SELECT source, count(*) AS n_kept,
        |  CAST(max(cum) AS BIGINT) AS tokens_kept,
        |  CAST(max(budget) AS BIGINT) AS budget,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_ids_sum
        |FROM c WHERE cum <= budget GROUP BY source""".stripMargin,
    // hex→int: CAST(concat('0x',…) AS BIGINT) ≡ Spark conv(…,16,10);
    // 7 hex chars = 28 bits, overflow-free in both engines.
    "pipeline_shard" ->
      s"""SELECT CAST(concat('0x', substr(md5(text), 1, 7)) AS BIGINT)
         |         % $NShards AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS shard_chars,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM documents
         |GROUP BY 1""".stripMargin,
    "pipeline_epoch_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(concat('shuf:$EpochSeed:',
         |           CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS h
         |  FROM documents
         |)
         |SELECT doc_id, h % $EpochShards AS shard,
         |       row_number() OVER (PARTITION BY h % $EpochShards
         |                          ORDER BY h, doc_id) AS pos
         |FROM h""".stripMargin,
    "pipeline_url_filter" -> {
      val blValues = UrlBlocklist.map(e => s"('$e')").mkString(", ")
      s"""WITH hosts AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 4 AS INT)
         |      WHEN 0 THEN concat('cdn', x, '.example.com')
         |      WHEN 1 THEN concat('media.cdn', x, '.example.com')
         |      WHEN 2 THEN concat('site', x, '.blog.net')
         |      ELSE concat('site', x, '.notblog.net')
         |    END AS host
         |  FROM (SELECT doc_id, CAST((doc_id // 4) % 10 AS VARCHAR) AS x
         |        FROM documents)
         |), sufs AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(L) - 1),
         |      i -> array_to_string(L[i:], '.'))) AS suffix
         |  FROM (SELECT doc_id, string_split(host, '.') AS L FROM hosts)
         |), m AS (
         |  SELECT doc_id, min(entry) AS blocked_by
         |  FROM sufs JOIN (VALUES $blValues) b(entry) ON suffix = entry
         |  GROUP BY doc_id
         |)
         |SELECT h.doc_id, h.host, m.blocked_by,
         |       m.blocked_by IS NULL AS kept
         |FROM hosts h LEFT JOIN m USING (doc_id)""".stripMargin
    },
    // `//` (floor div) — DuckDB CAST(double AS INT) ROUNDS, Spark
    // truncates; chunk math must stay integral end to end.
    "pipeline_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(text), 1, 7)) AS BIGINT)
         |      % $NShards AS shard,
         |    len(string_split(text, ' ')) AS n_toks
         |  FROM documents
         |), c AS (
         |  SELECT shard, doc_id, n_toks,
         |    sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
         |                      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d
         |)
         |SELECT shard,
         |       CAST((cum - n_toks) // $ContextLen AS BIGINT) AS chunk_id,
         |       count(*) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS started_tokens
         |FROM c GROUP BY 1, 2""".stripMargin)
}
