package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.TrackedDataset
import graft.Tables.t

/** Text-analysis operators over the `documents` table: quality scoring,
  * language identification, token counting, document fingerprinting,
  * tf-idf. All per-document work is narrow (no shuffle) except where an
  * aggregation is inherent (df counts for tf-idf, which shuffles once on
  * the token key); everything stays in whole-stage codegen via built-in
  * string/array/higher-order functions.
  */
object TextAnalysis {

  /** Stopword list, fixed from the corpus vocabulary. */
  val Stopwords: Seq[String] = Seq("a", "the", "value", "key", "row")

  /** Per-language marker tokens for the n-gram-style language-ID vote.
    * The synthetic corpus shares one vocabulary across langs, so these
    * are calibration markers rather than real function words; the
    * operator mechanics (weighted marker vote, argmax with deterministic
    * tie-break) are what a real lang-ID table would plug into. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "de" -> "group", "de" -> "hash", "de" -> "window", "de" -> "stream",
    "en" -> "the", "en" -> "a", "en" -> "data", "en" -> "fast",
    "es" -> "table", "es" -> "column", "es" -> "row", "es" -> "sort",
    "fr" -> "merge", "fr" -> "join", "fr" -> "query", "fr" -> "scan",
    "zh" -> "big", "zh" -> "small", "zh" -> "batch", "zh" -> "vector")

  private def toks: Column = split(col("text"), " ")

  /** Quality scoring: token counts, lexical diversity, stopword ratio,
    * mean token length, and a composite score — the length/punct/
    * stopword-ratio family of pipeline quality filters. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("n_stop",
        size(filter(col("toks"), x => x.isInCollection(Stopwords))))
      // single-space-joined text ⇒ Σ token length = length − (n−1)
      .withColumn("mean_tok_len",
        round((length(col("text")) - col("n_tokens") + 1)
          .cast("double") / col("n_tokens"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("uniq_ratio",
        round(col("n_uniq").cast("double") / col("n_tokens"), 6))
      .withColumn("quality",
        round(col("n_uniq").cast("double") / col("n_tokens") * 0.5
          + (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.3
          + least(col("n_tokens"), lit(100)).cast("double") / 100 * 0.2, 6))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
        col("mean_tok_len"), col("stop_ratio"), col("uniq_ratio"),
        col("quality"))

  /** Fixed quality-classifier weights — stand-ins for a distilled
    * linear model's published coefficients (real pipelines train a
    * fastText/logistic scorer on labeled quality data and export its
    * weights; inference is then pure arithmetic). Order: bias,
    * uniq_ratio, stop_ratio, len_norm, mean_tok_len. */
  val QmBias = -0.15
  val QmUniq = 0.8
  val QmStop = -1.2
  val QmLen = 0.6
  val QmTokLen = 0.05

  /** The linear quality model's raw feature columns (`ur`, `sr`,
    * `ln_`, `mtl`) over a (doc_id, text, …) frame — one narrow codegen
    * projection shared by fixed-weight inference, trained inference
    * and the GD trainer, so the three stay feature-identical by
    * construction. */
  private def qualityFeatureCols(frame: DataFrame): DataFrame =
    frame
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("ur",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("sr",
        size(filter(col("toks"), x => x.isInCollection(Stopwords)))
          .cast("double") / col("n_tokens"))
      .withColumn("ln_",
        least(col("n_tokens"), lit(100)).cast("double") / 100)
      .withColumn("mtl",
        (length(col("text")) - col("n_tokens") + 1)
          .cast("double") / col("n_tokens"))

  /** MODEL INFERENCE in-plan: score every document with a linear
    * quality classifier — the "classifier-filtered" curation step
    * (GPT-3/CCNet-style), expressed as a narrow codegen projection so
    * scoring runs at scan speed over 100 TB with zero shuffles, no
    * model server, no UDF. The logit stays in exact left-to-right
    * double arithmetic (no transcendentals — a sigmoid would only
    * monotonically rescale it, so the keep threshold is equivalently a
    * logit cut at 0). Emits the features, the rounded logit, and the
    * keep decision. */
  def textQualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityFeatureCols(t(spark, dir, "documents"))
      .withColumn("logit",
        lit(QmBias) + col("ur") * QmUniq + col("sr") * QmStop +
          col("ln_") * QmLen + col("mtl") * QmTokLen)
      .select(col("doc_id"),
        round(col("ur"), 6).as("uniq_ratio"),
        round(col("sr"), 6).as("stop_ratio"),
        round(col("logit"), 6).as("model_logit"),
        (col("logit") > 0).cast("int").as("kept"))

  val TrainIters = 10
  val TrainLr = 4.0
  private[operators] val TrainFeatureNames =
    Seq("bias", "uniq_ratio", "stop_ratio", "len_norm", "mean_tok_len_norm")

  /** MODEL TRAINING in-engine — the missing half of
    * [[textQualityModel]]: learn the linear quality classifier's
    * weights by batch-gradient-descent logistic regression against a
    * closed-form label (`lang = 'en'` — "does this read like English
    * prose", the CCNet/fastText-style quality target), instead of
    * importing published coefficients. The loop is the k-means shape
    * exactly: the feature relation (5 bounded-[0,1] doubles per doc, a
    * narrow codegen projection) is cached once; each iteration is ONE
    * partial/final aggregate pair producing d+1 gradient sums — k·d
    * driver state, one 1-row collect per round, nothing corpus-sized
    * ever moves. At 100 TB each iteration is a scan of the cached
    * features with map-side combine; 10 iterations ≈ 10 scans, the
    * textbook distributed-GD cost. Float parity follows the Lloyd-loop
    * rule: each round's updated weights are quantized to 6dp (HALF_UP,
    * both engines), so per-row sigmoid ulp noise and float-summation
    * order cannot compound across rounds; the oracle replays the
    * recursion with a recursive CTE carrying the weight vector as its
    * state row. */
  def textQualityTrain(spark: SparkSession, dir: String): DataFrame =
    qualityTrainOf(spark, t(spark, dir, "documents"))

  /** Training view of the quality features: label + x0..x4, all
    * bounded to [0,1] — unbounded features destabilize fixed-step GD
    * (oscillation, not convergence), so the mean token length is
    * soft-capped and rescaled. Carries doc_id so the trained-inference
    * readout scores the exact frame the trainer saw. */
  private def trainFeatures(docs: DataFrame): DataFrame =
    qualityFeatureCols(docs)
      .select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y"),
        lit(1.0d).as("x0"),
        col("ur").as("x1"),
        col("sr").as("x2"),
        col("ln_").as("x3"),
        (least(col("mtl"), lit(10.0d)) / lit(10.0d)).as("x4"))

  /** The GD loop itself; returns the learned 6dp-quantized weights.
    * Driver state = d+1 doubles; per iteration ONE aggregate job and a
    * 1-row collect. */
  private[operators] def trainQualityWeights(docs: DataFrame): Array[Double] = {
    val d = TrainFeatureNames.length
    val feats = trainFeatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Array.fill(d)(0.0d)
      for (_ <- 0 until TrainIters) {
        // logit in exact left-to-right order (the oracle mirrors it)
        val z = (0 until d).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
        val p = lit(1.0d) / (lit(1.0d) + exp(-z))
        // per-ROW gradient terms round to integer micro-units BEFORE
        // the sum (the scoreWithWeights/BM25 parity rule): the sum is
        // then exact integer arithmetic in any order, so aggregation
        // order — Spark's partial/final tree vs DuckDB's serial fold —
        // cannot produce a float sum that lands on opposite sides of
        // the 6dp weight quantization boundary (the last float-sum
        // hash-gate exposure, per the round-7 advice)
        val gradCols = (0 until d).map(j =>
          sum(round(col(s"x$j") * (col("y") - p) * lit(1e6d)).cast("long"))
            .as(s"g$j"))
        val row = feats.agg(count(lit(1)).cast("double").as("n"),
          gradCols: _*).collect()(0)
        val n = row.getDouble(0)
        w = Array.tabulate(d)(j => graft.expressions.RoundHalfUp.round(
          w(j) + TrainLr * (row.getLong(j + 1).toDouble / 1e6) / n, 6))
      }
      w
    } finally { feats.unpersist(); () }
  }

  /** Core of [[textQualityTrain]] over any (doc_id, text, lang)
    * frame; exposed for the crafted separable-fixture spec. */
  def qualityTrainOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    trainQualityWeights(docs).toSeq.zipWithIndex
      .map { case (wt, i) => (i + 1, TrainFeatureNames(i), wt) }
      .toDF("feature_idx", "feature", "weight")
  }

  /** TRAINED inference — the train→infer composition end-to-end: run
    * the GD loop, then score EVERY document with the learned weights
    * injected as plan literals (the same zero-shuffle scan-speed
    * inference as [[textQualityModel]], with trained instead of
    * published coefficients). The logit reads out in integer
    * MICRO-UNITS, each x·w term rounded to micros BEFORE the exact
    * integer sum (the BM25 parity rule — integer-plus-half boundary
    * doubles are dyadic-exact, so both engines round them identically;
    * a single round(Σ, 6) of the raw float logit sat exactly on a
    * 7th-digit boundary at sf0.001 and the two engines' rounding paths
    * disagreed). The keep decision gates on the integer sign. */
  def textQualityScoreTrained(spark: SparkSession, dir: String): DataFrame =
    qualityScoreTrainedOf(spark, t(spark, dir, "documents"))

  /** Score a (doc_id, text, lang) frame with a given weight vector —
    * the stateless scoring projection of trained inference (narrow
    * ops only). */
  private[graft] def scoreWithWeights(docs: DataFrame,
                                      w: Array[Double]): DataFrame = {
    val micros = w.indices.map(j =>
      round(col(s"x$j") * lit(w(j)) * lit(1e6d)).cast("long")).reduce(_ + _)
    trainFeatures(docs)
      .withColumn("logit_micros", micros)
      .select(col("doc_id"), col("logit_micros"),
        round(col("logit_micros") / lit(1e6d), 6).as("trained_logit"),
        (col("logit_micros") > 0).cast("int").as("kept_trained"),
        col("y").cast("int").as("is_en"))
  }

  /** Core of [[textQualityScoreTrained]] over any (doc_id, text, lang)
    * frame. */
  def qualityScoreTrainedOf(spark: SparkSession, docs: DataFrame): DataFrame =
    scoreWithWeights(docs, trainQualityWeights(docs))

  /** Language ID: explode tokens, broadcast-join the marker table,
    * majority vote with (count desc, lang asc) tie-break, 'und' when no
    * marker hits. */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val markers = LangMarkers.toDF("cand_lang", "marker")
    val votes = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("tok"))
      .join(broadcast(markers), col("tok") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("cand_lang"))
    val best = votes.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"),
        col("hits"))
    t(spark, dir, "documents").select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** TRAINED NAIVE-BAYES LANGUAGE ID (model readout) — the fourth
    * trained-model family (after k-means, BPE and the logreg quality
    * classifier): an add-1-smoothed multinomial Naive Bayes trained
    * in-engine on the corpus's own `lang` labels, upgrading the
    * marker-list heuristic [[textLangId]] to a learned classifier.
    * This query reads out the model's per-language normalization
    * constants: document prior, token mass, and the unseen-token
    * log-probability floor — each log in integer MICRO-NATS (the
    * perplexity parity rule: round per term, never sum floats).
    * Shape: two hash aggregations (per-lang doc and token counts) plus
    * two broadcast 1-row aggregates (corpus size, |V|) — the model
    * summary is O(languages) however large the corpus. */
  def textLangIdTrain(spark: SparkSession, dir: String): DataFrame =
    langIdTrainOf(t(spark, dir, "documents"))

  /** Core of [[textLangIdTrain]] over any (doc_id, text, lang) frame. */
  def langIdTrainOf(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("lang"), explode(toks).as("tok"))
    val vocab = occ.agg(count_distinct(col("tok")).cast("double")
      .as("v_size"))
    val tot = docs.agg(count(lit(1)).cast("double").as("tot_docs"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(occ.groupBy(col("lang")).agg(count(lit(1)).as("n_toks")), "lang")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_toks"),
        round(log(col("n_docs") / col("tot_docs")) * lit(1e6d))
          .cast("long").as("prior_micros"),
        round(log(lit(1.0d) / (col("n_toks") + col("v_size"))) * lit(1e6d))
          .cast("long").as("lp0_micros"),
        col("v_size").cast("long").as("v_size"))
  }

  /** TRAINED NAIVE-BAYES LANGUAGE ID (fit + predict) — every document
    * scored under the [[langIdTrainOf]] model and assigned the argmax
    * language, with the stored label riding along as an in-engine
    * accuracy readout (`is_correct` — the ann_recall pattern: the
    * evaluation lives on the same oracle board as the operator).
    *
    * The scoring join is SPARSE: a document's occurrences join the
    * (token, lang) count model — rows exist only where a language has
    * seen the token — and every unseen occurrence contributes the
    * per-language constant floor, folded in arithmetically as
    * (n_toks_doc − n_seen)·lp0. That keeps the joined stream at
    * |occurrences|·(langs that know the token) rows instead of
    * |vocab|·|langs| grid rows, with all per-term logs rounded to
    * integer micro-nats BEFORE the per-doc-language sum (exact integer
    * totals; argmax gates on integers, ties broken by language code).
    * The token stream is persisted (model build and scoring both read
    * it); the model-stats side is a 5-row broadcast; the only
    * data-sized shuffles are the (tok, lang) count, the scoring join
    * keyed on the token, and the per-(doc, lang) aggregation. */
  def textLangIdNb(spark: SparkSession, dir: String): DataFrame =
    langIdNbOf(t(spark, dir, "documents"))

  /** Core of [[textLangIdNb]] over any (doc_id, text, lang) frame:
    * fit the model on the frame, then score the same frame under it. */
  def langIdNbOf(docs: DataFrame): DataFrame = {
    val (lp, stats) = nbModelOf(docs)
    scoreWithNbModel(docs, lp, stats)
  }

  /** Train the multinomial NB model: returns `(lp, stats)` —
    * `lp (tok, cand_lang, lp_micros)` is the seen-token conditional
    * table (rows only where a language has seen the token),
    * `stats (cand_lang, n_toks, v_size, lp0_micros, prior_micros)` is
    * the 5-row normalization-constant frame. The token stream is
    * persisted (token totals and the count model both read it). */
  def nbModelOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val occ = docs.select(col("lang"), explode(toks).as("tok"))
      .persistTracked()
    val vocab = occ.agg(count_distinct(col("tok")).cast("double")
      .as("v_size"))
    val tot = docs.agg(count(lit(1)).cast("double").as("tot_docs"))
    // eagerly materialized: the langs-row stats frame feeds BOTH the
    // lp build (a broadcast join) and the caller's scoring crossJoin —
    // without the cut, each consumer re-derives the whole subtree
    // (per-lang doc + token counts, the two-exchange count(distinct)
    // vocab aggregate, the corpus count: 2 extra full passes over the
    // persisted token stream and ~6 exchanges per run, visible as two
    // identical aggregate branches in the executed plan). Values are
    // unchanged — same aggregates, computed once.
    val statsPlan = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(occ.groupBy(col("lang")).agg(count(lit(1)).as("n_toks")), "lang")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(tot))
      .select(col("lang").as("cand_lang"), col("n_toks"), col("v_size"),
        round(log(lit(1.0d) / (col("n_toks") + col("v_size"))) * lit(1e6d))
          .cast("long").as("lp0_micros"),
        round(log(col("n_docs") / col("tot_docs")) * lit(1e6d))
          .cast("long").as("prior_micros"))
    // materialized as a DRIVER-LOCAL relation (langs-count rows): one
    // collect job, then every consumer's broadcast build reads an
    // in-memory LocalTableScan — no job, no exchange per consumer —
    // and the BNLJ plan lint's boundedness proof is structural
    // (LocalTableScanExec). The r18 localCheckpoint planned as Scan
    // ExistingRDD (lint-opaque), and the first r19 fix
    // (checkpoint + limit(count)) re-bounded it at the cost of an
    // extra job and a single-partition exchange per consumer —
    // measured 0.96 -> 1.40 s warm on the board; this form keeps the
    // one-time materialization with strictly fewer jobs than either.
    val stats = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(statsPlan.collect(): _*), statsPlan.schema)
    val lp = occ.groupBy(col("tok"), col("lang")).agg(count(lit(1)).as("c"))
      .withColumnRenamed("lang", "cand_lang")
      .join(broadcast(stats.select(col("cand_lang"), col("n_toks"),
        col("v_size"))), "cand_lang")
      .select(col("tok"), col("cand_lang"),
        round(log((col("c") + lit(1.0d)) / (col("n_toks") + col("v_size")))
          * lit(1e6d)).cast("long").as("lp_micros"))
    (lp, stats)
  }

  /** Stateless NB scoring of a (doc_id, text, lang) frame under a
    * trained `(lp, stats)` model — the predict half of fit+predict.
    * `lp` is keyed on the token (distributed hash join — the model is
    * vocab-sized, never broadcast), `stats` is a 5-row broadcast. */
  private[graft] def scoreWithNbModel(docs: DataFrame, lp: DataFrame,
                                      stats: DataFrame): DataFrame = {
    // SHUFFLE_HASH with the MODEL as build side, pinned by hint: left
    // to estimates, the planner broadcast the EXPLODED TOKEN STREAM
    // (corpus-sized) and streamed the vocab-sized model through one
    // partition — the x10 ladder rung then spent 12.5 s of its 16 s
    // in a single-task hash aggregate behind that join (SQL-tab node
    // metrics; estimates for a Generate over a cached relation vs an
    // aggregate output are both unreliable, and the wrong one won).
    // The hint makes the intended shape explicit at every scale: both
    // sides exchange on the token key, the per-partition hash builds
    // on the model slice, the corpus streams — x10 warm 14.2 s -> 4.7 s
    // measured, and the join can never invert into a corpus broadcast.
    val seen = docs.select(col("doc_id"), explode(toks).as("tok"))
      .join(lp.hint("SHUFFLE_HASH"), "tok")
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("n_seen"), sum(col("lp_micros")).as("seen_micros"))
    val docLen = docs.select(col("doc_id"), col("lang").as("true_lang"),
      size(toks).cast("long").as("n_toks_doc"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("ll_micros").desc, col("cand_lang"))
    docLen
      .crossJoin(broadcast(stats.select(col("cand_lang"), col("lp0_micros"),
        col("prior_micros"))))
      .join(seen, Seq("doc_id", "cand_lang"), "left")
      .withColumn("ll_micros", coalesce(col("seen_micros"), lit(0L))
        + (col("n_toks_doc") - coalesce(col("n_seen"), lit(0L)))
          * col("lp0_micros")
        + col("prior_micros"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"),
        col("ll_micros"), col("true_lang"),
        (col("cand_lang") === col("true_lang")).as("is_correct"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex count
    * (alnum runs — the subword-precursor segmentation). */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
        length(col("text")).as("n_chars_m"))

  /** Document fingerprinting:
    *  - `fp_poly`: rolling polynomial hash over the token stream
    *    (acc·31 + md5₃₂(token) mod 1e9+7) — order-sensitive;
    *  - `fp_min`: winnowing-style min md5 over 4-token shingles —
    *    robust to local edits. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val tokHash = (c: Column) =>
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    t(spark, dir, "documents")
      .withColumn("toks", toks)
      .where(size(col("toks")) >= 4)
      .select(col("doc_id"),
        aggregate(col("toks"), lit(0L),
          (acc, tk) => pmod(acc * 31 + tokHash(tk), lit(M))).as("fp_poly"),
        array_min(transform(Dedup.shingleCol(col("toks"), 4), s => md5(s)))
          .as("fp_min"))
  }

  /** tf-idf: top-3 terms per document. One shuffle on the token key for
    * document frequencies, joined back without a broadcast hint (the
    * vocabulary is unbounded at corpus scale — AQE picks broadcast only
    * when it actually fits), then one per-doc window. `n_docs` rides in
    * the plan as a broadcast 1-row aggregate instead of a separate
    * driver-side `count()` job. `tf` is persisted: both `df` and the
    * final join read it, and recomputing means re-exploding the corpus. */
  def textTfIdf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tfIdfScored(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("score"))
  }

  /** The (doc_id, tok, score) tf-idf relation shared by [[textTfIdf]]
    * and [[textKeywordsNative]]. */
  private def tfIdfScored(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .persistTracked()
    // tf is unique per (doc_id, tok) by construction: plain count ≡
    // count(DISTINCT doc_id), without the distinct expansion
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(df_, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .select(col("doc_id"), col("tok"), col("score"))
  }

  val CollocMinCount = 3L
  val CollocTopK = 20

  /** COLLOCATION EXTRACTION — corpus-level PMI over adjacent-token
    * bigrams (the classic phrase-mining signal: "new york" scores,
    * "of the" doesn't): pmi = ln(c₁₂·N / (c₁·c₂)) with N = total
    * bigram instances, floored at [[CollocMinCount]] occurrences so
    * hapax noise can't dominate. Counts are exact integers from one
    * shuffle each (bigram key, unigram key); the unigram join is
    * keyed on the token — distributed hash join, NO broadcast
    * (vocabulary is unbounded at corpus scale, the tf-idf rule); N
    * rides as a broadcast 1-row aggregate. ONE rounded log at the
    * end (the pipeline_filter bit-parity lesson). Top-[[CollocTopK]]
    * by (pmi, bigram) via TakeOrderedAndProject. */
  def textCollocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docs = t(spark, dir, "documents")
    val bi = docs
      .withColumn("toks", toks)
      .where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persistTracked()
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .where(col("c12") >= CollocMinCount)
    val uni = bi.select(col("w1").as("w")) // first-position unigrams…
      .unionByName(bi.select(col("w2").as("w"))) // …plus second: see note
    // c(w) = occurrences of w across BOTH bigram slots — double-counts
    // interior tokens consistently on both sides of the compare, and
    // keeps every count derivable from the persisted bigram relation
    val cw = uni.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val n = bi.agg(count(lit(1)).cast("double").as("nb"))
    c12
      .join(cw.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(cw.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12") * col("nb") / (col("c1") * col("c2"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  /** Same row set as [[textTfIdf]] minus the rank column — per-doc
    * keyword extraction — but through the NATIVE
    * [[graft.plans.TopKPerKey]] operator instead of a window: the
    * bounded-heap top-k pass runs map-side BEFORE the shuffle, so the
    * exchange carries ≤ partitions·docs·3 rows instead of the whole
    * (doc, token) relation. At 100 TB that relation is tokens-sized —
    * the window lowering shuffles ALL of it to rank per doc, the heap
    * cut ships only candidate keywords. (score, tok) is a total order
    * within a doc (tok unique per (doc, tok) row). */
  def textKeywordsNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      tfIdfScored(spark, dir),
      Seq("doc_id"), Seq(("score", false), ("tok", true)), 3)

  /** LM-style rarity filter — the integer-exact core of a perplexity
    * quality filter: a bigram "model" (corpus occurrence counts) built
    * in one shuffle on the bigram key, joined back to each document's
    * bigrams, scoring docs by how many of their bigrams are corpus-rare
    * (count ≤ RareMax). The model join is keyed on the bigram —
    * distributed hash join, NO broadcast (vocabulary is unbounded at
    * corpus scale, the tf-idf rule); the bigram stream is persisted
    * because model build and scoring both read it. Exact integers plus
    * ONE final division keep the oracle bit-parity safe (the
    * pipeline_filter lesson); a real perplexity filter would replace
    * the rarity test with Σ−ln P(w₂|w₁) over the same join. */
  val RareMax = 2

  def textBigramRarity(spark: SparkSession, dir: String): DataFrame =
    bigramRarityOf(t(spark, dir, "documents"))

  /** Core of [[textBigramRarity]] over any (doc_id, text) frame. */
  def bigramRarityOf(docs: DataFrame): DataFrame = {
    val bi = docs
      .withColumn("toks", toks)
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("bg"))
      .persistTracked()
    val model = bi.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    // SHUFFLE_HASH, model as build side (the scoreWithNbModel rule):
    // pins the documented "distributed hash join, NO broadcast" shape
    // so the planner can never invert it into a broadcast of the
    // corpus-sized bigram stream on a bad estimate
    bi.join(model.hint("SHUFFLE_HASH"), "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c") <= RareMax, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_bigrams"), 6)
          .as("rare_ratio"))
  }

  /** BIGRAM-LM PERPLEXITY SCORE — the real form of the quality filter
    * [[textBigramRarity]]'s doc promises ("a real perplexity filter
    * would replace the rarity test with Σ−ln P(w₂|w₁) over the same
    * join"): an add-1-smoothed bigram language model trained on the
    * corpus in one shuffle on the bigram key, then every document
    * scored by its average negative log-likelihood under it (avg_nll =
    * ln(perplexity)) — the KenLM-style signal pretraining pipelines
    * rank web text with. Same scale shape as the rarity filter: the
    * bigram stream is persisted (model build, context counts and
    * scoring all read it), the model joins are keyed on the
    * bigram/context token (distributed hash joins, NO broadcast —
    * vocabulary is unbounded at corpus scale), and the vocabulary size
    * rides in as a broadcast 1-row aggregate. Float parity follows the
    * BM25 rule: each bigram's −ln P rounds to integer MICRO-NATS
    * before the per-doc sum, so the only cross-engine float op is one
    * ln and one final division — both oracle-safe at 6dp. */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame =
    perplexityOf(t(spark, dir, "documents"))

  /** Core of [[textPerplexity]] over any (doc_id, text) frame. */
  def perplexityOf(docs: DataFrame): DataFrame = {
    val withToks = docs.withColumn("toks", toks)
    val bi = withToks
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .persistTracked()
    // |V| over ALL documents (the unigram vocabulary, not just bigram
    // contexts) — a 1-row aggregate broadcast into the scoring plan
    val vocab = withToks.select(explode(col("toks")).as("tok"))
      .agg(count_distinct(col("tok")).cast("double").as("v_size"))
    val model = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
    val ctx = bi.groupBy(col("w1")).agg(count(lit(1)).as("c_ctx"))
    // SHUFFLE_HASH, model/context as build sides (the scoreWithNbModel
    // rule): the documented shape is a distributed hash join keyed on
    // the bigram/context token — the hints stop a bad size estimate
    // from broadcasting the corpus-sized bigram stream instead
    bi.join(model.hint("SHUFFLE_HASH"), Seq("w1", "w2"))
      .join(ctx.hint("SHUFFLE_HASH"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      // −ln P(w₂|w₁) in integer micro-nats: round BEFORE summing so
      // the per-doc total is exact-integer in both engines (the BM25
      // micro-unit rule)
      .withColumn("nll_micros",
        round(-log((col("c_bg") + lit(1.0d)) /
          (col("c_ctx") + col("v_size"))) * lit(1e6d)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_micros")).as("nll_micros"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micros"),
        round(col("nll_micros") / (col("n_bigrams") * lit(1e6d)), 6)
          .as("avg_nll"))
  }

  /** CCNET-STYLE PERPLEXITY BUCKETS — the head/middle/tail split CCNet
    * publishes with every language shard: documents ranked per language
    * by their LM score ([[perplexityOf]]'s avg −ln P in micro-nats) and
    * cut at the terciles, so downstream mixing can oversample the
    * "head" (lowest-perplexity, most fluent) third. Ranking is per
    * LANGUAGE (the window is lang-partitioned, never global — CCNet
    * buckets within each language shard for exactly this reason), the
    * rank key is the avg-NLL quotient (ONE IEEE division of two exact
    * integers, bit-identical in both engines) with doc_id tie-break,
    * and bucket assignment is pure integer arithmetic (rn·3 ≤ n), so
    * the split replays exactly. Output is O(langs × 3): per-bucket doc
    * counts and the min/max integer micro-nat scores (monotone under
    * the rank, a cheap audit that the cuts are ordered). At extreme
    * scale the within-language sort would be replaced by sampled
    * thresholds; the operator's output contract is unchanged. */
  def textPplBuckets(spark: SparkSession, dir: String): DataFrame =
    pplBucketsOf(t(spark, dir, "documents"))

  /** Core of [[textPplBuckets]] over any (doc_id, text, lang) frame. */
  def pplBucketsOf(docs: DataFrame): DataFrame = {
    val ppl = perplexityOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("avg_nllm",
        round(col("nll_micros").cast("double") / col("n_bigrams"))
          .cast("long"))
    val wR = Window.partitionBy(col("lang"))
      .orderBy((col("nll_micros").cast("double") / col("n_bigrams")).asc,
        col("doc_id").asc)
    val wN = Window.partitionBy(col("lang"))
    ppl
      .withColumn("rn", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("bucket",
        when(col("rn") * 3 <= col("n"), lit("head"))
          .when(col("rn") * 3 <= col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_nllm")).as("min_nllm"),
        max(col("avg_nllm")).as("max_nllm"))
  }

  /** Gopher-style repetition quality signals, per document: the
    * duplicate-token ratio (1 − uniq/total) and the top-bigram fraction
    * (how much of the doc the single most frequent bigram covers) — the
    * repetition rules pretraining pipelines cut looping/boilerplate
    * text with. Entirely narrow: every signal is array arithmetic on
    * the row (sorted-runs max, same technique as [[textTokenMap]]), so
    * the operator is a single codegen'd projection with ZERO shuffles —
    * at 100 TB it runs at scan speed. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(t(spark, dir, "documents"))

  /** Core of [[textRepetition]] over any (doc_id, text) frame. */
  def repetitionOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", toks)
      .where(size(col("toks")) >= 2)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("st", array_sort(
        transform(sequence(lit(1), col("n_toks") - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))))
      .withColumn("n_bg", size(col("st")))
      // boundary indices of equal-bigram runs in the sorted array;
      // run lengths are the gaps between consecutive boundaries
      .withColumn("bounds", filter(sequence(lit(1), col("n_bg")),
        i => i === 1 || element_at(col("st"), i) =!= element_at(col("st"), i - 1)))
      .withColumn("top_bg_run", array_max(zip_with(col("bounds"),
        concat(slice(col("bounds"), lit(2), size(col("bounds"))),
          array(col("n_bg") + 1)),
        (a, b) => b - a)))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        round(lit(1d) - size(array_distinct(col("toks"))).cast("double")
          / col("n_toks"), 6).as("dup_tok_ratio"),
        col("top_bg_run").cast("long").as("top_bigram_run"),
        round(col("top_bg_run").cast("double") / col("n_bg"), 6)
          .as("top_bigram_ratio"))

  /** PII patterns, shared verbatim by the plan and the DuckDB oracle
    * (kept to syntax with identical semantics in Java regex and RE2:
    * char classes, bounded repeats, `\b`). */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII detection + redaction — the scrub step every corpus export
    * runs. The synthetic corpus carries no PII, so (the mm_wav
    * technique) canonical PII is synthesized IN-PLAN deterministically
    * from row fields, then detected and redacted by the real regex
    * machinery; both engines inject identically so every count and the
    * redacted length are oracle-checked. Entirely narrow — a single
    * codegen'd projection, scan speed at 100 TB. */
  def textPii(spark: SparkSession, dir: String): DataFrame =
    piiOf(t(spark, dir, "documents"))

  /** Core of [[textPii]] over any (doc_id, text) frame. */
  def piiOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("raw", concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0, lit(" cc ops@example.org"))
          .otherwise(lit("")),
        lit(" tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ip 10.0."), pmod(col("doc_id"), lit(256))
            .cast("string"), lit(".1"))).otherwise(lit(""))))
      // emails first: an address's digit.dot runs must never be eaten
      // by the IP pass; phones last (no overlap either way).
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(IpRe), lit(0)))
          .cast("long").as("n_ips"),
        length(regexp_replace(regexp_replace(regexp_replace(col("raw"),
          EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>"))
          .cast("long").as("redacted_len"))

  /** Character-bigram profile per language: the statistical signature a
    * real language-ID model trains on. The exploded stream carries
    * PRIMITIVE LONG bigram codes — c₁·0x110000 + c₂ over the code
    * points (`ascii` is code-point faithful; `split("")` never splits
    * a surrogate pair) — instead of a freshly-allocated 2-char string
    * per character position: the explode, the map-side combine hash
    * and the (lang, code) exchange all run on longs (measured at
    * sf1-equivalent: 15.3 s with per-position string concat, 6.5 s on
    * codes; a per-row sorted-runs variant was tried first and LOST —
    * 24 s — because an O(L log L) string sort per document costs more
    * than the hash-agg rows it saves). The code is order-isomorphic
    * to the bigram string (UTF-8 byte order = code-point order), so
    * the (n DESC, bigram) rank ties identically, and only the ≤5·langs
    * WINNERS pay the string reconstruction (format_string("%c%c") —
    * Java's Formatter takes full code points). The text is split to a
    * char ARRAY once; `substr(text, i, 2)` per position would re-seek
    * the UTF8String from the start, O(len²) per document. */
  def textCharNgrams(spark: SparkSession, dir: String): DataFrame = {
    val MaxCp = graft.expressions.CharBigramCodes.MaxCp
    val codes = t(spark, dir, "documents")
      .select(col("lang"),
        explode(graft.expressions.CharBigramCodes(col("text"))).as("code"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("code"))
    codes.groupBy(col("lang"), col("code"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("lang"), col("rank"),
        format_string("%c%c",
          expr(s"CAST(code DIV $MaxCp AS INT)"),
          pmod(col("code"), lit(MaxCp)).cast("int")).as("bg"),
        col("n"))
  }

  /** Normalization + scrubbing — the first narrow pass of every
    * training-data pipeline: lowercase, strip non-alphanumerics,
    * collapse whitespace; mask long digit runs (the PII-scrub shape —
    * a real pipeline would add phone/email/ID patterns to the same
    * regexp_replace chain). All per-row regex work inside codegen, no
    * shuffle, and the scan reads only (doc_id, text). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          lit("[^a-z0-9 ]"), lit(" ")), lit(" +"), lit(" "))).as("norm_text"),
        regexp_replace(col("text"), lit("[0-9]{3,}"), lit("<NUM>"))
          .as("scrubbed"),
        regexp_count(col("text"), lit("[0-9]{3,}")).as("n_num_runs"))

  /** Map-typed column surface: per-doc token-frequency MAP built with
    * map_from_arrays, probed with element_at(map, key). The map stays
    * INTERNAL to the plan (map cells in query output would break the
    * row-sorting checker, like arrays); the emitted values are scalar
    * lookups, which the oracle reproduces with plain list filters. */
  def textTokenMap(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", toks)
      // Sorted-runs construction: sort once, find run boundaries, and
      // diff adjacent boundary indices for the counts — O(n log n) per
      // doc vs the naive transform(uniq, u -> count-scan) which is
      // O(tokens × uniq) and hostile on real 10k-token documents.
      .withColumn("st", array_sort(col("toks")))
      .withColumn("n_all", size(col("st")))
      .withColumn("bounds", filter(sequence(lit(1), greatest(col("n_all"), lit(1))),
        i => i === 1 || element_at(col("st"), i) =!= element_at(col("st"), i - 1)))
      .withColumn("freq", when(col("n_all") === 0,
          map_from_arrays(array().cast("array<string>"), array().cast("array<int>")))
        .otherwise(map_from_arrays(
          transform(col("bounds"), i => element_at(col("st"), i)),
          zip_with(col("bounds"),
            concat(slice(col("bounds"), lit(2), size(col("bounds"))),
              array(col("n_all") + 1)),
            (a, b) => b - a))))
      .select(col("doc_id"),
        coalesce(element_at(col("freq"), lit("the")), lit(0))
          .as("n_the"),
        coalesce(element_at(col("freq"), lit("data")), lit(0))
          .as("n_data"),
        size(col("freq")).as("n_distinct_toks"))

  /** Corpus-level vocabulary statistics — the Zipf-shape summary every
    * tokenizer/corpus report starts with: vocabulary size, total token
    * count, hapax-legomena count (types seen exactly once — the long
    * tail), and the share of all tokens covered by the 10 most frequent
    * types (the Zipf head). ONE shuffle on the token key builds the
    * frequency table; the head is taken with orderBy+limit — a
    * TakeOrderedAndProject (per-partition heap + k-row merge), never a
    * global sort, so the plan survives an unbounded vocabulary. */
  def textVocabStats(spark: SparkSession, dir: String): DataFrame =
    vocabStatsOf(t(spark, dir, "documents"))

  /** Core of [[textVocabStats]] over any frame with a `text` column. */
  def vocabStatsOf(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = tc.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("c")).as("total_tokens"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val top10 = tc.orderBy(col("c").desc, col("tok")).limit(10)
      .agg(sum(col("c")).as("top10_tokens"))
    totals.crossJoin(top10)
      .select(col("vocab_size"), col("total_tokens"), col("n_hapax"),
        round(col("top10_tokens").cast("double") / col("total_tokens"), 6)
          .as("top10_share"))
  }

  val ChunkW = 32
  val ChunkS = 24

  /** Sliding-window document CHUNKING — the RAG-ingest shape that
    * feeds every embed/index stage downstream: windows of [[ChunkW]]
    * tokens advancing by stride [[ChunkS]] (so consecutive chunks
    * overlap by ChunkW−ChunkS tokens and no boundary sentence is lost
    * to a hard split). The chunk count is integer-exact —
    * 1 + ⌈max(n−W, 0)/S⌉ — and the window materializes per row via
    * sequence+explode+slice, a NARROW projection: no shuffle, stays in
    * whole-stage codegen, parallel in the number of documents. Tail
    * chunks shorter than W are kept (both engines' slice clamps at the
    * end), so Σ chunk coverage spans every token. At 100 TB this is
    * scan-speed work whose output partitioning simply inherits the
    * input's. */
  def textChunk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chunks",
        (floor((greatest(col("n_tokens") - ChunkW, lit(0))
          + lit(ChunkS - 1)) / lit(ChunkS.toDouble)) + 1).cast("int"))
      .withColumn("chunk_id",
        explode(sequence(lit(0), col("n_chunks") - 1)))
      .withColumn("chunk_start", col("chunk_id") * ChunkS)
      .withColumn("chunk_toks",
        slice(col("toks"), col("chunk_start") + 1, lit(ChunkW)))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("chunk_id"), col("chunk_start"),
        size(col("chunk_toks")).as("chunk_len"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))

  val BpeRounds = 6

  /** BPE TOKENIZER TRAINING in-engine — the vocabulary-learning loop
    * every LLM data stack runs before anything else: [[BpeRounds]]
    * rounds of (count adjacent symbol pairs weighted by word
    * frequency) → (merge the argmax pair corpus-wide). The corpus is
    * touched ONCE — the word-frequency aggregation — and every
    * subsequent round works on the VOCAB-sized (syms, cnt) relation:
    * one pair-explode aggregation, a 1-row argmax collect (the
    * bounded-driver-action shape of Lloyd's k centroids), and a
    * narrow per-word merge apply, re-checkpointed per round to keep
    * lineage flat. The merge apply is position-local — candidate
    * pairs exclude self-pairs (l = r), a documented variant that
    * makes greedy leftmost merging overlap-free, so transform+filter
    * express it without stateful folds. Ties break (count desc, left,
    * right) — binary string order in both engines. Returns the merge
    * table itself (round, left, right, merged, pair_count) — R rows;
    * the DuckDB oracle replays the full recursion with the
    * PageRank-oracle state-row technique. At 100 TB the corpus-sized
    * agg dominates and the loop cost is independent of corpus size —
    * exactly why BPE trainers run on word-count tables, not raw
    * text. */
  def textBpe(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark,
      t(spark, dir, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      BpeRounds)

  /** BYTE-LEVEL BPE TRAINING — [[textBpe]] without the self-pair
    * exclusion, closing the documented divergence from GPT-style
    * tokenizers on repeated-character runs: pair counting is the full
    * sliding window (a run "aaaa" contributes (a,a) three times, the
    * HuggingFace trainer convention) and the merge apply is the
    * greedy leftmost non-overlapping fold ([[greedyMerge]] — a
    * codegen string-replace on a delimiter-wrapped symbol string, not
    * a UDF). On this corpus the per-character seed alphabet IS the
    * byte alphabet (whitespace-split printable ASCII — asserted by
    * spec), so the merge table is what a byte-level trainer learns.
    * Same loop-scaling story as [[textBpe]]: corpus touched once,
    * rounds run on the vocab-sized relation. */
  def textBpeBytes(spark: SparkSession, dir: String): DataFrame =
    bpeTrainBytes(spark,
      t(spark, dir, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      BpeRounds)

  /** Core of [[textBpe]] over any (tok, cnt) word-frequency relation.
    * Exposed for the crafted-corpus spec. */
  def bpeTrain(spark: SparkSession, wordCounts: DataFrame,
      rounds: Int): DataFrame = bpeLoop(spark, wordCounts, rounds)._1

  /** [[bpeTrain]] with RUN MERGES (GPT-style): self-pairs included.
    * Exposed for the run-heavy-fixture spec. */
  def bpeTrainBytes(spark: SparkSession, wordCounts: DataFrame,
      rounds: Int): DataFrame =
    bpeLoop(spark, wordCounts, rounds, runMerges = true)._1

  /** GREEDY LEFTMOST non-overlapping merge of pair (l, r) over a
    * symbol array — the stateful fold GPT-style BPE needs for
    * repeated-symbol runs ("aaaa" + (a,a) → [aa, aa], which a
    * position-local transform cannot express). Encoded WITHOUT a UDF
    * or custom Expression: wrap symbols as `|s1||s2||…|` (symbols are
    * pipe-free — the corpus is whitespace-split printable ASCII) and
    * `replace("|l||r|" → "|lr|")` — string replace in Spark AND DuckDB
    * scans left to right, non-overlapping, continuing AFTER each
    * replacement, which IS the greedy fold; the pipe anchors stop a
    * symbol's suffix/prefix from matching across boundaries. Stays
    * inside whole-stage codegen (StringReplace + split). */
  private def greedyMerge(bl: String, br: String): Column =
    split(
      trim(replace(
        concat(lit("|"), array_join(col("syms"), "||"), lit("|")),
        lit("|" + bl + "||" + br + "|"), lit("|" + bl + br + "|")),
        "|"),
      "\\|\\|")

  /** The shared train loop: returns (merge table, final merged
    * vocabulary relation) so [[textBpe]] reports the merges and
    * [[textBpeEncode]] the encoded subword stats off ONE run.
    * `runMerges = true` is the GPT-style variant: self-pairs count
    * (sliding window) and the merge apply is the greedy leftmost fold
    * ([[greedyMerge]] — equivalent to the position-local transform for
    * l ≠ r, and additionally correct on runs). The loop EXITS EARLY
    * when no mergeable pair remains (single-symbol vocabulary, or
    * only self-pairs in the self-pair-excluded variant) instead of
    * crashing on the empty argmax — the merges learned so far are the
    * complete answer, matching the oracle recursion's natural stop. */
  private def bpeLoop(spark: SparkSession, wordCounts: DataFrame,
      rounds: Int, runMerges: Boolean = false): (DataFrame, DataFrame) = {
    var words = wordCounts
      .select(col("tok"), split(col("tok"), "").as("syms"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val cand = words
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), col("syms"),
          explode(sequence(lit(0), size(col("syms")) - 2)).as("i"))
        .select(col("cnt"),
          element_at(col("syms"), col("i") + 1).as("l"),
          element_at(col("syms"), col("i") + 2).as("r"))
      val best = (if (runMerges) cand else cand.where(col("l") =!= col("r")))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect().headOption
      best match {
        case None => exhausted = true
        case Some(b) =>
          val (bl, br, bc) = (b.getString(0), b.getString(1), b.getLong(2))
          merges += ((r, bl, br, bl + br, bc))
          words = words.withColumn("syms",
            if (runMerges) greedyMerge(bl, br)
            else filter(
              transform(col("syms"), (x, i) =>
                when(x === lit(bl) &&
                  get(col("syms"), i + 1) === lit(br), lit(bl + br))
                  .when(x === lit(br) &&
                    get(col("syms"), i - 1) === lit(bl),
                    lit(null).cast("string"))
                  .otherwise(x)),
              y => y.isNotNull))
            .localCheckpoint()
          r += 1
      }
    }
    val spark2 = spark
    import spark2.implicits._
    (merges.toSeq.toDF("round", "left_sym", "right_sym", "merged",
      "pair_count"), words)
  }

  /** BPE ENCODE — the apply side of [[textBpe]]: the subword
    * vocabulary and its corpus frequencies after all [[BpeRounds]]
    * merges, i.e. what the trained tokenizer actually emits. Reuses
    * the train loop's final merged relation (vocab-sized), so encode
    * is one explode + agg on top of training; per-subword totals are
    * Σ word_count over every occurrence slot. n_words counts the
    * distinct words each subword appears in — the df analog over the
    * learned vocabulary. Integer-exact. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark,
      t(spark, dir, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      BpeRounds)

  /** Core of [[textBpeEncode]] over any (tok, cnt) relation. Exposed
    * for the crafted-corpus spec. `runMerges` switches to the
    * GPT-style run-merge tokenizer ([[bpeTrainBytes]]). */
  def bpeEncode(spark: SparkSession, wordCounts: DataFrame,
      rounds: Int, runMerges: Boolean = false): DataFrame = {
    val (_, words) = bpeLoop(spark, wordCounts, rounds, runMerges)
    words.select(col("cnt"), explode(col("syms")).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("cnt")).as("n_occurrences"),
        count(lit(1)).as("n_slots"))
  }

  /** [[textBpeEncode]] under the BYTE-LEVEL (run-merge) tokenizer —
    * the subword vocabulary the GPT-style trainer actually emits,
    * where repeated-character runs collapse into run tokens the
    * self-pair-excluded variant can never learn. */
  def textBpeBytesEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark,
      t(spark, dir, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      BpeRounds, runMerges = true)

  /** PER-DOCUMENT token counts under the TRAINED tokenizer — the
    * "how many tokens is my corpus" question every pipeline answers
    * before budgeting a training run, answered with the engine's own
    * BPE instead of a whitespace proxy ([[textTokens]]): each word's
    * final subword count comes from the train loop's merged
    * vocabulary (vocab-sized), the corpus joins to it on the word —
    * AQE broadcasts when the vocab fits, the [[textTfIdf]] rule —
    * and one aggregation folds per-document totals plus the
    * subwords-per-word inflation factor. */
  def textBpeDoc(spark: SparkSession, dir: String): DataFrame =
    bpeDocCounts(spark, dir, runMerges = false)

  /** [[textBpeDoc]] under the BYTE-LEVEL (run-merge) tokenizer — the
    * corpus token budget a GPT-style tokenizer would actually charge. */
  def textBpeBytesDoc(spark: SparkSession, dir: String): DataFrame =
    bpeDocCounts(spark, dir, runMerges = true)

  private def bpeDocCounts(spark: SparkSession, dir: String,
      runMerges: Boolean): DataFrame = {
    val docs = t(spark, dir, "documents")
    val (_, words) = bpeLoop(spark,
      docs.select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      BpeRounds, runMerges)
    val wordLen = words.select(col("tok"), size(col("syms")).as("n_sub"))
    docs.select(col("doc_id"), explode(toks).as("tok"))
      .join(wordLen, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        round(sum(col("n_sub")) / count(lit(1)), 6)
          .as("subwords_per_word"))
  }

  /** Hashing-trick bucket width (Weinberger et al., ICML'09 feature
    * hashing): fixed regardless of vocabulary size. */
  val HashVecDim = 64L

  /** FEATURE HASHING (the hashing trick) — the fixed-width
    * featurization web-scale linear models train on: each token maps
    * to `bucket = h(tok) mod D` with a SECOND independent hash
    * choosing a ±1 sign, and a document's feature vector is the per-
    * bucket signed sum — the sign makes colliding tokens cancel in
    * expectation instead of biasing the bucket upward, which is the
    * whole trick. Versus [[textTfIdf]]: NO vocabulary exists anywhere
    * — no dictionary build, no vocab join, no fit step, so the
    * featurizer is a stateless narrow projection that never shuffles
    * anything but the final (doc, bucket) aggregate. Hashes are the repo's standard
    * domain-separated md5 windows, replayed verbatim by the oracle. */
  def textHashingVec(spark: SparkSession, dir: String): DataFrame =
    hashingVecOf(t(spark, dir, "documents"))

  /** Core of [[textHashingVec]] over any (doc_id, text) frame: the
    * hashes are stateless per-token expressions and each document's
    * buckets aggregate within its own row's tokens, so how the input
    * is split cannot change any output row. */
  def hashingVecOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("hv:"), col("tok"))), 1, 5), 16, 10)
          .cast("long") % HashVecDim).as("bucket"),
        when(conv(substring(md5(concat(lit("hvs:"), col("tok"))), 1, 1),
          16, 10).cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
          .as("sg"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sg")).as("signed_sum"))

  /** READABILITY SCORING (Flesch–Kincaid) — the classic heuristic
    * quality signal next to the stopword/repetition family: per doc,
    * word count, syllable count (vowel-group runs `[aeiouy]+` per
    * word, floored at 1 — the standard approximation), sentence count
    * (split on `[.!?]+`; the synthetic corpus carries no terminators,
    * so each doc reads as one sentence — the machinery is general),
    * and the two canonical scores. One explode + one per-doc hash
    * aggregate; the scores are closed-form arithmetic over two
    * integers — scan-bandwidth at any corpus size, and exactly
    * replayable. */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val sentences = greatest(lit(1),
      size(filter(split(col("text"), "[.!?]+"), s => trim(s) =!= "")))
    val syl = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        greatest(lit(1), size(regexp_extract_all(col("tok"),
          lit("[aeiouy]+"), lit(0)))).as("syl"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syllables"))
    docs.select(col("doc_id"), sentences.as("n_sentences"))
      .join(syl, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_syllables"),
        col("n_sentences"),
        round(lit(0.39) * col("n_words") / col("n_sentences") +
          lit(11.8) * col("n_syllables") / col("n_words") - lit(15.59), 6)
          .as("fk_grade"),
        round(lit(206.835) - lit(1.015) * col("n_words") / col("n_sentences") -
          lit(84.6) * col("n_syllables") / col("n_words"), 6)
          .as("reading_ease"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_readability" -> textReadability,
    "text_hashing_vec" -> textHashingVec,
    "text_bpe_doc" -> textBpeDoc,
    "text_bpe_encode" -> textBpeEncode,
    "text_bpe" -> textBpe,
    "text_bpe_bytes" -> textBpeBytes,
    "text_bpe_bytes_encode" -> textBpeBytesEncode,
    "text_bpe_bytes_doc" -> textBpeBytesDoc,
    "text_chunk" -> textChunk,
    "text_vocab_stats" -> textVocabStats,
    "text_bigram_rarity" -> textBigramRarity,
    "text_perplexity" -> textPerplexity,
    "text_ppl_buckets" -> textPplBuckets,
    "text_repetition" -> textRepetition,
    "text_pii" -> textPii,
    "text_token_map" -> textTokenMap,
    "text_normalize" -> textNormalize,
    "text_char_ngrams" -> textCharNgrams,
    "text_quality" -> textQuality,
    "text_quality_train" -> textQualityTrain,
    "text_quality_score_trained" -> textQualityScoreTrained,
    "text_quality_model" -> textQualityModel,
    "text_langid" -> textLangId,
    "text_langid_train" -> textLangIdTrain,
    "text_langid_nb" -> textLangIdNb,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_tfidf" -> textTfIdf,
    "text_keywords_native" -> textKeywordsNative,
    "text_collocations" -> textCollocations)

  private val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Shared GD-replay CTE prefix (`WITH RECURSIVE f, iter`): `f` is the
    * training feature relation (doc_id, y, x0..x4), `iter` carries the
    * 6dp-quantized weight vector as its recursion state — the
    * kmeans_full pattern. Consumed by the `text_quality_train` and
    * `text_quality_score_trained` oracles. */
  private lazy val trainCteSql: String = {
    val z = "x0 * s.w[1] + x1 * s.w[2] + x2 * s.w[3] + x3 * s.w[4] + x4 * s.w[5]"
    // per-row micro-unit rounding before the (now exact integer)
    // gradient sum — mirrors trainQualityWeights term for term,
    // including the operation order of the weight update
    val upd = (0 until 5).map(j =>
      s"round(s.w[${j + 1}] + $TrainLr * (CAST(sum(CAST(round(" +
        s"x$j * (y - p) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6) " +
        s"/ count(*), 6)")
      .mkString(",\n       |      ")
    s"""WITH RECURSIVE f AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    1.0 AS x0,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS x1,
       |    CAST(len(list_filter(t, x -> list_contains($stopList, x)))
       |         AS DOUBLE) / len(t) AS x2,
       |    CAST(least(len(t), 100) AS DOUBLE) / 100 AS x3,
       |    least(CAST(length(text) - len(t) + 1 AS DOUBLE) / len(t), 10.0)
       |      / 10.0 AS x4
       |  FROM (SELECT doc_id, text, lang, string_split(text, ' ') AS t
       |        FROM documents)
       |), iter AS (
       |  -- CAST: a bare [0.0, …] literal types as DECIMAL(2,1)[] and
       |  -- the recursion would coerce every round's weights to it
       |  SELECT 0 AS r, CAST([0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS w
       |  UNION ALL
       |  SELECT s.r + 1, nxt.w
       |  FROM iter s, LATERAL (
       |    WITH scored AS (
       |      SELECT y, x0, x1, x2, x3, x4,
       |        1.0 / (1.0 + exp(-($z))) AS p
       |      FROM f
       |    )
       |    SELECT [
       |      $upd] AS w
       |    FROM scored
       |  ) nxt
       |  WHERE s.r < $TrainIters
       |)""".stripMargin
  }
  private val markerValues = LangMarkers
    .map { case (l, m) => s"('$l', '$m')" }.mkString(", ")

  /** Replays the full BPE recursion with the PageRank-oracle
    * state-row technique: one recursive row carries the whole
    * (syms, cnt) vocabulary; each LATERAL re-counts pairs, takes the
    * argmax, and applies the merge. `runMerges = false` (the
    * `text_bpe` family) excludes self-pairs and applies via a
    * correlated position subquery (DuckDB lambdas cannot capture
    * outer columns); `runMerges = true` (`text_bpe_bytes`) counts the
    * full sliding window and applies via the SAME delimiter-wrapped
    * greedy `replace` the Spark side uses ([[greedyMerge]]) — both
    * engines' string replace is leftmost non-overlapping. */
  private def bpeCteFor(runMerges: Boolean): String = {
    val pairFilter = if (runMerges) "" else "\n      WHERE p.pl <> p.pr"
    val applySyms =
      if (runMerges)
        """string_split(trim(replace(
          |            '|' || array_to_string(c.syms, '||') || '|',
          |            '|' || b.pl || '||' || b.pr || '|',
          |            '|' || b.pl || b.pr || '|'), '|'), '||')""".stripMargin
      else
        """(
          |          SELECT list(sym ORDER BY ii) FROM (
          |            SELECT pos.ii AS ii, CASE
          |               WHEN c.syms[pos.ii] = b.pl
          |                    AND c.syms[pos.ii+1] = b.pr
          |                 THEN b.pl || b.pr
          |               WHEN c.syms[pos.ii] = b.pr
          |                    AND c.syms[pos.ii-1] = b.pl
          |                 THEN NULL
          |               ELSE c.syms[pos.ii] END AS sym
          |            FROM (SELECT unnest(generate_series(1,
          |                    len(c.syms))) AS ii) pos
          |          ) WHERE sym IS NOT NULL
          |        )""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT tok, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY tok
       |), bpe AS (
       |  SELECT 0 AS r,
       |    (SELECT list(struct_pack(tok := tok,
       |                             syms := string_split(tok, ''),
       |                             cnt := cnt)
       |            ORDER BY tok) FROM words) AS st,
       |    CAST([] AS STRUCT(l VARCHAR, r VARCHAR, c BIGINT)[])
       |      AS merges
       |  UNION ALL
       |  SELECT s.r + 1, nxt.st,
       |         s.merges || [struct_pack(l := nxt.bl, r := nxt.br,
       |                                  c := nxt.bc)]
       |  FROM bpe s, LATERAL (
       |    WITH cur AS (
       |      SELECT u.tok AS tok, u.syms AS syms, u.cnt AS cnt
       |      FROM (SELECT unnest(s.st) AS u)
       |    ), pairs AS (
       |      SELECT p.pl, p.pr, sum(p.cnt) AS pc FROM (
       |        SELECT w.syms[w.i] AS pl, w.syms[w.i+1] AS pr,
       |               w.cnt AS cnt
       |        FROM (SELECT syms, cnt,
       |                     unnest(generate_series(1, len(syms)-1)) AS i
       |              FROM cur) w
       |      ) p$pairFilter
       |      GROUP BY p.pl, p.pr
       |    ), best AS (
       |      SELECT pl, pr, pc FROM pairs
       |      ORDER BY pc DESC, pl, pr LIMIT 1
       |    )
       |    SELECT b.pl AS bl, b.pr AS br, b.pc AS bc,
       |      (SELECT list(struct_pack(tok := c.tok,
       |        syms := $applySyms,
       |        cnt := c.cnt))
       |       FROM cur c) AS st
       |    FROM best b
       |  ) nxt
       |  WHERE s.r < $BpeRounds
       |)""".stripMargin
  }

  private lazy val bpeCte: String = bpeCteFor(runMerges = false)

  /** Merge-table SELECT shared by the `text_bpe` / `text_bpe_bytes`
    * oracles (the CTE differs, the reporting doesn't). */
  private val bpeMergeTableSql: String =
    """SELECT CAST(m.i AS INT) AS round, m.u.l AS left_sym,
      |       m.u.r AS right_sym, m.u.l || m.u.r AS merged,
      |       m.u.c AS pair_count
      |FROM (SELECT merges FROM bpe ORDER BY r DESC LIMIT 1) f,
      |     (SELECT unnest(f.merges, recursive := false) AS u,
      |             generate_subscripts(f.merges, 1) AS i) m""".stripMargin

  /** Final-vocabulary readout shared by both encode oracles. */
  private val bpeEncodeSql: String =
    """SELECT w.sym AS subword,
      |       CAST(sum(w.cnt) AS BIGINT) AS n_occurrences,
      |       count(*) AS n_slots
      |FROM (SELECT f2.u.cnt AS cnt, unnest(f2.u.syms) AS sym
      |      FROM (SELECT unnest(f.st) AS u
      |            FROM (SELECT st FROM bpe
      |                  ORDER BY r DESC LIMIT 1) f) f2) w
      |GROUP BY w.sym""".stripMargin

  /** Per-doc token-count readout (a `wl` CTE tail) shared by both
    * doc-count oracles. */
  private val bpeDocSql: String =
    """wl AS (
      |  SELECT f2.u.tok AS tok, len(f2.u.syms) AS n_sub
      |  FROM (SELECT unnest(f.st) AS u
      |        FROM (SELECT st FROM bpe
      |              ORDER BY r DESC LIMIT 1) f) f2
      |)
      |SELECT d.doc_id, count(*) AS n_words,
      |       CAST(sum(wl.n_sub) AS BIGINT) AS n_subwords,
      |       round(CAST(sum(wl.n_sub) AS DOUBLE) / count(*), 6)
      |         AS subwords_per_word
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents) d
      |JOIN wl USING (tok)
      |GROUP BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_readability" ->
      """WITH syl AS (
        |  SELECT doc_id, count(*) AS n_words,
        |    CAST(sum(greatest(1,
        |      len(regexp_extract_all(tok, '[aeiouy]+')))) AS BIGINT)
        |      AS n_syllables
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id
        |), sen AS (
        |  SELECT doc_id, greatest(1, len(list_filter(
        |    regexp_split_to_array(text, '[.!?]+'), s -> trim(s) <> '')))
        |    AS n_sentences
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_syllables, n_sentences,
        |  round(0.39 * n_words / n_sentences
        |        + 11.8 * n_syllables / n_words - 15.59, 6) AS fk_grade,
        |  round(206.835 - 1.015 * n_words / n_sentences
        |        - 84.6 * n_syllables / n_words, 6) AS reading_ease
        |FROM syl JOIN sen USING (doc_id)""".stripMargin,
    // hex→int: CAST(concat('0x',…) AS BIGINT) ≡ Spark conv(…,16,10)
    "text_hashing_vec" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5('hv:' || tok), 1, 5)) AS BIGINT)
         |      % $HashVecDim AS bucket,
         |    CASE WHEN CAST(concat('0x', substr(md5('hvs:' || tok), 1, 1))
         |              AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sg
         |  FROM tk WHERE len(tok) > 0
         |)
         |SELECT doc_id, bucket, count(*) AS n_tokens,
         |       CAST(sum(sg) AS BIGINT) AS signed_sum
         |FROM h GROUP BY doc_id, bucket""".stripMargin,
    "text_bpe" ->
      s"""$bpeCte
         |$bpeMergeTableSql""".stripMargin,
    "text_bpe_bytes" ->
      s"""${bpeCteFor(runMerges = true)}
         |$bpeMergeTableSql""".stripMargin,
    "text_bpe_encode" ->
      s"""$bpeCte
         |$bpeEncodeSql""".stripMargin,
    "text_bpe_bytes_encode" ->
      s"""${bpeCteFor(runMerges = true)}
         |$bpeEncodeSql""".stripMargin,
    "text_bpe_doc" ->
      s"""$bpeCte, $bpeDocSql""".stripMargin,
    "text_bpe_bytes_doc" ->
      s"""${bpeCteFor(runMerges = true)}, $bpeDocSql""".stripMargin,
    "text_chunk" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), m AS (
         |  SELECT doc_id, t, CAST(len(t) AS INT) AS n_tokens,
         |         CAST(floor((greatest(len(t) - $ChunkW, 0)
         |              + ${ChunkS - 1}) / $ChunkS.0) + 1 AS INT) AS n_chunks
         |  FROM d
         |), ex AS (
         |  -- scalar generate_series (list) + unnest: the table-function
         |  -- form cannot take lateral column bounds
         |  SELECT doc_id, t, n_tokens, n_chunks,
         |         unnest(generate_series(0, n_chunks - 1)) AS i
         |  FROM m
         |)
         |SELECT doc_id, n_tokens, n_chunks,
         |       CAST(i AS INT) AS chunk_id,
         |       CAST(i * $ChunkS AS INT) AS chunk_start,
         |       CAST(len(list_slice(t, i * $ChunkS + 1,
         |                           i * $ChunkS + $ChunkW)) AS INT)
         |         AS chunk_len,
         |       array_to_string(list_slice(t, i * $ChunkS + 1,
         |                                  i * $ChunkS + $ChunkW), ' ')
         |         AS chunk_text
         |FROM ex""".stripMargin,
    "text_vocab_stats" ->
      """WITH tc AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY tok
        |)
        |SELECT
        |  (SELECT count(*) FROM tc) AS vocab_size,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM tc) AS total_tokens,
        |  (SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM tc) AS n_hapax,
        |  round((SELECT CAST(sum(c) AS DOUBLE) FROM
        |          (SELECT c FROM tc ORDER BY c DESC, tok LIMIT 10)) /
        |        (SELECT sum(c) FROM tc), 6) AS top10_share""".stripMargin,
    "text_pii" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    concat(text, ' contact u', CAST(doc_id AS VARCHAR),
         |      '@mail.example.com',
         |      CASE WHEN doc_id % 3 = 0 THEN ' cc ops@example.org'
         |           ELSE '' END,
         |      ' tel 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
         |      CASE WHEN doc_id % 5 = 0
         |           THEN concat(' ip 10.0.',
         |                       CAST(doc_id % 256 AS VARCHAR), '.1')
         |           ELSE '' END) AS raw
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_replace(regexp_replace(regexp_replace(raw,
         |    '$EmailRe', '<EMAIL>', 'g'), '$IpRe', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
         |FROM raw""".stripMargin,
    "text_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |), b AS (
        |  SELECT doc_id, len(t) AS n_toks, len(list_distinct(t)) AS n_uniq,
        |    unnest(list_transform(generate_series(1, len(t)-1),
        |      i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        |  FROM d
        |), c AS (
        |  SELECT doc_id, n_toks, n_uniq, bg, count(*) AS c
        |  FROM b GROUP BY doc_id, n_toks, n_uniq, bg
        |)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  round(1 - CAST(n_uniq AS DOUBLE) / n_toks, 6) AS dup_tok_ratio,
        |  CAST(max(c) AS BIGINT) AS top_bigram_run,
        |  round(CAST(max(c) AS DOUBLE) / (n_toks - 1), 6) AS top_bigram_ratio
        |FROM c GROUP BY doc_id, n_toks, n_uniq""".stripMargin,
    "text_bigram_rarity" ->
      s"""WITH bi AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |           i -> concat_ws(' ', t[i], t[i+1]))) AS bg
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |  WHERE len(t) >= 2
         |), model AS (
         |  SELECT bg, count(*) AS c FROM bi GROUP BY bg
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(CASE WHEN c <= $RareMax THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_rare,
         |  round(CAST(sum(CASE WHEN c <= $RareMax THEN 1 ELSE 0 END)
         |             AS DOUBLE) / count(*), 6) AS rare_ratio
         |FROM bi JOIN model USING (bg)
         |GROUP BY doc_id""".stripMargin,
    // the NB model's normalization constants replayed: per-lang doc and
    // token counts, |V| over all documents, each log rounded to integer
    // micro-nats independently (the perplexity rule)
    "text_langid_train" ->
      """WITH tk AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), vocab AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v_size FROM tk
        |), tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS tot_docs FROM documents
        |), nd AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        |), nt AS (
        |  SELECT lang, count(*) AS n_toks FROM tk GROUP BY lang
        |)
        |SELECT nd.lang, nd.n_docs, nt.n_toks,
        |  CAST(round(ln(CAST(nd.n_docs AS DOUBLE) / t.tot_docs) * 1e6)
        |       AS BIGINT) AS prior_micros,
        |  CAST(round(ln(1.0 / (nt.n_toks + v.v_size)) * 1e6)
        |       AS BIGINT) AS lp0_micros,
        |  CAST(v.v_size AS BIGINT) AS v_size
        |FROM nd JOIN nt USING (lang)
        |CROSS JOIN vocab v CROSS JOIN tot t""".stripMargin,
    // fit + predict replayed: the sparse scoring identity — seen
    // occurrences sum their per-term micro-nat logs, unseen ones fold
    // in as (n_toks_doc − n_seen)·lp0 — then the same integer argmax
    "text_langid_nb" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), vocab AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v_size FROM tk
        |), tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS tot_docs FROM documents
        |), stats AS (
        |  SELECT nd.lang AS cand_lang,
        |    CAST(nt.n_toks AS DOUBLE) AS n_toks, v.v_size,
        |    CAST(round(ln(1.0 / (nt.n_toks + v.v_size)) * 1e6) AS BIGINT)
        |      AS lp0_micros,
        |    CAST(round(ln(CAST(nd.n_docs AS DOUBLE) / t.tot_docs) * 1e6)
        |         AS BIGINT) AS prior_micros
        |  FROM (SELECT lang, count(*) AS n_docs FROM documents
        |        GROUP BY lang) nd
        |  JOIN (SELECT lang, count(*) AS n_toks FROM tk GROUP BY lang) nt
        |    USING (lang)
        |  CROSS JOIN vocab v CROSS JOIN tot t
        |), lp AS (
        |  SELECT c.tok, c.lang AS cand_lang,
        |    CAST(round(ln((c.c + 1.0) / (s.n_toks + s.v_size)) * 1e6)
        |         AS BIGINT) AS lp_micros
        |  FROM (SELECT tok, lang, count(*) AS c FROM tk
        |        GROUP BY tok, lang) c
        |  JOIN stats s ON s.cand_lang = c.lang
        |), seen AS (
        |  SELECT k.doc_id, l.cand_lang, count(*) AS n_seen,
        |         CAST(sum(l.lp_micros) AS BIGINT) AS seen_micros
        |  FROM tk k JOIN lp l ON k.tok = l.tok
        |  GROUP BY k.doc_id, l.cand_lang
        |), dl AS (
        |  SELECT doc_id, lang AS true_lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks_doc
        |  FROM documents
        |), scored AS (
        |  SELECT dl.doc_id, s.cand_lang, dl.true_lang,
        |    coalesce(seen.seen_micros, 0)
        |      + (dl.n_toks_doc - coalesce(seen.n_seen, 0)) * s.lp0_micros
        |      + s.prior_micros AS ll_micros
        |  FROM dl CROSS JOIN stats s
        |  LEFT JOIN seen ON seen.doc_id = dl.doc_id
        |                AND seen.cand_lang = s.cand_lang
        |)
        |SELECT doc_id, cand_lang AS pred_lang, ll_micros, true_lang,
        |       (cand_lang = true_lang) AS is_correct
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY ll_micros DESC, cand_lang) AS rn
        |      FROM scored)
        |WHERE rn = 1""".stripMargin,
    // the add-1 bigram LM replayed: same bigram stream, context counts,
    // |V| over all documents, and per-occurrence micro-nat rounding
    // BEFORE the per-doc sum (integer-exact totals, one ln + one final
    // division as the only cross-engine float ops)
    "text_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), bi AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-1),
        |        i -> {'w1': t[i], 'w2': t[i+1]})) AS u
        |    FROM d WHERE len(t) >= 2)
        |), vocab AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v_size
        |  FROM (SELECT unnest(t) AS tok FROM d)
        |), model AS (
        |  SELECT w1, w2, count(*) AS c_bg FROM bi GROUP BY w1, w2
        |), ctx AS (
        |  SELECT w1, count(*) AS c_ctx FROM bi GROUP BY w1
        |), scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln((m.c_bg + 1.0) / (x.c_ctx + v.v_size)) * 1e6)
        |         AS BIGINT) AS nllm
        |  FROM bi b
        |  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |  JOIN ctx x ON b.w1 = x.w1
        |  CROSS JOIN vocab v
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(nllm) AS BIGINT) AS nll_micros,
        |  round(CAST(sum(nllm) AS DOUBLE) / (count(*) * 1e6), 6) AS avg_nll
        |FROM scored GROUP BY doc_id""".stripMargin,
    // the CCNet tercile split replayed: same bigram-LM per-doc integer
    // totals, rank key = the one IEEE division (bit-identical) with
    // doc_id tie-break, bucket cut = integer rn·3 ≤ n arithmetic
    "text_ppl_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), bi AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-1),
        |        i -> {'w1': t[i], 'w2': t[i+1]})) AS u
        |    FROM d WHERE len(t) >= 2)
        |), vocab AS (
        |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v_size
        |  FROM (SELECT unnest(t) AS tok FROM d)
        |), model AS (
        |  SELECT w1, w2, count(*) AS c_bg FROM bi GROUP BY w1, w2
        |), ctx AS (
        |  SELECT w1, count(*) AS c_ctx FROM bi GROUP BY w1
        |), scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln((m.c_bg + 1.0) / (x.c_ctx + v.v_size)) * 1e6)
        |         AS BIGINT) AS nllm
        |  FROM bi b
        |  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |  JOIN ctx x ON b.w1 = x.w1
        |  CROSS JOIN vocab v
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(nllm) AS BIGINT) AS nll_micros
        |  FROM scored GROUP BY doc_id
        |), ranked AS (
        |  SELECT p.doc_id, dd.lang,
        |    CAST(round(CAST(p.nll_micros AS DOUBLE) / p.n_bigrams)
        |         AS BIGINT) AS avg_nllm,
        |    row_number() OVER (PARTITION BY dd.lang
        |      ORDER BY CAST(p.nll_micros AS DOUBLE) / p.n_bigrams ASC,
        |               p.doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY dd.lang) AS n
        |  FROM perdoc p JOIN documents dd ON p.doc_id = dd.doc_id
        |)
        |SELECT lang,
        |  CASE WHEN rn * 3 <= n THEN 'head'
        |       WHEN rn * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs,
        |  CAST(min(avg_nllm) AS BIGINT) AS min_nllm,
        |  CAST(max(avg_nllm) AS BIGINT) AS max_nllm
        |FROM ranked GROUP BY 1, 2""".stripMargin,
    "text_token_map" ->
      """SELECT doc_id,
        |  len(list_filter(t, x -> x = 'the')) AS n_the,
        |  len(list_filter(t, x -> x = 'data')) AS n_data,
        |  len(list_distinct(t)) AS n_distinct_toks
        |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  regexp_replace(text, '[0-9]{3,}', '<NUM>', 'g') AS scrubbed,
        |  len(regexp_extract_all(text, '[0-9]{3,}')) AS n_num_runs
        |FROM documents""".stripMargin,
    "text_char_ngrams" ->
      """WITH bg AS (
        |  SELECT lang,
        |         unnest(list_transform(generate_series(1, length(text) - 1),
        |                i -> substr(text, CAST(i AS INT), 2))) AS bg
        |  FROM documents
        |), counted AS (
        |  SELECT lang, bg, count(*) AS n,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY count(*) DESC, bg) AS rank
        |  FROM bg GROUP BY lang, bg
        |)
        |SELECT lang, rank, bg, n FROM counted WHERE rank <= 5""".stripMargin,
    // the logit replayed with the same left-to-right term order, so
    // both engines produce bit-identical doubles before the round
    "text_quality_model" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ur,
         |    CAST(len(list_filter(t, x -> list_contains($stopList, x)))
         |         AS DOUBLE) / len(t) AS sr,
         |    CAST(least(len(t), 100) AS DOUBLE) / 100 AS ln_,
         |    CAST(length(text) - len(t) + 1 AS DOUBLE) / len(t) AS mtl
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t
         |        FROM documents)
         |), g AS (
         |  SELECT doc_id, ur, sr,
         |    $QmBias + ur * $QmUniq + sr * $QmStop + ln_ * $QmLen
         |      + mtl * $QmTokLen AS logit
         |  FROM f
         |)
         |SELECT doc_id, round(ur, 6) AS uniq_ratio,
         |       round(sr, 6) AS stop_ratio,
         |       round(logit, 6) AS model_logit,
         |       CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS INT) AS kept
         |FROM g""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, len(t) AS n_tokens,
         |  len(list_distinct(t)) AS n_uniq,
         |  len(list_filter(t, x -> list_contains($stopList, x))) AS n_stop,
         |  round(CAST(length(text) - len(t) + 1 AS DOUBLE) / len(t), 6)
         |    AS mean_tok_len,
         |  round(CAST(len(list_filter(t, x -> list_contains($stopList, x)))
         |             AS DOUBLE) / len(t), 6) AS stop_ratio,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS uniq_ratio,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t) * 0.5
         |    + (1.0 - CAST(len(list_filter(t, x -> list_contains($stopList, x)))
         |                  AS DOUBLE) / len(t)) * 0.3
         |    + CAST(least(len(t), 100) AS DOUBLE) / 100 * 0.2, 6) AS quality
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS t
         |      FROM documents)""".stripMargin,
    // the GD recursion replayed: a recursive CTE carries the 6dp-quantized
    // weight vector as its state row (the kmeans_full pattern); per
    // iteration the LATERAL recomputes every doc's sigmoid under the
    // current weights and aggregates the d+1 gradient sums
    "text_quality_train" -> {
      val featNames = TrainFeatureNames.map(n => s"'$n'")
        .mkString("[", ", ", "]")
      s"""$trainCteSql
         |SELECT CAST(g.i AS INT) AS feature_idx,
         |       $featNames[g.i] AS feature,
         |       fw.w[g.i] AS weight
         |FROM (SELECT w FROM iter ORDER BY r DESC LIMIT 1) fw,
         |     generate_series(1, 5) g(i)""".stripMargin
    },
    // the same GD replay, then every doc scored with the final weights —
    // per-term micro-unit rounding before the exact integer sum (the
    // BM25 parity rule; see the operator's scaladoc)
    "text_quality_score_trained" -> {
      val zf = (0 until 5).map(j =>
        s"CAST(round(x$j * fw.w[${j + 1}] * 1e6) AS BIGINT)")
        .mkString("\n         |         + ")
      s"""$trainCteSql,
         |fw AS (SELECT w FROM iter ORDER BY r DESC LIMIT 1),
         |sc AS (
         |  SELECT f.doc_id, f.y,
         |         $zf AS logit_micros
         |  FROM f CROSS JOIN fw)
         |SELECT doc_id, logit_micros,
         |       round(CAST(logit_micros AS DOUBLE) / 1e6, 6) AS trained_logit,
         |       CAST(logit_micros > 0 AS INT) AS kept_trained,
         |       CAST(y AS INT) AS is_en
         |FROM sc""".stripMargin
    },
    "text_langid" ->
      s"""WITH markers(cand_lang, marker) AS (VALUES $markerValues),
         |votes AS (
         |  SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) tk
         |  JOIN markers ON tk.tok = markers.marker
         |  GROUP BY doc_id, cand_lang
         |), best AS (
         |  SELECT doc_id, cand_lang, hits,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY hits DESC, cand_lang) AS rn
         |  FROM votes
         |)
         |SELECT d.doc_id,
         |       coalesce(b.cand_lang, 'und') AS pred_lang,
         |       coalesce(b.hits, 0) AS hits
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
        |  length(text) AS n_chars_m
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(t,
        |        tk -> CAST(concat('0x', substr(md5(tk), 1, 8)) AS BIGINT))),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_poly,
        |  list_min(list_transform(
        |    list_transform(generate_series(1, len(t) - 3),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])),
        |    s -> md5(s))) AS fp_min
        |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |WHERE len(t) >= 4""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT doc_id, rank, tok, score FROM (
        |  SELECT tf.doc_id, tf.tok,
        |         round(tf.tf * ln(n.n_docs / df.df), 6) AS score,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY round(tf.tf * ln(n.n_docs / df.df), 6) DESC, tf.tok)
        |           AS rank
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |WHERE rank <= 3""".stripMargin,
    // the native-operator variant: identical row set minus the rank
    // column — the oracle proves the heap cut loses/keeps exactly the
    // window lowering's rows
    "text_keywords_native" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT doc_id, tok, score FROM (
        |  SELECT tf.doc_id, tf.tok,
        |         round(tf.tf * ln(n.n_docs / df.df), 6) AS score,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY round(tf.tf * ln(n.n_docs / df.df), 6) DESC, tf.tok)
        |           AS rank
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |WHERE rank <= 3""".stripMargin,
    // exact integer counts from the same bigram relation, one rounded
    // log; unigram counts over BOTH bigram slots (the engine's rule)
    "text_collocations" ->
      """WITH bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |       LATERAL (SELECT unnest(generate_series(1,
        |                  len(toks) - 1)) AS i) g
        |  WHERE len(toks) >= 2
        |), c12 AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
        |  HAVING count(*) >= 3
        |), cw AS (
        |  SELECT w, count(*) AS cw FROM (
        |    SELECT w1 AS w FROM bi UNION ALL SELECT w2 AS w FROM bi)
        |  GROUP BY w
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(ln(c12.c12 * n.nb / (a.cw * b.cw)), 6) AS pmi
        |FROM c12
        |JOIN cw a ON a.w = c12.w1
        |JOIN cw b ON b.w = c12.w2
        |CROSS JOIN n
        |ORDER BY pmi DESC, c12.w1, c12.w2
        |LIMIT 20""".stripMargin)
}
